"""spark-submit entry point: queries over a built index.

    spark-submit --py-files dp_search_data_importer_spark.zip \
        scripts/query.py --index /path/to/index --k 10 \
        --query "import def" --query "getUserName parse"

Query families (mirroring the library's full ES-parity surface):

- default: OR-semantics BM25 (the exact Catalyst scorer).
- ``--phrase "exact phrase"`` [``--slop N``]: match_phrase over the
  positional index (slop = ordered sloppy matching).
- ``--must/--should/--must-not`` [``--msm N``]: one ES bool compound
  query (terms space-split; composes with ``--filter-lang``).
- ``--synonyms '{"term": ["alt", ...]}'``: query-time synonym expansion
  for the ``--query`` terms.
- ``--filter-lang LANG``: filter context (does not affect scores).
- ``--pages N``: fetch N pages of size k via search_after cursors.
- ``--body '<json>'`` / ``--body-file f.json``: a FULL ES ``_search``
  request body executed against the stored index (``search_indexed``:
  match/bool/expansion/phrase/span/intervals queries, sort,
  search_after, the aggregation family, suggest) — hits print like the
  other families, aggregation frames print per name.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", default=[])
    ap.add_argument("--phrase", action="append", default=[])
    ap.add_argument("--slop", type=int, default=0)
    ap.add_argument("--must", default=None, help="space-split must terms")
    ap.add_argument("--should", default=None)
    ap.add_argument("--must-not", dest="must_not", default=None)
    ap.add_argument("--msm", type=int, default=None,
                    help="minimum_should_match")
    ap.add_argument("--synonyms", default=None,
                    help='JSON dict: {"term": ["synonym", ...]}')
    ap.add_argument("--filter-lang", dest="filter_lang", default=None)
    ap.add_argument("--pages", type=int, default=1)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--body", default=None,
                    help="ES _search JSON body (stored-index execution)")
    ap.add_argument("--body-file", dest="body_file", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.operators.bm25 import (
        BoolSpec,
        page_cursor,
    )
    from dp_search_data_importer_spark.plans import query as qp
    from dp_search_data_importer_spark.session import get_spark, local_df

    spark = get_spark(app_name="bm25-query")
    cfg = EngineConfig()
    doc_filter = (F.col("lang") == args.filter_lang
                  if args.filter_lang else None)

    if args.body or args.body_file:
        from dp_search_data_importer_spark.plans.es_dsl import (
            search_indexed,
        )

        body = json.loads(args.body if args.body
                          else open(args.body_file).read())
        res = search_indexed(spark, args.index, body, cfg)
        hits = res.hits
        if "score" not in hits.columns:  # field-sorted bodies
            hits = hits.withColumn("score", F.lit(0.0))
        out = qp.resolve_docs(
            spark, args.index,
            hits.select("doc_id", "score").withColumn(
                "query_id", F.lit(1)))
        for r in out.orderBy(out.score.desc()).collect():
            print(f"hit\t{r.score:10.4f}\t{r.repo}/{r.path}"
                  f"@{r.commit[:8]}")
        for name, frame in res.aggregations.items():
            for r in frame.collect():
                print(f"agg:{name}\t" + "\t".join(
                    str(v) for v in r.asDict().values()))
        for name, frame in (res.suggestions or {}).items():
            for r in frame.collect():
                print(f"suggest:{name}\t" + "\t".join(
                    str(v) for v in r.asDict().values()))
        return

    if args.must or args.should or args.must_not:
        spec = BoolSpec(1, must=(args.must or "").split(),
                        should=(args.should or "").split(),
                        must_not=(args.must_not or "").split(),
                        minimum_should_match=args.msm)
        res = qp.bool_topk_indexed(spark, args.index, [spec], cfg, args.k,
                                   doc_filter=doc_filter)
        pages = [res]
    elif args.phrase:
        from dp_search_data_importer_spark.operators.phrase import phrase_topk

        res = phrase_topk(spark, args.index,
                          list(enumerate(args.phrase, 1)), cfg, args.k,
                          slop=args.slop)
        pages = [res]
    elif args.synonyms:
        res = qp.synonym_topk(spark, args.index,
                              list(enumerate(args.query, 1)),
                              json.loads(args.synonyms), cfg, args.k)
        pages = [res]
    else:
        if not args.query:
            ap.error("need --query, --phrase, or bool clauses")
        queries = local_df(spark, list(enumerate(args.query, 1)),
                           "query_id long, query_text string")
        if doc_filter is not None:
            res = qp.filtered_topk(spark, args.index, queries, doc_filter,
                                   cfg, args.k)
            pages = [res]
        elif args.pages > 1:
            # cursor pagination runs on the exact path (pushed predicate)
            pages = []
            cursor = None
            for _ in range(args.pages):
                page = qp.exact_topk(spark, args.index, queries, cfg,
                                     args.k, after=cursor)
                rows = page.collect()
                if not rows:
                    break
                pages.append(local_df(
                    spark, [(r["query_id"], r["doc_id"], r["score"])
                            for r in rows],
                    "query_id long, doc_id long, score double"))
                cursor = {**(cursor or {}), **page_cursor(rows)}
        else:
            pages = [qp.exact_topk(spark, args.index, queries, cfg, args.k)]

    for page_no, res in enumerate(pages, 1):
        out = qp.resolve_docs(spark, args.index, res)
        for r in out.orderBy("query_id", out.score.desc()).collect():
            tag = f"q{r.query_id}" + (f" p{page_no}" if len(pages) > 1
                                      else "")
            print(f"{tag}\t{r.score:10.4f}\t{r.repo}/{r.path}"
                  f"@{r.commit[:8]}")


if __name__ == "__main__":
    main()
