"""Dump the physical plans of the engine's hot paths (judge artifact +
regression check for tests/test_plans.py).

Each stored ``_search`` class (match, match with operator and, bool,
prefix, match + terms agg), and the scan-class ``match`` of
``EsSearchPlanner`` (plain, operator and, minimum_should_match), is
printed as the compiled Spark SQL statement(s) its plan was built from —
the text and its parameter marker names, never their values — next to
the physical plan.

What to look for (SURVEY.md §4):
- postings scan: ``PushedFilters: [In(term, …)]`` — term pruning reaches
  parquet; ``ReadSchema`` excludes unneeded block columns.
- stored BM25: no join at all — the query terms, their df (looked up on
  the driver) and the corpus stats are plan literals, so the postings
  side never shuffles or broadcasts for a join.
- docs scan at query time: only the winner-resolution broadcast join reads
  it, with column pruning (no content column anywhere at query time).
- tf/df aggs: partial_ hash aggregates before the exchange (map-side
  combine).
- scan-class match: one scan and one tokenize feed one exchange of
  candidate rows; the keyless df aggregate reads it again as a
  ``ReusedExchange`` (no term-keyed exchange, no window).

Usage: python tools/explain_plans.py [index_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain_str(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


STORED_BODIES = {
    "match": {"query": {"match": {"text": "import def"}}},
    "match_and": {"query": {"match": {"text": {
        "query": "import def", "operator": "and"}}}},
    "bool": {"query": {"bool": {
        "must": [{"term": {"text": "import"}}],
        "should": [{"term": {"text": "def"}}],
        "must_not": [{"term": {"text": "zzznope"}}]}}},
    "prefix": {"query": {"prefix": {"text": "imp"}}},
    "aggs": {"query": {"match": {"text": "import def"}},
             "aggs": {"langs": {"terms": {"field": "lang"}}}},
}


SCAN_BODIES = {
    "match": {"query": {"match": {"content": "import def"}}},
    "match_and": {"query": {"match": {"content": {
        "query": "import def", "operator": "and"}}}},
    "match_msm": {"query": {"match": {"content": {
        "query": "import def class", "minimum_should_match": 2}}}},
}


def compiled_statements(spark, search):
    """Run ``search()`` while recording every ``spark.sql`` statement it
    compiles: ([(text, parameter names)], the SearchResult)."""
    from dp_search_data_importer_spark.session import _PLAN_CACHE

    _PLAN_CACHE.clear()  # a cached plan would compile nothing
    seen = []
    sql = spark.sql

    def recording(text, args=None, **frames):
        seen.append((text, sorted(args or {})))
        return sql(text, args, **frames)

    spark.sql = recording
    try:
        res = search()
    finally:
        del spark.sql
    return seen, res


def print_statements(label: str, statements, res) -> None:
    print("=" * 70)
    print(f"== {label}: {len(statements)} compiled statement(s)")
    for text, names in statements:
        print(f"-- parameters: {', '.join(names) or '(none)'}")
        print(text)
    print("-- physical plan of the hits")
    print(explain_str(res.hits))


def main() -> None:
    from pyspark.sql import functions as F

    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans import query as qp
    from dp_search_data_importer_spark.plans.es_dsl import (
        EsSearchPlanner,
        search_indexed,
    )
    from dp_search_data_importer_spark.plans.build_index import build_index
    from dp_search_data_importer_spark.session import get_spark, local_df
    from dp_search_data_importer_spark.sources.repo_files import synthetic_repo_files

    spark = get_spark(master="local[8]")
    cfg = EngineConfig(n_shards=8)
    if len(sys.argv) > 1 and os.path.exists(os.path.join(sys.argv[1], "stats.json")):
        out = sys.argv[1]
    else:
        out = tempfile.mkdtemp(prefix="plans_idx_")
        build_index(spark, synthetic_repo_files(spark, 500, seed=42), out, cfg,
                    resume=False)

    queries = local_df(spark, [(1, "import def"), (2, "tokenScore merge")],
                       "query_id long, query_text string")

    for kind, body in STORED_BODIES.items():
        print_statements(f"stored _search class {kind!r}",
                         *compiled_statements(spark, lambda: search_indexed(
                             spark, out, body, cfg)))

    planner = EsSearchPlanner(
        spark, synthetic_repo_files(spark, 500, seed=42).withColumn(
            "doc_id", F.xxhash64("repo", "path", "commit")),
        cfg, text_fields=("content",))
    planner.stats_row("content")  # the one memoized stats job
    for kind, body in SCAN_BODIES.items():
        statements, res = compiled_statements(
            spark, lambda: planner.search(body))
        res.hits.collect()  # the executed plan shows the reused exchange
        print_statements(f"scan-class (EsSearchPlanner) {kind!r}",
                         statements, res)

    print("=" * 70)
    print("== exact BM25 over the index")
    print(explain_str(qp.exact_topk(spark, out, queries, cfg, 10)))
    print("=" * 70)
    print("== term-pruned postings rows scan")
    print(explain_str(qp.decompress_blocks(
        qp.load_blocks(spark, out, ["import", "def"]))))
    print("=" * 70)
    print("== winner resolution (broadcast)")
    res = qp.exact_topk(spark, out, queries, cfg, 10)
    print(explain_str(qp.resolve_docs(spark, out, res)))

    # round 4: the composed ES query surface
    from dp_search_data_importer_spark.operators.bm25 import BoolSpec

    print("=" * 70)
    print("== ES bool (must+should+must_not) over the index "
          "(broadcast clause join, single agg)")
    spec = [BoolSpec(1, must=["import"], should=["merge"],
                     must_not=["zzz"])]
    print(explain_str(qp.bool_topk_indexed(spark, out, spec, cfg, 10)))
    print("=" * 70)
    print("== search_after page 2 (pushed cursor predicate, no offset)")
    print(explain_str(qp.exact_topk(spark, out, queries, cfg, 10,
                                    after={1: (1.5, 42)})))

    # round 5 (late): span chains and percolation
    from dp_search_data_importer_spark.operators.percolate import (
        percolate_batch,
    )
    from dp_search_data_importer_spark.operators.phrase import (
        doc_positions,
    )
    from dp_search_data_importer_spark.operators.spans import (
        span_matches_batch,
    )

    docs = synthetic_repo_files(spark, 500, seed=42).withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit"))
    pos = doc_positions(docs, code_aware=True, text_col="content")
    print("=" * 70)
    print("== span_near chain (ONE broadcast slot join + one agg + "
          "Catalyst fold — no per-clause jobs)")
    print(explain_str(span_matches_batch(
        pos, [(1, [["import"], ["def", "class"]], 3, None)])))
    print("=" * 70)
    print("== percolate (queries inverted by term: one term-keyed "
          "join + one agg, no cartesian)")
    pq = local_df(spark, [(1, "match_all", ["import", "def"]),
                          (2, "phrase", ["import", "def"])],
                  "query_id long, kind string, terms array<string>")
    print(explain_str(percolate_batch(pq, pos)))


if __name__ == "__main__":
    main()
