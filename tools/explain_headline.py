"""Per-headline-query measurement: explain("formatted") capture + timings.

Guide §1: isolate each query with the noop sink (times the computation, not
the sink) AND with .count() (the frozen bench's action, whose plan can prune
columns). Writes plans to plans/r06/<query>_<tag>.txt when --plans TAG is
given. Not part of the frozen bench contract.

Usage: python tools/explain_headline.py [--plans TAG] [query ...]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "doc_term_freqs", "term_df", "bm25_topk", "ingest_normalize",
    "pricing_summary", "revenue_by_nation", "top_orders_per_cust",
    "events_hourly", "phrase_search", "language_id", "bool_search",
    "span_near_search", "percolate_matches", "pack_sequences",
    "multi_index_dfs", "bpe_tokenize",
]


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    args = sys.argv[1:]
    plans_tag = None
    if args and args[0] == "--plans":
        plans_tag = args[1]
        args = args[2:]
    names = args or HEADLINE + ["index_exact_query", "index_wand_query"]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("EXPLAIN_REPS", "3"))

    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans import driver_queries as dq
    from dp_search_data_importer_spark.plans import query as qp
    from dp_search_data_importer_spark.plans.build_index import build_index
    from dp_search_data_importer_spark.session import get_spark, local_df
    from dp_search_data_importer_spark.sources.repo_files import (
        synthetic_repo_files,
    )

    spark = get_spark(master=f"local[{cpus}]", app_name="explain_headline",
                      shuffle_partitions=cpus)
    for t in ("lineitem", "orders", "customer", "nation", "region",
              "documents", "events"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).count()
    spark.range(0, cpus * 4, 1, cpus * 4).mapInPandas(
        lambda it: it, "id long").count()

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)

    idx_dir = None
    need_idx = [n for n in names if n.startswith("index_")]
    if need_idx:
        cfg = EngineConfig(n_shards=max(8, cpus // 2))
        corpus = synthetic_repo_files(spark, n_docs=12000, seed=42)
        idx_dir = tempfile.mkdtemp(prefix="explain_idx_")
        build_index(spark, corpus, idx_dir, cfg, resume=False)
        queries = local_df(spark, dq.QUERY_SET,
                           "query_id long, query_text string")

    out: dict[str, dict] = {}
    for name in names:
        if name.startswith("index_"):
            # both bench leaves run the exact path over the postings rows
            # (wand_topk is exact_topk)
            mk = lambda: qp.exact_topk(spark, idx_dir, queries,
                                       EngineConfig(n_shards=max(8, cpus // 2)),
                                       10)
        else:
            mk = lambda: dq.QUERIES[name](spark, sf_dir)
        spark.sparkContext.setJobDescription(name)
        t_builds, t_counts, t_noops = [], [], []
        for _ in range(reps):
            t0 = time.time()
            df = mk()
            t_builds.append(time.time() - t0)
            t0 = time.time()
            df.count()
            t_counts.append(time.time() - t0)
            df = mk()
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t_noops.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        if plans_tag:
            with open(os.path.join(plans_dir, f"{name}_{plans_tag}.txt"),
                      "w") as f:
                f.write(_explain_str(mk()))
        out[name] = {"build_min": round(min(t_builds), 3),
                     "count_min": round(min(t_counts), 3),
                     "noop_min": round(min(t_noops), 3),
                     "count_all": [round(t, 3) for t in t_counts]}
        print(json.dumps({name: out[name]}), flush=True)

    if idx_dir:
        import shutil
        shutil.rmtree(idx_dir, ignore_errors=True)
    print("TOTAL_count_min",
          round(sum(v["count_min"] for v in out.values()), 3))


if __name__ == "__main__":
    main()
