"""Stored-index query latency at scale: the exact path over the postings
rows of a 120k-doc index, per-query latencies + p50/p95, and the bytes
the postings take on disk.

The index is built once and cached under the temp dir (keyed by
n_docs/shards and the postings format); each query runs as its own job so
the numbers are per-query latencies, not one batched fan-out, and the
plan cache is cleared before each, so a repeat plans and shuffles anew.
Results land in BENCH/rows_<n>k.json. The block-max WAND kernel this tool
once measured against the exact path is gone (it measured 0.69–1.09× of
exact, BENCH/wand_120k.json); ``wand_topk`` is now the exact path.

Run:  taskset -c 0-(N-1) python tools/bench_wand.py [n_docs] [cpus] [reps] [bursty]

``bursty=1`` uses the heavy-tail/bursty corpus mode (high tf/dl
variance).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERY_SET = [
    (1, "hash join merge"),
    (2, "window agg sort"),
    (3, "spark stream batch"),
    (4, "slow query scan"),
    (5, "the"),                      # single hot term
    (6, "import def"),               # two hot terms
    (7, "getUserName parseData"),    # code-aware split terms
    (8, "customer order line value"),
]


def _p(series: list[float], q: float) -> float:
    s = sorted(series)
    i = min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))
    return s[i]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 120000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    bursty = bool(int(sys.argv[4])) if len(sys.argv) > 4 else False

    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans import query as qp
    from dp_search_data_importer_spark.plans.build_index import build_index
    from dp_search_data_importer_spark.session import (
        _PLAN_CACHE,
        get_spark,
        local_df,
    )
    from dp_search_data_importer_spark.sources.repo_files import (
        synthetic_repo_files,
    )

    cfg = EngineConfig(n_shards=16)
    spark = get_spark(master=f"local[{cpus}]", app_name="bench_wand",
                      shuffle_partitions=cpus)
    tag = "b" if bursty else ""
    out = os.path.join(tempfile.gettempdir(),
                       f"rows_idx_{n_docs}_{cfg.n_shards}{tag}")
    t0 = time.time()
    src = os.path.join(tempfile.gettempdir(), f"tok_corpus_{n_docs}{tag}")
    if os.path.exists(os.path.join(src, "_SUCCESS")):
        corpus = spark.read.parquet(src)
    else:
        synthetic_repo_files(spark, n_docs=n_docs, seed=42,
                             num_partitions=128, bursty=bursty
                             ).write.mode("overwrite").parquet(src)
        corpus = spark.read.parquet(src)
    stats = build_index(spark, corpus, out, cfg, resume=True)
    build_sec = round(time.time() - t0, 1)
    assert stats["n_docs"] == n_docs, stats["n_docs"]
    postings_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(os.path.join(out, "postings"))
        for f in fs if f.endswith(".parquet"))

    per_query: dict[str, dict] = {}
    for qid, qtext in QUERY_SET:
        qdf = local_df(spark, [(qid, qtext)], "query_id long, query_text string")
        ts = []
        for _ in range(reps):
            # a cached plan would re-run with its shuffle output reused
            _PLAN_CACHE.clear()
            t0 = time.time()
            qp.exact_topk(spark, out, qdf, cfg, 10).collect()
            ts.append(time.time() - t0)
        per_query[qtext] = {"exact_sec": round(min(ts), 3)}
        print(f"{qtext:28s} exact={min(ts):6.2f}s", flush=True)

    ex = [v["exact_sec"] for v in per_query.values()]
    result = {
        "n_docs": n_docs, "cpus": cpus, "n_shards": cfg.n_shards,
        "bursty": bursty,
        "build_sec": build_sec,
        "postings_bytes": postings_bytes,
        "exact_p50": _p(ex, 0.5), "exact_p95": _p(ex, 0.95),
        "total_exact": round(sum(ex), 2),
        "per_query": per_query,
    }
    print(json.dumps(result))
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH",
            f"rows_{n_docs // 1000}k{'_bursty' if bursty else ''}.json"), "w") as f:
        json.dump(result, f, indent=2, sort_keys=True)


if __name__ == "__main__":
    main()
