"""Ingest cost against base-index size.

Upserts 40-row micro-batches (20 edits of existing keys, 20 new keys) into
base indexes of 500, 5k and 50k docs (``sources.repo_files`` synthetic
corpus, 60–600 words a doc, ``build_index`` defaults: 8 shards). Each size
runs in its own fresh Spark process: build the base, then upsert two
batches through ``plans.update_index.upsert_docs``. The first batch is the
first upsert of a fresh JVM (cold, as in perfbench's ``ingest``); the
second is warm.

For every batch it reports the wall time, the Spark jobs it ran, and the
wall time of each staging step of ``plans.update_index``: the batch
freeze, postings, docs, term_df, manifest and commit. The postings, docs
and term_df steps run at the same time, so the steps add up to more than
the wall time.

    python tools/bench_ingest_scaling.py [--sizes 500,5000,50000] [--cpus 4]

Prints one ``RESULT`` JSON line per size, then a table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STEPS = ("_freeze", "_stage_postings", "_stage_docs", "_stage_term_df",
         "_stage_manifest", "_commit")
BATCH_ROWS = 40


def _batch(rows, b: int):
    """Batch ``b``: new content for 20 existing keys plus 20 new keys."""
    half = BATCH_ROWS // 2
    edits = [(r["repo"], r["path"], r["commit"], r["lang"],
              f"scaleedit{b} " + r["content"][::-1])
             for r in rows[b * half:(b + 1) * half]]
    added = [("scale", f"new/b{b}_{i}.py", "c0", "py",
              f"scalenew{b} " + r["content"])
             for i, r in enumerate(rows[b * half:(b + 1) * half])]
    return edits + added


def run_one(n_docs: int, cpus: int, batches: int) -> dict:
    sys.path.insert(0, REPO)
    import pandas as pd

    from dp_search_data_importer_spark.plans import update_index as ui
    from dp_search_data_importer_spark.plans.build_index import build_index
    from dp_search_data_importer_spark.session import get_spark
    from dp_search_data_importer_spark.sources.repo_files import (
        REPO_FILES_SCHEMA,
        synthetic_repo_files,
    )

    spark = get_spark(master=f"local[{cpus}]")
    sc = spark.sparkContext
    times: dict[str, float] = {}

    def timed(name, fn):
        def wrapper(*a, **k):
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                times[name] = times.get(name, 0.0) + time.perf_counter() - t
        return wrapper

    for name in STEPS:
        if hasattr(ui, name):  # an older engine may lack a step
            setattr(ui, name, timed(name, getattr(ui, name)))

    tmp = tempfile.mkdtemp(prefix="ingest_scaling_")
    try:
        src, idx = os.path.join(tmp, "corpus"), os.path.join(tmp, "index")
        synthetic_repo_files(spark, n_docs=n_docs, seed=42, min_words=60,
                             max_words=600).write.parquet(src)
        base = spark.read.parquet(src)
        t0 = time.perf_counter()
        build_index(spark, base, idx, resume=False)
        build_s = time.perf_counter() - t0
        rows = base.orderBy("path").limit(BATCH_ROWS // 2 * batches) \
            .collect()

        out = []
        for b in range(batches):
            docs = spark.createDataFrame(pd.DataFrame(
                _batch(rows, b), columns=base.columns), REPO_FILES_SCHEMA)
            times.clear()
            group = f"ingest-scaling-{b}"
            sc.setJobGroup(group, "one micro-batch")
            t0 = time.perf_counter()
            try:
                acc = ui.upsert_docs(spark, idx, docs)
            finally:
                sc.setJobGroup(None, None)
            out.append({
                "wall_s": round(time.perf_counter() - t0, 3),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "steps_s": {k.strip("_").removeprefix("stage_"):
                            round(v, 3) for k, v in times.items()},
                "replaced": acc["replaced"], "added": acc["added"],
                "affected_shards": len(acc["affected_shards"]),
            })
        return {"base_docs": n_docs, "cpus": cpus,
                "build_s": round(build_s, 2), "batches": out}
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sizes", default="500,5000,50000")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    ap.add_argument("--batches", type=int, default=2)
    ap.add_argument("--one", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.one:
        print("RESULT " + json.dumps(run_one(args.one, args.cpus,
                                             args.batches)), flush=True)
        return

    results = []
    for n in (int(s) for s in args.sizes.split(",")):
        p = subprocess.run(
            [sys.executable, __file__, "--one", str(n), "--cpus",
             str(args.cpus), "--batches", str(args.batches)],
            capture_output=True, text=True, timeout=3600)
        line = next((ln for ln in p.stdout.splitlines()
                     if ln.startswith("RESULT ")), None)
        if line is None:
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
            raise SystemExit(f"no result for {n} base docs")
        print(line, flush=True)
        results.append(json.loads(line[len("RESULT "):]))

    steps = [s.strip("_").removeprefix("stage_") for s in STEPS]
    print(f"{'base':>7} {'batch':>5} {'wall_s':>7} {'jobs':>4} "
          + " ".join(f"{s:>9}" for s in steps))
    for r in results:
        for b, x in enumerate(r["batches"]):
            print(f"{r['base_docs']:>7} {b:>5} {x['wall_s']:>7.2f} "
                  f"{x['jobs']:>4} " + " ".join(
                      f"{x['steps_s'].get(s, 0.0):>9.2f}" for s in steps))


if __name__ == "__main__":
    main()
