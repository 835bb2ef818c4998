"""spark-submit entry point: index administration (the ES ops surface).

    spark-submit --py-files dp_search_data_importer_spark.zip \
        scripts/admin.py <command> ...

Commands (each maps 1:1 onto a library op — see the module docstrings
for semantics and crash-safety):

  delete-by-query  --index DIR --query "terms" [--operator or|and]
  update-by-query  --index DIR --query "terms" --set col=value ...
                   [--set-script col='painless' ] [--operator or|and]
  reindex          --src DIR --dst DIR [--shards N]
                   [--query "terms" [--operator or|and]]
  alias-create     --alias DIR [--max-docs N] [--plain-analyzer]
  alias-write      --alias DIR --parquet FILE  (batch of repo files)
  alias-search     --alias DIR --query "terms" [--k N] [--mode qtf|dfs]
  search-indices   --index DIR [--index DIR ...] --query "terms"
                   [--k N] [--mode qtf|dfs]
  scroll           --index DIR --query "terms" --slices N [--slice I]
  explain          --index DIR --query "terms" --doc-id ID
  snapshot         --index DIR --snapshots DIR --name NAME
  snapshot-verify  --snapshots DIR --name NAME
  restore          --snapshots DIR --name NAME --dst DIR

Every command prints one JSON line (accounting or row dump) so the
output is scriptable from an orchestrator.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MODES = {"qtf": "query_then_fetch", "dfs": "dfs_query_then_fetch"}


def _spark():
    from dp_search_data_importer_spark.session import get_spark

    return get_spark(app_name="admin")


def _queries_df(spark, text):
    return spark.createDataFrame([(1, text)],
                                 "query_id long, query_text string")


def _emit(obj) -> None:
    print(json.dumps(obj, sort_keys=True, default=str))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="admin.py")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("delete-by-query")
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("--operator", default="or", choices=["or", "and"])

    p = sub.add_parser("update-by-query")
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("--operator", default="or", choices=["or", "and"])
    p.add_argument("--set", action="append", default=[],
                   metavar="col=value")
    p.add_argument("--set-script", action="append", default=[],
                   metavar="col=painless")

    p = sub.add_parser("reindex")
    p.add_argument("--src", required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--shards", type=int)
    p.add_argument("--query")
    p.add_argument("--operator", default="or", choices=["or", "and"])

    p = sub.add_parser("alias-create")
    p.add_argument("--alias", required=True)
    p.add_argument("--max-docs", type=int, default=1_000_000)
    p.add_argument("--plain-analyzer", action="store_true")

    p = sub.add_parser("alias-write")
    p.add_argument("--alias", required=True)
    p.add_argument("--parquet", required=True)

    for name in ("alias-search", "search-indices"):
        p = sub.add_parser(name)
        if name == "alias-search":
            p.add_argument("--alias", required=True)
        else:
            p.add_argument("--index", action="append", required=True)
        p.add_argument("--query", required=True)
        p.add_argument("--k", type=int, default=10)
        p.add_argument("--mode", default="dfs", choices=list(_MODES))

    p = sub.add_parser("scroll")
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("--slices", type=int, required=True)
    p.add_argument("--slice", type=int, help="print only this slice")

    p = sub.add_parser("explain")
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("--doc-id", type=int, required=True)

    p = sub.add_parser("snapshot")
    p.add_argument("--index", required=True)
    p.add_argument("--snapshots", required=True)
    p.add_argument("--name", required=True)

    p = sub.add_parser("snapshot-verify")
    p.add_argument("--snapshots", required=True)
    p.add_argument("--name", required=True)

    p = sub.add_parser("restore")
    p.add_argument("--snapshots", required=True)
    p.add_argument("--name", required=True)
    p.add_argument("--dst", required=True)

    a = ap.parse_args(argv)

    if a.cmd == "snapshot-verify":  # no Spark needed
        from dp_search_data_importer_spark.plans.snapshot import (
            verify_snapshot,
        )

        _emit(verify_snapshot(a.snapshots, a.name))
        return 0
    if a.cmd == "restore":
        from dp_search_data_importer_spark.plans.snapshot import restore

        _emit(restore(a.snapshots, a.name, a.dst))
        return 0
    if a.cmd == "alias-create":
        from dp_search_data_importer_spark.plans.rollover import create_alias

        _emit(create_alias(a.alias, max_docs=a.max_docs,
                           code_aware=not a.plain_analyzer))
        return 0

    spark = _spark()
    if a.cmd == "delete-by-query":
        from dp_search_data_importer_spark.plans.update_index import (
            delete_by_query,
        )

        _emit(delete_by_query(spark, a.index, a.query, operator=a.operator))
    elif a.cmd == "update-by-query":
        from dp_search_data_importer_spark.plans.update_index import (
            update_by_query,
        )

        assigns: dict = {}
        for kv in a.set:
            col, _, val = kv.partition("=")
            assigns[col] = val
        for kv in a.set_script:
            col, _, src = kv.partition("=")
            assigns[col] = {"script": src}
        _emit(update_by_query(spark, a.index, a.query, assigns,
                              operator=a.operator))
    elif a.cmd == "reindex":
        from dp_search_data_importer_spark.plans.reindex import reindex

        _emit(reindex(spark, a.src, a.dst, n_shards=a.shards,
                      query=a.query, operator=a.operator))
    elif a.cmd == "alias-write":
        from dp_search_data_importer_spark.plans.rollover import write_batch

        _emit(write_batch(spark, a.alias, spark.read.parquet(a.parquet)))
    elif a.cmd == "alias-search":
        from dp_search_data_importer_spark.plans.rollover import search_alias

        rows = search_alias(spark, a.alias, _queries_df(spark, a.query),
                            k=a.k, mode=_MODES[a.mode]).collect()
        _emit([r.asDict() for r in rows])
    elif a.cmd == "search-indices":
        from dp_search_data_importer_spark.plans.multi_index import (
            search_indices,
        )

        rows = search_indices(spark, a.index, _queries_df(spark, a.query),
                              k=a.k, mode=_MODES[a.mode]).collect()
        _emit([r.asDict() for r in rows])
    elif a.cmd == "scroll":
        from dp_search_data_importer_spark.plans.query import sliced_scroll

        df = sliced_scroll(spark, a.index, a.query, a.slices)
        if a.slice is not None:
            from pyspark.sql import functions as F

            df = df.filter(F.col("slice_id") == a.slice)
        _emit([r.asDict() for r in df.collect()])
    elif a.cmd == "explain":
        from dp_search_data_importer_spark.plans.query import explain_score

        rows = explain_score(spark, a.index, a.query, a.doc_id).collect()
        _emit([r.asDict() for r in rows])
    elif a.cmd == "snapshot":
        from dp_search_data_importer_spark.plans.snapshot import snapshot

        _emit(snapshot(a.index, a.snapshots, a.name))
    return 0


if __name__ == "__main__":
    sys.exit(main())
