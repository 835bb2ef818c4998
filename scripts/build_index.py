"""spark-submit entry point: build the index from a repo_files table.

    zip -r dp_search_data_importer_spark.zip dp_search_data_importer_spark
    spark-submit --py-files dp_search_data_importer_spark.zip \
        scripts/build_index.py --source /path/to/repo_files_parquet \
        --out /path/to/index --shards 1024 --waves 8

At 10^12-file scale: ``--source`` is the Iceberg table
(``--source-format iceberg``), shards sized so each holds O(10^8) docs,
waves sized so a wave is a few minutes of cluster work (the resume unit).
Resume after any failure by re-running the identical command.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", default=None,
                    help="repo_files table path (required unless --synthetic-docs)")
    ap.add_argument("--source-format", default="parquet",
                    choices=["parquet", "iceberg"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--waves", type=int, default=2)
    ap.add_argument("--simple-tokenizer", action="store_true",
                    help="plain analyzer instead of code-aware")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--positions", action="store_true",
                    help="positional index (enables match_phrase/slop)")
    ap.add_argument("--synthetic-docs", type=int, default=0,
                    help="ignore --source; generate N synthetic docs (demo)")
    args = ap.parse_args()
    if not args.source and not args.synthetic_docs:
        ap.error("--source is required unless --synthetic-docs is given")

    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans.build_index import build_index
    from dp_search_data_importer_spark.session import get_spark

    spark = get_spark(app_name="build-index")
    if args.synthetic_docs:
        from dp_search_data_importer_spark.sources.repo_files import (
            synthetic_repo_files,
        )

        src = synthetic_repo_files(spark, n_docs=args.synthetic_docs)
    elif args.source_format == "iceberg":
        src = spark.read.format("iceberg").load(args.source)
    else:
        src = spark.read.parquet(args.source)

    cfg = EngineConfig(n_shards=args.shards)
    stats = build_index(
        spark, src, args.out, cfg,
        code_aware=not args.simple_tokenizer,
        waves=args.waves, resume=not args.no_resume, verbose=True,
        positions=args.positions,
    )
    print(stats)


if __name__ == "__main__":
    main()
