"""Per-partition checkpoint manifest (north_rule: resumable build with
per-partition lineage + metrics).

Analogue of the reference's commit semantics: the Kafka consumer commits
offsets only after a batch is fully handled (at-least-once,
``/root/reference/handler/handler.go`` returns error → no commit), and the
write is an idempotent keyed upsert so redelivery is safe. Here the unit of
commit is an index *shard wave*: a wave's shards are built deterministically,
written, verified by read-back, and only then recorded in the manifest. On
restart, completed shards are skipped (anti-join against the manifest) and the
deterministic build makes re-execution of incomplete waves idempotent —
the same effectively-once result.

Metrics mirror A9's accounting (``handler/handler.go:96-128`` counts
documents_received / documents_inserted): per shard we record docs, postings
and distinct terms, plus an order-independent content fingerprint (bit_xor
of postings-row hashes) used by the kill-and-resume identity test.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = ("shard int, n_docs long, n_postings long, "
                   "content_fingerprint long, n_terms long")
# stats.json records the postings layout it was written with; an index
# without this record holds an older layout and is refused, never read
# as null columns
POSTINGS_FORMAT = "rows"


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    p = manifest_path(out_dir)
    if not os.path.exists(p) or not any(
        f.endswith(".parquet") for f in os.listdir(p)
    ):
        return None
    return spark.read.schema(MANIFEST_SCHEMA).parquet(p)


def completed_shards(spark: SparkSession, out_dir: str) -> set[int]:
    m = read_manifest(spark, out_dir)
    if m is None:
        return set()
    return {r["shard"] for r in m.select("shard").distinct().collect()}


def shard_metrics(rows: DataFrame) -> DataFrame:
    """Aggregate written postings rows into per-shard manifest rows. Runs on
    the *read-back* of what landed on disk, so the manifest certifies disk
    state, not intent."""
    # xxhash64 skips null inputs, so a position-free index hashes
    # (term, doc_id, tf, dl) and a positional one certifies positions too
    row_hash = F.xxhash64("term", "doc_id", "tf", "dl", "positions")
    return rows.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.bit_xor(row_hash).alias("content_fingerprint"),
        F.count_distinct("term").alias("n_terms"),
    )


def manifest_rows(spark: SparkSession, postings_dir: str,
                  shard_docs: dict[int, int]) -> DataFrame:
    """Manifest rows (``MANIFEST_SCHEMA``) for the shards keyed in
    ``shard_docs``, from a read-back of the postings under ``postings_dir``;
    each row's ``n_docs`` is that shard's doc count. A shard with no
    postings gets no row, as its build emits none. The rows are read with
    their known schema, so the read-back runs no schema-inference job."""
    from dp_search_data_importer_spark.plans.build_index import (
        POSTINGS_SCHEMA,
    )

    written = spark.read.schema(POSTINGS_SCHEMA).parquet(postings_dir).filter(
        F.col("shard").isin(list(shard_docs)))
    n_docs = F.coalesce(
        *[F.when(F.col("shard") == s, F.lit(int(n)))
          for s, n in sorted(shard_docs.items())],
        F.lit(0),
    )
    return shard_metrics(written).select(
        "shard", n_docs.cast("long").alias("n_docs"),
        "n_postings", "content_fingerprint", "n_terms",
    )


def append_manifest(rows: DataFrame, out_dir: str) -> None:
    rows.write.mode("append").parquet(manifest_path(out_dir))


def write_stats_json(out_dir: str, stats: dict) -> None:
    """Write stats.json with a fresh ``version`` (also set in ``stats``):
    every commit writes it here, so a plan cached on the version never
    outlives the files it lists, even when the other stats are unchanged."""
    stats["version"] = uuid.uuid4().hex
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(stats, f, indent=2, sort_keys=True)


def read_stats_json(out_dir: str) -> dict:
    # roll an interrupted upsert commit forward BEFORE serving stats:
    # stats.json is the last artifact swapped, so a mid-commit crash
    # otherwise leaves new shards scored with stale N/avgdl (one
    # os.path.exists when no marker is present; local import — this
    # module has no plan-level deps)
    from dp_search_data_importer_spark.plans.update_index import (
        recover_for_read,
    )

    recover_for_read(out_dir)
    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    if stats.get("postings_format") != POSTINGS_FORMAT:
        raise ValueError(
            f"index at {out_dir} holds postings in an older format; rebuild "
            "it with build_index(..., resume=False)")
    return stats
