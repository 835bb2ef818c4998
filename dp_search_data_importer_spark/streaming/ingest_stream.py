"""Structured Streaming ingestion — the reference's Kafka micro-batch path
re-expressed (SURVEY.md §2 A1/A2/A8).

Reference semantics carried over:
- micro-batches bounded by count/time (``config/config.go:60-61`` BATCH_SIZE
  500 / BATCH_WAIT_TIME 5 s) → ``trigger(processingTime=…)`` +
  ``maxOffsetsPerTrigger`` on a Kafka source; file source + availableNow in
  the sandbox (no broker here);
- at-least-once delivery + **idempotent keyed upsert** ⇒ effectively-once
  (``handler/handler.go:146-150`` ``doc_as_upsert``): ``upsert_batch`` is a
  deterministic last-writer-wins MERGE keyed on ``uid``, safe under batch
  replay — re-delivering any batch yields a byte-identical store;
- handler error ⇒ no offset commit ⇒ redelivery: Structured Streaming's
  checkpoint gives the same contract (``checkpointLocation``).

The store is hash-bucketed parquet with dynamic partition overwrite — the
sandbox stand-in for an Iceberg ``MERGE INTO`` (only touched buckets are
rewritten; bucket count scales the rewrite granularity).

In production the source line is:
    spark.readStream.format("kafka")
         .option("subscribe", "search-data-import")
         .option("startingOffsets", "earliest")        # offset=oldest (A1)
         .option("maxOffsetsPerTrigger", 500 * n_partitions)
and the Avro payload decodes with ``from_avro(col("value"), schema_json)``
(A3) — same downstream code.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 16
_STAGING = "_staging"
_BACKUP_PREFIX = "_old_bucket="


def _bucket(uid_col):
    return F.pmod(F.xxhash64(uid_col), F.lit(N_BUCKETS)).cast("int")


def recover_store(store_dir: str) -> int:
    """Roll forward/back an upsert interrupted mid-swap. For every backup
    dir ``_old_bucket=k``: if ``bucket=k`` is missing the swap died between
    the two renames — restore the backup; otherwise the new data landed —
    drop the backup. Returns the number of repaired buckets. Idempotent;
    called on entry to every upsert."""
    if not os.path.exists(store_dir):
        return 0
    repaired = 0
    for name in sorted(os.listdir(store_dir)):
        if not name.startswith(_BACKUP_PREFIX):
            continue
        k = name[len(_BACKUP_PREFIX):]
        live = os.path.join(store_dir, f"bucket={k}")
        backup = os.path.join(store_dir, name)
        if not os.path.exists(live):
            os.rename(backup, live)
            repaired += 1
        else:
            shutil.rmtree(backup)
    staging = os.path.join(store_dir, _STAGING)
    if os.path.exists(staging):
        shutil.rmtree(staging)
    return repaired


def upsert_batch(batch: DataFrame, store_dir: str, key: str = "uid") -> dict:
    """Idempotent keyed upsert of one micro-batch into the bucketed store;
    returns per-batch accounting (A9 twin of handler.go:96-128's
    documents_received / documents_inserted).

    Last-writer-wins within the batch (highest ``seq`` if present), then the
    batch overrides the store. Only buckets touched by the batch are
    rewritten — the Iceberg MERGE INTO analogue at parquet level, made
    crash-safe in two steps:

    1. the combined (existing ∖ batch keys) ∪ batch rows are STAGED to a
       sibling parquet dir and read back, so the store is never overwritten
       from a plan that still reads it (an executor loss mid-write cannot
       trigger a lineage recompute against half-overwritten input);
    2. each touched ``bucket=k`` dir is swapped via rename (live → backup,
       staged → live, drop backup). A crash between renames leaves a backup
       dir that :func:`recover_store` repairs on the next call — no window
       loses committed rows.

    On a real deployment this whole dance is one transactional
    ``MERGE INTO`` on an Iceberg/Delta table; the staging+swap here gives
    the same effectively-once contract on plain parquet, for a
    single-writer stream (Structured Streaming serializes foreachBatch).
    """
    spark = batch.sparkSession
    os.makedirs(store_dir, exist_ok=True)
    recover_store(store_dir)

    obs = Observation()
    batch = batch.observe(obs, F.count(F.lit(1)).alias("received"))
    batch = batch.withColumn("bucket", _bucket(F.col(key)))
    if "seq" in batch.columns:
        from pyspark.sql.window import Window

        w = Window.partitionBy(key).orderBy(F.col("seq").desc())
        batch = (batch.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))
    else:
        batch = batch.dropDuplicates([key])

    exists = any(f.startswith("bucket=") for f in os.listdir(store_dir))
    staging = os.path.join(store_dir, _STAGING)
    ups_obs = Observation()
    if exists:
        touched = [r["bucket"] for r in
                   batch.select("bucket").distinct().collect()]
        if not touched:  # empty micro-batch: nothing to stage or swap
            return {"documents_received": 0, "documents_upserted": 0,
                    "buckets_touched": 0}
        existing = (
            spark.read.parquet(store_dir)
            .filter(F.col("bucket").isin(touched))
            .join(batch.select(key), key, "left_anti")  # batch wins
        )
        combined = existing.unionByName(
            batch.observe(ups_obs, F.count(F.lit(1)).alias("upserted"))
        )
        (combined.repartition(len(touched), "bucket")
         .write.mode("overwrite").partitionBy("bucket").parquet(staging))
    else:
        (batch.observe(ups_obs, F.count(F.lit(1)).alias("upserted"))
         .repartition(N_BUCKETS, "bucket")
         .write.mode("overwrite").partitionBy("bucket").parquet(staging))
        touched = [
            int(d.split("=", 1)[1]) for d in os.listdir(staging)
            if d.startswith("bucket=")
        ]

    # atomic-per-bucket swap: staged dirs replace live dirs via rename
    for k in sorted(touched):
        live = os.path.join(store_dir, f"bucket={k}")
        staged = os.path.join(staging, f"bucket={k}")
        backup = os.path.join(store_dir, f"{_BACKUP_PREFIX}{k}")
        if not os.path.exists(staged):
            continue  # batch named the bucket but staged no rows (no-op)
        if os.path.exists(live):
            os.rename(live, backup)
        os.rename(staged, live)
        if os.path.exists(backup):
            shutil.rmtree(backup)
    shutil.rmtree(staging, ignore_errors=True)

    metrics = {
        "documents_received": int(obs.get["received"]),
        "documents_upserted": int(ups_obs.get["upserted"]),
        "buckets_touched": len(touched),
    }
    return metrics


def run_ingest_stream(
    events: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key: str = "uid",
    available_now: bool = True,
    processing_time: str = "5 seconds",
):
    """events (streaming DF) → foreachBatch idempotent upsert. Returns the
    StreamingQuery. ``available_now`` drains bounded input then stops (test
    mode); otherwise the reference's 5 s micro-batch cadence applies.

    Per-batch accounting (A9: handler.go:96-128 logs documents_received /
    documents_inserted per batch) is appended to ``<store>/_metrics.jsonl``
    — one JSON line per micro-batch."""

    def _handle(df: DataFrame, batch_id: int) -> None:
        m = upsert_batch(df, store_dir, key)
        m["batch_id"] = int(batch_id)
        with open(os.path.join(store_dir, "_metrics.jsonl"), "a") as f:
            f.write(json.dumps(m, sort_keys=True) + "\n")

    writer = (
        events.writeStream
        .foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_index_stream(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "5 seconds",
    health_gate: bool = False,
):
    """Continuous import into the NATIVE index — the reference's actual job
    (Kafka → transform → ES bulk doc_as_upsert) with the index maintained
    by this engine instead of Elasticsearch: each micro-batch of repo-file
    rows keyed-upserts its shards via ``plans.update_index.upsert_docs``
    (first batch bootstraps the index with a full build). foreachBatch +
    checkpointLocation give the reference's no-commit-on-error redelivery
    contract, and ``upsert_docs`` is idempotent under redelivery, so the
    index is effectively-once. Per-batch accounting lands in
    ``<index>/_ingest_metrics.jsonl``.

    ``health_gate=True`` is the reference's ``StopConsumingOnUnhealthy``
    twin (A10, ``/root/reference/service/service.go:80-90``): every batch
    probes ``health.index_health`` BEFORE mutating the index and raises on
    a CORRUPT verdict — the batch does not commit, consumption halts, and
    redelivery resumes once the index is repaired."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans.build_index import build_index
    from dp_search_data_importer_spark.plans.update_index import upsert_docs

    def _handle(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        if os.path.exists(os.path.join(index_dir, "stats.json")):
            if health_gate:
                from dp_search_data_importer_spark.health import (
                    assert_index_healthy,
                )

                assert_index_healthy(spark, index_dir)
            m = upsert_docs(spark, index_dir, df)
        else:
            if df.isEmpty():
                return
            stats = build_index(spark, df, index_dir, EngineConfig(),
                                resume=False, waves=1)
            m = {"received": stats["n_docs"], "upserted": stats["n_docs"],
                 "replaced": 0, "added": stats["n_docs"],
                 "affected_shards": list(range(stats["n_shards"]))}
        m["batch_id"] = int(batch_id)
        with open(os.path.join(index_dir, "_ingest_metrics.jsonl"), "a") as f:
            f.write(json.dumps(m, sort_keys=True) + "\n")

    writer = (
        docs_stream.writeStream
        .foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_ann_stream(
    vec_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "5 seconds",
):
    """Continuous vector ingestion into a stored ANN index — the embedding
    twin of :func:`run_index_stream`: each micro-batch of (vec_id,
    embedding) rows keyed-upserts the bucket/cell-partitioned store via
    ``plans.update_ann.upsert_ann`` (the store must exist — quantizers
    are frozen at build time; see update_ann's re-train discussion).
    foreachBatch + checkpointLocation give no-commit-on-error redelivery,
    and ``upsert_ann`` is idempotent under redelivery, so the store is
    effectively-once. Per-batch accounting (including ``fraction_new``,
    the caller's re-train trigger signal) appends to
    ``<store>/_ingest_metrics.jsonl``."""
    from dp_search_data_importer_spark.plans.update_ann import upsert_ann

    def _handle(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        m = upsert_ann(df.sparkSession, store_dir, df)
        m["batch_id"] = int(batch_id)
        with open(os.path.join(store_dir, "_ingest_metrics.jsonl"), "a") as f:
            f.write(json.dumps(m, sort_keys=True) + "\n")

    writer = (
        vec_stream.writeStream
        .foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


_DURATION_UNITS = {
    "ms": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "second": 1000, "seconds": 1000,
    "m": 60_000, "min": 60_000, "minute": 60_000, "minutes": 60_000,
    "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
    "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
}


def _duration_ms(ttl: str | int) -> int:
    """'10 minutes' / '500 ms' / 1500 → milliseconds (PySpark's
    GroupState.setTimeoutDuration only accepts an int)."""
    if isinstance(ttl, int):
        return ttl
    parts = ttl.strip().lower().split()
    if len(parts) != 2 or parts[1] not in _DURATION_UNITS:
        raise ValueError(f"unparseable duration {ttl!r}")
    return int(float(parts[0]) * _DURATION_UNITS[parts[1]])


def dedup_stream(events: DataFrame, key_col: str = "uid",
                 ttl: str | int | None = None) -> DataFrame:
    """Cross-batch streaming dedup: emit only the FIRST occurrence of each
    key — a custom stateful operator via ``applyInPandasWithState``
    (state = one marker row per key, surviving restarts through the stream
    checkpoint). The at-least-once-source twin: where ``upsert_batch``
    makes redelivery idempotent at the SINK, this makes it invisible
    mid-pipeline, so downstream stages see an exactly-once stream.

    Within a batch, the first row of the key wins (input order); across
    batches, previously-seen keys are dropped entirely.

    ``ttl`` (e.g. ``"10 minutes"`` or milliseconds) BOUNDS the state
    (round-3, the 10^12-key answer): each key's marker expires after that
    much processing-time inactivity and is removed by the state store's
    timeout sweep, so steady-state size is O(keys active within one TTL
    window), not O(all keys ever). The trade-off is explicit and standard
    (Kafka Streams / Flink dedup TTLs make the same one): a key
    re-arriving AFTER expiry is emitted again — exact dedup within the
    window, at-least-once beyond it, which composes safely with the
    idempotent keyed sink. ``ttl=None`` keeps exact forever-dedup.

    Draining a ``ttl`` stream: its processing-time timeout makes Spark
    plan a no-data batch after every batch (to sweep expired keys), so a
    query started with ``trigger(availableNow=True)`` never terminates —
    ``awaitTermination()`` waits for ever. Drain it with
    ``trigger(once=True)`` (one batch, then the query ends), or with
    ``processAllAvailable()`` followed by ``stop()``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = events.schema
    use_ttl = ttl is not None
    ttl_ms = _duration_ms(ttl) if use_ttl else 0

    def fn(key, pdfs, state: GroupState):
        if use_ttl and state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        first: pd.DataFrame | None = None
        for pdf in pdfs:
            if not seen and len(pdf) and first is None:
                first = pdf.iloc[[0]]
        if not seen:
            state.update((1,))
        if use_ttl:
            # re-arm on every arrival: the deadline is TTL past the key's
            # LAST activity (a hot key never expires; an idle one does)
            state.setTimeoutDuration(ttl_ms)
        if first is not None:
            yield first

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=schema,
        stateStructType="n long",
        outputMode="append",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout if use_ttl
                     else GroupStateTimeout.NoTimeout),
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization as a NATIVE stateful streaming aggregation
    (``session_window``): sessions close when no event arrives within
    ``gap``; the watermark bounds state. The batch twin is the lag +
    cumulative-sum formulation registered as ``sessionize_events`` —
    property-tested to produce the same (key, n_events, session_seconds)
    multiset on batch input. Works on streaming and batch frames alike."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("win"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col)))
            .cast("long").alias("session_seconds"),
        )
        .select(key_col, F.col("win.start").alias("win_start"),
                "n_events", "session_seconds")
    )


def windowed_event_counts(
    events: DataFrame,
    window_dur: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window rollup — the stateful-streaming operator
    the reference never needed (idempotent upsert made late data moot,
    SURVEY.md §2 note); ours supports it for event analytics. Works on both
    streaming and batch DataFrames (same expression)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(F.col(ts_col), window_dur).alias("win"),
                    F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
             .alias("sum_value"))
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"),
                "event_type", "n_events", "sum_value")
    )


def run_percolate_stream(
    doc_stream: DataFrame,
    queries: DataFrame,
    alerts_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "5 seconds",
    text_col: str = "text",
    id_col: str = "doc_id",
    code_aware: bool = False,
):
    """Streaming percolation — the alerting loop: each micro-batch of
    incoming documents is matched against the STATIC stored-query table
    (``operators/percolate.percolate_batch``: queries inverted by term,
    one term-keyed join + one agg per batch) and the matching
    (query_id, doc_id) pairs append to ``alerts_dir`` as parquet.
    foreachBatch + checkpointLocation give no-commit-on-error
    redelivery; appends are idempotent per batch only in the
    at-least-once sense every alerting sink already handles (alerts
    carry batch_id for downstream dedup). The query table is evaluated
    per batch — register new queries by replacing the DataFrame source
    (a parquet dir re-read), no restart required when it is a lazily
    re-read source."""
    from dp_search_data_importer_spark.operators.percolate import (
        percolate_batch,
    )
    from dp_search_data_importer_spark.operators.phrase import (
        doc_positions,
    )

    def _handle(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        pos = doc_positions(df, code_aware=code_aware, id_col=id_col,
                            text_col=text_col)
        out = percolate_batch(queries, pos).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long"))
        out.write.mode("append").parquet(alerts_dir)

    writer = (
        doc_stream.writeStream
        .foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
