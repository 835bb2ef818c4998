"""Streaming ingestion twin: idempotent upsert (effectively-once), windowed
rollup — mirrors the reference's at-least-once + doc_as_upsert contract."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dp_search_data_importer_spark.streaming.ingest_stream import (
    run_ingest_stream,
    upsert_batch,
    windowed_event_counts,
)

EVENT_SCHEMA = "uid string, title string, seq long"


def _store_contents(spark, store_dir):
    df = spark.read.parquet(store_dir).select("uid", "title", "seq")
    return {tuple(r) for r in df.collect()}


def test_upsert_batch_idempotent_and_last_writer_wins(spark, tmp_path):
    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [("a", "A1", 1), ("b", "B1", 1)], EVENT_SCHEMA
    )
    upsert_batch(b1, store)
    assert _store_contents(spark, store) == {("a", "A1", 1), ("b", "B1", 1)}

    # update a, insert c; duplicate uid within batch → highest seq wins
    b2 = spark.createDataFrame(
        [("a", "A2", 2), ("c", "C1", 1), ("a", "A3", 3)], EVENT_SCHEMA
    )
    upsert_batch(b2, store)
    expected = {("a", "A3", 3), ("b", "B1", 1), ("c", "C1", 1)}
    assert _store_contents(spark, store) == expected

    # REDELIVERY of b2 (at-least-once) → identical store (idempotent)
    upsert_batch(b2, store)
    assert _store_contents(spark, store) == expected


def test_streaming_ingest_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows = [{"uid": f"doc{i}", "title": f"T{i}", "seq": 1} for i in range(20)]
    with open(src / "part1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    events = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    q = run_ingest_stream(events, store, ckpt, available_now=True)
    q.awaitTermination(120)
    assert spark.read.parquet(store).count() == 20

    # second file arrives; restart drains only the new data (checkpointed)
    with open(src / "part2.json", "w") as f:
        f.write(json.dumps({"uid": "doc0", "title": "T0-v2", "seq": 2}) + "\n")
        f.write(json.dumps({"uid": "new", "title": "N", "seq": 1}) + "\n")
    q2 = run_ingest_stream(
        spark.readStream.schema(EVENT_SCHEMA).json(str(src)), store, ckpt,
        available_now=True,
    )
    q2.awaitTermination(120)
    got = _store_contents(spark, store)
    assert ("doc0", "T0-v2", 2) in got and ("new", "N", 1) in got
    assert len(got) == 21


def test_windowed_counts_batch_twin(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev, window_dur="1 hour")
    rows = out.collect()
    assert sum(r["n_events"] for r in rows) == ev.count()
    assert all(r["win_end"] > r["win_start"] for r in rows)


def test_upsert_metrics_accounting(spark, tmp_path):
    """A9 twin: per-batch documents_received / documents_upserted, like
    handler.go:96-128's log counters."""
    store = str(tmp_path / "store_m")
    b1 = spark.createDataFrame(
        [("a", "A1", 1), ("b", "B1", 1), ("a", "A2", 2)], EVENT_SCHEMA)
    m1 = upsert_batch(b1, store)
    assert m1["documents_received"] == 3
    assert m1["documents_upserted"] == 2  # in-batch dedup: a collapses
    m2 = upsert_batch(
        spark.createDataFrame([("a", "A3", 3), ("c", "C1", 1)], EVENT_SCHEMA),
        store)
    assert m2 == {"documents_received": 2, "documents_upserted": 2,
                  "buckets_touched": m2["buckets_touched"]}


def test_upsert_crash_mid_swap_recovers(spark, tmp_path):
    """Kill-mid-upsert: simulate a crash between the two renames of a bucket
    swap (live moved to backup, staged not yet moved in). The next upsert
    must restore the backup — no committed row is lost."""
    import shutil

    from dp_search_data_importer_spark.streaming.ingest_stream import (
        recover_store,
    )

    store = str(tmp_path / "store_c")
    upsert_batch(spark.createDataFrame(
        [("a", "A1", 1), ("b", "B1", 1)], EVENT_SCHEMA), store)
    before = _store_contents(spark, store)

    # simulate the torn state for every live bucket: live -> backup, and a
    # half-written staging dir left behind
    buckets = [d for d in os.listdir(store) if d.startswith("bucket=")]
    for d in buckets:
        k = d.split("=", 1)[1]
        os.rename(os.path.join(store, d),
                  os.path.join(store, f"_old_bucket={k}"))
    os.makedirs(os.path.join(store, "_staging", "bucket=999"), exist_ok=True)

    assert recover_store(store) == len(buckets)
    assert _store_contents(spark, store) == before
    assert not os.path.exists(os.path.join(store, "_staging"))

    # and the torn state heals implicitly on the next upsert too
    for d in buckets:
        k = d.split("=", 1)[1]
        os.rename(os.path.join(store, d),
                  os.path.join(store, f"_old_bucket={k}"))
    upsert_batch(spark.createDataFrame([("z", "Z", 1)], EVENT_SCHEMA), store)
    got = _store_contents(spark, store)
    assert before <= got and ("z", "Z", 1) in got


def test_streaming_metrics_jsonl(spark, tmp_path):
    src = tmp_path / "src_m"
    src.mkdir()
    with open(src / "p.json", "w") as f:
        for i in range(5):
            f.write(json.dumps({"uid": f"d{i}", "title": "T", "seq": 1}) + "\n")
    store = str(tmp_path / "store_j")
    q = run_ingest_stream(
        spark.readStream.schema(EVENT_SCHEMA).json(str(src)), store,
        str(tmp_path / "ckpt_j"), available_now=True)
    q.awaitTermination(120)
    lines = [json.loads(ln) for ln in
             open(os.path.join(store, "_metrics.jsonl"))]
    assert sum(m["documents_received"] for m in lines) == 5
    assert sum(m["documents_upserted"] for m in lines) == 5
    assert all("batch_id" in m for m in lines)


def test_session_window_equals_batch_sessionization(spark, sf_dir):
    """Native session_window (streaming-capable) ≡ the lag+cumsum batch
    formulation, as (user, n_events, session_seconds) multisets."""
    from collections import Counter

    from dp_search_data_importer_spark.plans.driver_queries_ext import (
        q_sessionize_events,
    )
    from dp_search_data_importer_spark.streaming.ingest_stream import (
        sessionize_stream,
    )

    batch = Counter(
        (r["user_id"], r["n_events"], r["session_seconds"])
        for r in q_sessionize_events(spark, sf_dir).collect()
    )
    native = Counter(
        (r["user_id"], r["n_events"], r["session_seconds"])
        for r in sessionize_stream(
            spark.read.parquet(f"{sf_dir}/events.parquet"),
            gap="30 minutes").collect()
    )
    assert native == batch


def test_session_window_streaming_run(spark, tmp_path):
    """The same expression runs as a stateful streaming agg with watermark
    + availableNow, producing closed sessions."""
    import datetime as dt

    from dp_search_data_importer_spark.streaming.ingest_stream import (
        sessionize_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(1, t0), (1, t0 + dt.timedelta(minutes=5)),
            (1, t0 + dt.timedelta(hours=3)),
            (2, t0 + dt.timedelta(minutes=1))]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = sessionize_stream(stream, gap="30 minutes", watermark="10 minutes")
    path = str(tmp_path / "out")
    q = (out.writeStream.format("parquet").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .option("path", path).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["n_events"], r["session_seconds"])
           for r in spark.read.parquet(path).collect()}
    # sessions strictly older than the watermark horizon have closed:
    # user 1's first session (2 events, 300s) and user 2's single event
    assert (1, 2, 300) in got
    assert (2, 1, 0) in got


def test_dedup_stream_exactly_once_across_batches(spark, tmp_path):
    """applyInPandasWithState custom stateful op: each uid is emitted once,
    ever — in-batch duplicates collapse and redelivered keys are dropped in
    later drains (state survives via the checkpoint)."""
    from dp_search_data_importer_spark.streaming.ingest_stream import (
        dedup_stream,
    )

    src = tmp_path / "dd_src"
    src.mkdir()
    with open(src / "p1.json", "w") as f:
        for uid in ["a", "b", "a", "c"]:
            f.write(json.dumps({"uid": uid, "title": f"T-{uid}", "seq": 1}) + "\n")

    out_dir = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ck")

    def drain():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
        q = (dedup_stream(stream).writeStream.format("parquet")
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .option("path", out_dir).trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    got = sorted(r["uid"] for r in spark.read.parquet(out_dir).collect())
    assert got == ["a", "b", "c"]

    # second file: redelivers a+c, introduces d
    with open(src / "p2.json", "w") as f:
        for uid in ["a", "d", "c", "d"]:
            f.write(json.dumps({"uid": uid, "title": f"T2-{uid}", "seq": 2}) + "\n")
    drain()
    rows = spark.read.parquet(out_dir).collect()
    got = sorted(r["uid"] for r in rows)
    assert got == ["a", "b", "c", "d"]
    # and the survivor for redelivered keys is the FIRST-batch row
    assert next(r["title"] for r in rows if r["uid"] == "a") == "T-a"


def test_dedup_stream_ttl_suppresses_within_window(spark, tmp_path):
    """With a TTL far longer than the drain gap, redelivered keys stay
    suppressed across drains — same contract as the no-TTL operator."""
    from dp_search_data_importer_spark.streaming.ingest_stream import (
        dedup_stream,
    )

    src = tmp_path / "ttlw_src"
    src.mkdir()
    out_dir = str(tmp_path / "ttlw_out")
    ckpt = str(tmp_path / "ttlw_ck")

    def drain():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
        # one batch: with a processing-time timeout every batch asks for a
        # no-data batch after it, so availableNow would never terminate
        q = (dedup_stream(stream, ttl="10 minutes")
             .writeStream.format("parquet")
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .option("path", out_dir).trigger(once=True).start())
        q.awaitTermination(120)

    with open(src / "b1.json", "w") as f:
        f.write(json.dumps({"uid": "a", "title": "T1-a", "seq": 1}) + "\n")
        f.write(json.dumps({"uid": "b", "title": "T1-b", "seq": 1}) + "\n")
    drain()
    with open(src / "b2.json", "w") as f:
        f.write(json.dumps({"uid": "a", "title": "T2-a", "seq": 2}) + "\n")
    drain()
    assert sorted(r["uid"] for r in spark.read.parquet(out_dir).collect()) \
        == ["a", "b"]


def test_dedup_stream_ttl_bounds_state(spark, tmp_path):
    """Round 3: ttl'd dedup state — idle keys expire and are REMOVED from
    the state store (bounded state under key churn); a key re-arriving
    after expiry is emitted again (exact dedup within the TTL window, the
    documented trade-off that composes with the idempotent keyed sink)."""
    import time as _time

    from dp_search_data_importer_spark.streaming.ingest_stream import (
        dedup_stream,
    )

    src = tmp_path / "ttl_src"
    src.mkdir()
    out_dir = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ck")

    def drain():
        stream = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
        # one batch, as in test_dedup_stream_ttl_suppresses_within_window
        q = (dedup_stream(stream, ttl=1000).writeStream.format("parquet")
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .option("path", out_dir).trigger(once=True).start())
        q.awaitTermination(120)

    with open(src / "b1.json", "w") as f:
        f.write(json.dumps({"uid": "a", "title": "T1-a", "seq": 1}) + "\n")
        f.write(json.dumps({"uid": "b", "title": "T1-b", "seq": 1}) + "\n")
    drain()
    assert sorted(r["uid"] for r in spark.read.parquet(out_dir).collect()) \
        == ["a", "b"]

    # let both keys idle past the TTL; a churn batch with a fresh key
    # triggers the timeout sweep that removes them (hasTimedOut branch →
    # state.remove(); proven below by 'a' being emitted AGAIN, which can
    # only happen if its marker row is gone — the state-metrics reader
    # does not surface applyInPandasWithState row counts in this Spark)
    _time.sleep(2.0)
    with open(src / "b3.json", "w") as f:
        f.write(json.dumps({"uid": "c", "title": "T3-c", "seq": 3}) + "\n")
    drain()

    # 'a' re-arrives after expiry -> emitted again
    _time.sleep(2.0)
    with open(src / "b4.json", "w") as f:
        f.write(json.dumps({"uid": "a", "title": "T4-a", "seq": 4}) + "\n")
    drain()
    uids = sorted(r["uid"] for r in spark.read.parquet(out_dir).collect())
    assert uids == ["a", "a", "b", "c"]
    titles_a = {r["title"] for r in spark.read.parquet(out_dir).collect()
                if r["uid"] == "a"}
    assert titles_a == {"T1-a", "T4-a"}


def test_run_ann_stream_end_to_end(spark, tmp_path):
    """Streaming vector ingestion into a stored ANN index: micro-batches
    keyed-upsert the bucket-partitioned store (frozen quantizers); the
    drained store equals a fresh rebuild of the merged vectors, new
    vectors are queryable, and fraction_new lands in the metrics log."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from dp_search_data_importer_spark.operators import similarity as sim
    from dp_search_data_importer_spark.streaming.ingest_stream import (
        run_ann_stream,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    planes = sim.hyperplanes(64, 6, seed=7)
    store = str(tmp_path / "ann_store")
    sim.write_ann_index(base, store, planes)

    # stream source: one parquet batch replacing 5 vectors + adding 5
    rep = [(int(r["vec_id"]), [-float(x) for x in r["embedding"]])
           for r in base.filter(F.col("vec_id") % 60 == 0).collect()]
    add = [(20_000 + i, [float((i + j) % 11) / 11.0 for j in range(64)])
           for i in range(5)]
    src = tmp_path / "vec_src"
    src.mkdir()
    batch_df = spark.createDataFrame(rep + add,
                                     "vec_id long, embedding array<float>")
    batch_df.coalesce(1).write.mode("overwrite").parquet(
        str(src / "batch1"))

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("recursiveFileLookup", "true")
              .parquet(str(src)))
    qy = run_ann_stream(stream, store, str(tmp_path / "ck"),
                        available_now=True)
    qy.awaitTermination(240)

    merged = base.filter(
        ~F.col("vec_id").isin([v for v, _ in rep])).unionByName(batch_df)
    fresh = str(tmp_path / "ann_fresh")
    sim.write_ann_index(merged, fresh, planes)

    def snap(path):
        rows = spark.read.parquet(path).collect()
        return sorted((r["vec_id"], r["bucket"], tuple(r["embedding"]))
                      for r in rows)

    assert snap(store) == snap(fresh)
    # a streamed-in vector is queryable from the stored index
    got = sim.ann_topk_stored(spark, store, add[0][1], k=3,
                              multiprobe=2).collect()
    assert got[0]["vec_id"] == 20_000
    metrics = [_json.loads(ln) for ln in
               open(os.path.join(store, "_ingest_metrics.jsonl"))]
    assert metrics[-1]["replaced"] == len(rep)
    assert metrics[-1]["added"] == len(add)
    assert 0 < metrics[-1]["fraction_new"] < 1


def test_percolate_stream_matches_batch(spark, tmp_path):
    """Streaming percolation over a file source reproduces the batch
    operator's (query_id, doc_id) pairs exactly, across micro-batches."""
    from dp_search_data_importer_spark.operators.percolate import (
        percolate_batch,
    )
    from dp_search_data_importer_spark.operators.phrase import (
        doc_positions,
    )
    from dp_search_data_importer_spark.session import local_df
    from dp_search_data_importer_spark.streaming.ingest_stream import (
        run_percolate_stream,
    )

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        (1, "the hash join operator"),
        (2, "hash tables everywhere"),
        (3, "merge sort remains classic"),
        (4, "sort then merge the runs"),
        (5, "nothing to see here"),
    ]
    docs = local_df(spark, rows, "doc_id long, text string")
    # two files → at least two potential micro-batches
    docs.filter("doc_id <= 2").write.mode("overwrite").parquet(
        str(src / "a.parquet"))
    docs.filter("doc_id > 2").write.mode("overwrite").parquet(
        str(src / "b.parquet"))

    queries = local_df(spark, [
        (10, "match", ["hash", "sort"]),
        (20, "match_all", ["merge", "sort"]),
        (30, "phrase", ["hash", "join"]),
    ], "query_id long, kind string, terms array<string>")

    alerts = str(tmp_path / "alerts")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/*"))
    q = run_percolate_stream(stream, queries, alerts,
                             str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {(r["query_id"], r["doc_id"])
           for r in spark.read.parquet(alerts).collect()}
    exp = {(r["query_id"], r["doc_id"]) for r in percolate_batch(
        queries, doc_positions(docs)).collect()}
    assert got == exp
    assert (20, 3) in got and (20, 4) in got and (30, 1) in got
    assert not any(d == 5 for _, d in got)
