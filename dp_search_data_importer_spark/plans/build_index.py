"""End-to-end index build (SURVEY.md §3.1 Spark mapping, §7 steps 2-4, 6).

Replaces the reference's entire data path — Kafka batch → Avro decode →
filter → transform → ES bulk upsert (``/root/reference/handler/handler.go:36-129``)
— with a Spark-native build whose *output* is the inverted index ES would have
built internally:

  repo_files ──normalize (A3-A6: key filter, doc_id, sha256)──▶ docs
    docs ──code tokenizer, map-side (term, tf, dl) [Arrow]──▶ tf pairs
      tf ──repartition(shard) + sortWithinPartitions(shard, term, doc_id)──▶
         postings rows (term, doc_id, tf, dl[, positions]), parquet
         dir-partitioned by shard, one term-sorted file per shard
         + per-shard manifest (lineage/metrics, resume)
    postings rows ──per-term count(*)/sum(tf), map-side partial──▶ term_df, Σdl
    docs ──observed partitioned write──▶ docs/, N, per-shard doc counts

One dataflow: each wave tokenizes its own disjoint doc slice straight into
the single wide shuffle, so the tf rows (the build's largest intermediate)
never round-trip storage and no doc is tokenized twice. term_df and Σdl
derive from the written rows after the last wave.
:func:`write_postings` is the one postings writer — the build waves,
``update_index`` (upsert/delete) and ``reindex`` all go through it, and
``checkpoint.manifest_rows`` is the one manifest-row read-back.

The postings are plain rows, not a hand-rolled codec: parquet's dictionary
and RLE encodings compress the sorted ``term``/``tf``/``dl`` columns. Every
read is a JVM parquet scan with the query's ``term IN (...)`` pushed down —
no Python decoder on any path. What that pushdown skips depends on size: a
shard file of a few thousand docs is one row group whose ``term`` min/max
spans nearly the whole vocabulary, so statistics skip nothing there, and
the dictionary filter drops only a shard file holding none of the query
terms; row-group min/max prunes once a shard spans many row groups.
``term_df`` is written term-ordered in bounded row groups
(:func:`write_term_df`), so its files and row groups hold disjoint term
ranges and a driver lookup of a few terms reads a few row groups.

Scale design (the part that must survive 10^12 files / 1000 executors):

- the ONLY wide shuffle over postings-sized data is the single shard
  repartition — tf pairs are already pre-aggregated map-side, so shuffle
  volume is O(distinct (doc,term)) not O(tokens);
- sharding on hash(doc_id) is the structural skew answer for the write:
  tasks are whole shards and shard sizes are uniform by construction, so a
  hot term ('import' ≈ every doc) cannot skew any task — its postings are
  striped evenly across all shards (no collect_list anywhere; within-shard
  volume is bounded by corpus/n_shards and n_shards scales with the
  cluster);
- term_df aggregates the written rows with a map-side partial agg per
  scan split, and a split never spans shards, so even a term in every
  document sends at most one partial row per split to its reducer — no
  salting needed;
- shards (doc-space hash partitions, Elasticsearch-style) give query-time
  fan-out/merge parallelism and are the unit of checkpoint/resume;
- doc lengths are stored on every row, so query-time scoring never joins
  the docs table.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dp_search_data_importer_spark.checkpoint import (
    POSTINGS_FORMAT,
    append_manifest,
    completed_shards,
    manifest_rows,
    read_stats_json,
    write_stats_json,
)
from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.functions.tokenize import (
    code_term_freqs,
    simple_term_freqs,
)
from dp_search_data_importer_spark.operators.ingest import normalize_repo_files
from dp_search_data_importer_spark.operators.postings import hot_terms

POSTINGS_SCHEMA = ("shard int, term string, doc_id long, tf long, dl long, "
                   "positions array<int>")
TERM_DF_SCHEMA = "term string, df long"
# term_df row groups: a driver-side df lookup reads one per query term
TERM_DF_ROW_GROUP_BYTES = 256 * 1024
# term_df rows per file when a commit rewrites a dictionary of known size
TERM_DF_FILE_ROWS = 1 << 20


def _spark_hash_int(value: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of one INT value: Murmur3 x86_32 with seed 42,
    the hash ``repartition(n, col)`` places rows by."""
    mask = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & mask

    k = rotl((value & mask) * 0xCC9E2D51 & mask, 15) * 0x1B873593 & mask
    h = (rotl((seed & mask) ^ k, 13) * 5 + 0xE6546B64) & mask
    h ^= 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & mask
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & mask
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def repartition_by_shard(df: DataFrame, shards: list[int]) -> DataFrame:
    """``df`` in ``len(shards)`` partitions with each shard's rows alone
    in its own one, so a partitioned write runs one task per shard.
    Hashing the shard ids themselves collides (8 shards land in 5
    partitions, 16 in 10), so each shard gets an INT key that hash
    partitioning sends to the shard's rank in sorted order, found on the
    driver by trying keys 0, 1, 2, …: no sample, no job."""
    n = len(shards)
    by_partition: dict[int, int] = {}
    key = 0
    while len(by_partition) < n:
        by_partition.setdefault(_spark_hash_int(key) % n, key)
        key += 1
    keys = F.from_json(F.lit(json.dumps(
        {str(s): by_partition[i] for i, s in enumerate(sorted(shards))})),
        "map<string, int>")
    return df.repartition(n, F.try_element_at(
        keys, F.col("shard").cast("string")))


def write_postings(tf: DataFrame, shards: list[int], path: str, *,
                   positions: bool) -> None:
    """The one postings writer: (shard, doc_id, term, tf, dl[, positions])
    rows of ``shards`` → one ``(term, doc_id)``-sorted file per
    ``shard=k`` dir under ``path``, with the column types of
    ``POSTINGS_SCHEMA`` (a non-positional index stores no ``positions``
    column; the reader sees it as null and never asks for it).

    Dynamic partition overwrite, NOT append, and as a write option, never
    session conf (that would leak into the caller's later writes): only
    the written shards' dirs are replaced, so a resumed wave replaces
    rows a crash left un-manifested instead of appending duplicates
    (duplicated postings would double exact scores)."""
    cols = [F.col("shard").cast("int"), "term",
            F.col("doc_id").cast("long"), F.col("tf").cast("long"),
            F.col("dl").cast("long")]
    if positions:
        cols.append(F.col("positions").cast("array<int>"))
    (repartition_by_shard(tf.select(*cols), shards)
     .sortWithinPartitions("shard", "term", "doc_id")
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("shard").parquet(path))


def term_df_files(path: str) -> int:
    """How many files to write a term dictionary the size of the one at
    ``path`` into, from its parquet footers (read on the driver, no job):
    one per ``TERM_DF_FILE_ROWS`` rows."""
    import glob

    import pyarrow.parquet as pq

    rows = sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))
    return max(1, -(-rows // TERM_DF_FILE_ROWS))


def write_term_df(counts: DataFrame, path: str, n_files: int | None,
                  *observed) -> None:
    """The one term_df writer. ``counts`` holds (term, df, …) rows whose
    columns sum per term; the terms left with ``df > 0`` are written
    range-partitioned on term into ``n_files`` files (``None``: ranges
    sampled from ``counts``, coalesced by adaptive execution) and sorted
    within each, in row groups of at most ``TERM_DF_ROW_GROUP_BYTES``, so
    every file and row group holds a disjoint term range that
    ``plans/query.term_dfs`` skips by its min/max. The sum runs after the
    range exchange, whose partitioning it needs, so the order costs no
    second shuffle, and one file needs no sampling job either; a caller
    with postings-sized rows sums them per term first, for the map-side
    combine. ``observed`` (an ``Observation`` and its metrics over the
    summed rows) sits above the exchange, so a sampling job, which runs
    the plan below it, does not count it twice."""
    summed = (counts.repartitionByRange(*([n_files] if n_files else []),
                                        "term")
              .groupBy("term").agg(*[F.sum(c).alias(c) for c in
                                     counts.columns if c != "term"]))
    if observed:
        summed = summed.observe(*observed)
    (summed.filter(F.col("df") > 0).select("term", "df")
     .sortWithinPartitions("term")
     .write.mode("overwrite")
     .option("parquet.block.size", TERM_DF_ROW_GROUP_BYTES)
     .parquet(path))


def signed_counts(rows: DataFrame, sign: int = 1) -> DataFrame:
    """(term, df, sum_tf) contributions of postings ``rows``, times
    ``sign``, to be summed per term: a posting row is one (doc, term), so
    it adds 1 to its term's df and its tf to Σdl. The build sums them over
    the written rows; an upsert or delete sums the batch's new rows
    against the live rows of the docs it removes at ``sign=-1`` — one rule
    for both."""
    return rows.select("term", F.lit(sign).cast("long").alias("df"),
                       (F.col("tf") * sign).alias("sum_tf"))


def tokenize_docs(docs: DataFrame, *, code_aware: bool = True,
                  text_col: str = "content",
                  positions: bool = False) -> DataFrame:
    """Map-side (doc_id, term, tf, dl[, positions]) extraction on the
    Python/Arrow Counter path. Its pure-Catalyst twins
    (``postings.term_freqs_sql``, ``phrase.doc_positions``) are the
    property-tested oracles of its rows. ``positions=True`` adds each
    row's ascending token positions (len == tf) for positional index
    builds."""
    if positions:
        from dp_search_data_importer_spark.functions.tokenize import (
            term_freqs_with_positions,
        )

        return term_freqs_with_positions(
            docs, code_aware=code_aware, text_col=text_col)
    fn = code_term_freqs if code_aware else simple_term_freqs
    return fn(docs, id_col="doc_id", text_col=text_col)


def build_index(
    spark: SparkSession,
    repo_files: DataFrame,
    out_dir: str,
    cfg: EngineConfig | None = None,
    *,
    code_aware: bool = True,
    text_col: str = "content",
    waves: int | None = None,
    resume: bool = True,
    already_normalized: bool = False,
    check_collisions: bool = False,
    positions: bool = False,
    verbose: bool = False,
) -> dict:
    """Build (or resume) the sharded index under ``out_dir``.

    ``waves=None`` (default) sizes the wave count adaptively: one wave when
    the cluster has at least one task slot per shard (the common case —
    serial waves would leave slots idle), more only when shards exceed
    parallelism. Pass an explicit ``waves`` to pin the resume granularity.

    ``positions=True`` builds a POSITIONAL index: each postings row
    carries its token positions and phrase queries read them straight
    from the postings — no sidecar, no duplicated keys.

    Layout:
      out_dir/docs/        doc map (doc_id, repo, path, commit, lang,
                           content_sha256, shard) — parquet by shard
      out_dir/term_df/     global term dictionary (term, df)
      out_dir/postings/    postings rows (POSTINGS_SCHEMA) — parquet by
                           shard, one (term, doc_id)-sorted file per shard
      out_dir/_manifest/   per-shard lineage + metrics (checkpoint.py)
      out_dir/stats.json   n_docs, avgdl, config echo, ``postings_format``
                           and ``version``: a fresh id per commit
                           (plan-cache key)

    Returns the stats dict.
    """
    t0 = time.time()

    def _mark(name: str) -> None:
        # phases overlap across driver threads, so report absolute
        # elapsed-since-build-start (monotone per thread, thread-safe)
        if verbose:
            print(f"[build_index] {name}: +{time.time() - t0:.2f}s",
                  flush=True)

    cfg = cfg or EngineConfig()
    os.makedirs(out_dir, exist_ok=True)
    stats_path = os.path.join(out_dir, "stats.json")
    if not resume:
        # a fresh build into an existing out_dir must not inherit stale
        # postings/manifest rows (re-run with resume=False used to APPEND
        # postings on top of committed rows — duplicated scores). The
        # positions sidecar belongs to the previous corpus too.
        for sub in ("postings", "_manifest", "docs", "term_df", "positions"):
            shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
        try:
            os.remove(stats_path)
        except FileNotFoundError:
            pass
    docs = repo_files if already_normalized else normalize_repo_files(repo_files)
    if check_collisions and not already_normalized:
        from dp_search_data_importer_spark.operators.ingest import (
            assert_no_doc_id_collisions,
        )

        assert_no_doc_id_collisions(docs)
    docs = docs.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(cfg.n_shards)).cast("int")
    )

    done = completed_shards(spark, out_dir) if resume else set()
    if resume and os.path.exists(stats_path) and len(done) == cfg.n_shards:
        return read_stats_json(out_dir)

    docs_done = resume and os.path.exists(
        os.path.join(out_dir, "docs", "_SUCCESS"))

    def _docs_job() -> dict[int, int]:
        # ---- docs table (one pass over the source). N and per-shard doc
        # counts come from the WRITTEN docs table, not from tf: a doc whose
        # content tokenizes to zero terms is still a document — Lucene's
        # BM25 docCount includes it, so idf/avgdl must divide by it too,
        # and the manifest must agree with docs/.
        # repartition to one task per shard before the partitioned write:
        # writing K shard dirs from T unrelated tasks creates T×K file
        # fragments and a per-task partition sort (measured 25× slower at
        # local[32]); post-shuffle each task owns exactly one shard dir.
        # per-shard doc counts piggyback on the write via observe (observe
        # supports only global aggs, so the breakdown is a when-sum per
        # shard — fine for shard counts in the hundreds; beyond that, fall
        # back to counting the written dirs).
        if not docs_done:
            docs_obs = Observation() if cfg.n_shards <= 256 else None
            to_write = docs.drop(text_col, "content", "dl")
            if docs_obs is not None:
                to_write = to_write.observe(docs_obs, *[
                    F.sum((F.col("shard") == s).cast("long")).alias(f"s{s}")
                    for s in range(cfg.n_shards)
                ])
            (repartition_by_shard(to_write, list(range(cfg.n_shards)))
             .write.mode("overwrite").partitionBy("shard")
             .parquet(os.path.join(out_dir, "docs")))
            _mark("docs_write")
            if not any(n.startswith("shard=") for n in
                       os.listdir(os.path.join(out_dir, "docs"))):
                # no row got past the shuffle: adaptive execution replaced
                # its empty stage together with the observed metrics
                return {s: 0 for s in range(cfg.n_shards)}
            if docs_obs is not None:
                got = docs_obs.get
                return {s: int(got[f"s{s}"] or 0)
                        for s in range(cfg.n_shards)}
        counts = {
            int(r["shard"]): int(r["n"])
            for r in spark.read.parquet(os.path.join(out_dir, "docs"))
            .groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return {s: counts.get(s, 0) for s in range(cfg.n_shards)}

    # ---- postings waves (unit of resume). Each wave tokenizes ITS OWN
    # docs straight into the one wide shuffle: waves partition DOCS
    # disjointly, so per-wave tokenization does zero duplicate work, and
    # the map stage (Python tokenizer) overlaps the reduce stage's
    # sort/write across tasks inside one job.
    par = max(1, spark.sparkContext.defaultParallelism)
    if waves is None:
        # adaptive: serial waves only when shards exceed task slots —
        # at 16 shards on 32 slots, two waves of 8 tasks each left half
        # the host idle twice (guide §2.6 / scale-adaptive partitioning)
        waves = max(1, -(-cfg.n_shards // par))
    shards_per_wave = max(1, -(-cfg.n_shards // waves))
    wave_lists = [ws for ws in (
        [s for s in range(w * shards_per_wave,
                          min((w + 1) * shards_per_wave, cfg.n_shards))
         if s not in done]
        for w in range(waves)) if ws]
    postings_dir = os.path.join(out_dir, "postings")

    # The docs pass and the last wave's manifest are independent of the
    # postings waves; a small driver thread pool overlaps them (guide
    # §2.6). Commit order is unchanged: a wave's manifest lands only after
    # its postings are on disk, and stats.json only after all of it. The
    # pool is joined on every exit, so a failed build leaves no job
    # running that a resume could overlap, and its jobs carry the
    # caller's job group.
    pool = ThreadPoolExecutor(max_workers=2, thread_name_prefix="build_index")
    try:
        docs_fut = pool.submit(inheritable_thread_target(spark)(_docs_job))
        manifest_fut = None
        for i, wave_shards in enumerate(wave_lists):
            tf = tokenize_docs(
                docs.filter(F.col("shard").isin(wave_shards))
                .select("doc_id", text_col),
                code_aware=code_aware, text_col=text_col,
                positions=positions,
            ).withColumn(
                "shard",
                F.pmod(F.col("doc_id"), F.lit(cfg.n_shards)).cast("int"))
            write_postings(tf, wave_shards, postings_dir,
                           positions=positions)
            _mark(f"wave{i}_tokenize_sort_write")
            shard_counts = docs_fut.result()

            def _manifest_job(ws=wave_shards, idx=i) -> None:
                append_manifest(
                    manifest_rows(spark, postings_dir,
                                  {s: shard_counts.get(s, 0) for s in ws}),
                    out_dir)
                _mark(f"wave{idx}_manifest")

            if i == len(wave_lists) - 1:
                # final wave: the manifest read-back and the
                # row-derived term_df/stats below both read the
                # now-committed postings — independent jobs, overlap them
                manifest_fut = pool.submit(
                    inheritable_thread_target(spark)(_manifest_job))
            else:
                _manifest_job()
        shard_counts = docs_fut.result()

        # ---- term dictionary + corpus stats from the written rows
        # (read-back: certifies disk, like the manifest): df(term) = rows
        # of the term, Σdl = Σ tf, both summed in one pass whose Σ is
        # observed on the term_df write. Skew is handled STRUCTURALLY: the
        # map-side partial agg runs per scan split, so even a term present
        # in every document sends one partial row per split to the final
        # shuffle — no salting needed.
        n_docs_total = sum(shard_counts.values())
        if os.path.exists(postings_dir):
            # known schema: a resumed build can keep shards written in the
            # older block format, whose rows read tf as null; fail LOUDLY
            # on them instead of counting blocks as postings
            rows = spark.read.schema(POSTINGS_SCHEMA).parquet(postings_dir)
            obs = Observation()
            write_term_df(
                signed_counts(rows).groupBy("term")
                .agg(F.sum("df").alias("df"),
                     F.sum("sum_tf").alias("sum_tf"),
                     F.sum(F.col("sum_tf").isNull().cast("long"))
                     .alias("n_null")),
                os.path.join(out_dir, "term_df"), None,
                obs, F.sum("sum_tf").alias("sum_dl"),
                F.sum("n_null").alias("n_null"))
            if int(obs.get["n_null"] or 0) > 0:
                raise ValueError(
                    f"postings under {postings_dir} hold rows of an older "
                    "postings format (null tf); rebuild the index with "
                    "resume=False")
            sum_dl_total = int(obs.get["sum_dl"] or 0)
        else:  # corpus tokenized to nothing at all
            from dp_search_data_importer_spark.session import local_df

            local_df(spark, [], TERM_DF_SCHEMA).write.mode(
                "overwrite").parquet(os.path.join(out_dir, "term_df"))
            sum_dl_total = 0
        _mark("term_df_write")

        stats = {
            "n_docs": int(n_docs_total),
            "sum_dl": int(sum_dl_total),  # exact int: incremental upserts
            # adjust it by ±deltas instead of reconstructing from float avgdl
            "avgdl": (float(sum_dl_total / n_docs_total)
                      if n_docs_total else 0.0),
            "k1": cfg.k1, "b": cfg.b,
            "n_shards": cfg.n_shards,
            "postings_format": POSTINGS_FORMAT,
            "code_aware": code_aware,
            "positions": positions,
            "shard_docs": {int(s): int(n) for s, n in shard_counts.items()},
        }
        from dp_search_data_importer_spark.plans.query import load_term_df

        stats["hot_terms"] = hot_terms(load_term_df(spark, out_dir),
                                       n_docs_total, cfg)
        # stats.json is written LAST — its presence plus a full manifest is
        # the build's commit marker (resume returns early on it above), so
        # join the overlapped final-wave manifest before writing it
        if manifest_fut is not None:
            manifest_fut.result()
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    write_stats_json(out_dir, stats)
    return stats
