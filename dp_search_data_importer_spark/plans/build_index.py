"""End-to-end index build (SURVEY.md §3.1 Spark mapping, §7 steps 2-4, 6).

Replaces the reference's entire data path — Kafka batch → Avro decode →
filter → transform → ES bulk upsert (``/root/reference/handler/handler.go:36-129``)
— with a Spark-native build whose *output* is the inverted index ES would have
built internally:

  repo_files ──normalize (A3-A6: key filter, doc_id, sha256)──▶ docs
    docs ──code tokenizer, map-side (term, tf, dl) [Arrow]──▶ tf pairs
      tf ──repartition(shard) + sortWithinPartitions(shard, term, doc_id)──▶
         sorted runs ──mapInPandas block compressor (delta+varint, impacts,
         optional positions)──▶ postings blocks, parquet dir-partitioned
         by shard + per-shard manifest (lineage/metrics, resume)
    postings block metadata ──per-shard partial agg──▶ term_df, Σdl
    docs ──observed partitioned write──▶ docs/, N, per-shard doc counts

One dataflow: each wave tokenizes its own disjoint doc slice straight into
the single wide shuffle, so the tf rows (the build's largest intermediate)
never round-trip storage and no doc is tokenized twice. term_df and Σdl
derive from the written blocks' metadata after the last wave.
:func:`write_postings` is the one postings writer — the build waves,
``update_index`` (upsert/delete) and ``reindex`` all go through it, and
``checkpoint.manifest_rows`` is the one manifest-row read-back.

Scale design (the part that must survive 10^12 files / 1000 executors):

- the ONLY wide shuffle over postings-sized data is the single shard
  repartition — tf pairs are already pre-aggregated map-side, so shuffle
  volume is O(distinct (doc,term)) not O(tokens);
- sharding on hash(doc_id) is the structural skew answer for block building:
  tasks are whole shards and shard sizes are uniform by construction, so a
  hot term ('import' ≈ every doc) cannot skew any task — its postings are
  striped evenly across all shards, emitted as independent bounded blocks
  (no collect_list anywhere; within-shard volume is bounded by corpus/n_shards
  and n_shards scales with the cluster);
- term_df aggregates block metadata, pre-aggregated per (shard, term): the
  map-side partial runs per shard, so even a term in every document sends
  at most n_shards partial rows to its reducer — no salting needed;
- shards (doc-space hash partitions, Elasticsearch-style) give query-time
  fan-out/merge parallelism and are the unit of checkpoint/resume;
- doc lengths are embedded in the blocks, so query-time scoring never joins
  the docs table.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dp_search_data_importer_spark.checkpoint import (
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
from dp_search_data_importer_spark.operators.codec import (
    encode_blocks_batch,
)
from dp_search_data_importer_spark.operators.ingest import normalize_repo_files
from dp_search_data_importer_spark.operators.postings import hot_terms

BLOCKS_SCHEMA = (
    "shard int, term string, block_id long, first_doc_id long, n_docs long, "
    "doc_gaps binary, tfs binary, dls binary, "
    "imp_tfs array<bigint>, imp_dls array<bigint>, poss binary, sum_tf long"
)
TERM_DF_SCHEMA = "term string, df long"


def block_impacts(tfs: np.ndarray, dls: np.ndarray) -> tuple[list[int], list[int]]:
    """Per-block IMPACTS (Lucene-style): the Pareto frontier of (tf, dl)
    pairs — tf↑ is better, dl↓ is better, so keep, scanning dl ascending,
    only pairs whose tf strictly exceeds every smaller-dl pair's tf. The
    query-time upper bound is max over pairs of tf·(k1+1)/(tf+k1·(1−b+
    b·dl/avgdl)) with the CURRENT avgdl — blocks carry no corpus statistic,
    so incremental upserts never invalidate other shards' bounds (the
    round-1 ``max_tf_norm`` baked the build-time avgdl into every block)."""
    order = np.lexsort((-tfs, dls))  # dl asc, tf desc within equal dl
    out_tf: list[int] = []
    out_dl: list[int] = []
    best = -1
    for i in order:
        t = int(tfs[i])
        if t > best:
            out_tf.append(t)
            out_dl.append(int(dls[i]))
            best = t
    return out_tf, out_dl


def _compress_runs(
    batches: Iterator[pd.DataFrame], block_size: int,
    with_positions: bool = False,
) -> Iterator[pd.DataFrame]:
    """Consume doc_id-sorted (shard, term, doc_id, tf, dl[, positions]) runs;
    emit compressed blocks. Runs may span Arrow batches within a partition,
    so a partial tail is carried over until the (shard, term) key changes.

    Each block carries its impact pairs (see :func:`block_impacts`); the
    build needs NO corpus statistics and no join against the term
    dictionary — WAND bounds assemble at query time from (impacts, idf,
    avgdl). With ``with_positions`` each block additionally carries a
    ``poss`` varint stream (per-posting delta-encoded token positions,
    lengths given by the decoded tfs — Lucene .prx-style); without it,
    ``poss`` is null.
    """
    from dp_search_data_importer_spark.operators.codec import encode_positions

    # carry = column arrays of a run's (< block_size) tail awaiting the
    # next batch: (shard, term, doc_ids, tfs, dls, plists)
    carry: tuple | None = None
    out_cols = ("shard", "term", "block_id", "first_doc_id", "n_docs",
                "doc_gaps", "tfs", "dls", "imp_tfs", "imp_dls", "poss",
                "sum_tf")

    def flush(shard: int, term, doc_ids, tfs, dls, plists, rows: list, *,
              final: bool) -> int:
        """Emit full blocks from the array slices; return the number of
        rows consumed (a multiple of block_size unless final). All of a
        run's blocks varint-encode in ONE vectorized pass
        (``encode_blocks_batch``, byte-identical to per-block
        ``encode_block`` by the codec equivalence test) — the per-block
        numpy dispatch was ~60% of this kernel's time (guide §1.2 step 2)."""
        n = len(doc_ids)
        n_full_end = n if final else (n // block_size) * block_size
        if n_full_end == 0:
            return 0
        starts = np.arange(0, n_full_end, block_size)
        g_all, t_all, d_all = encode_blocks_batch(
            doc_ids, tfs, dls, starts, n_full_end)
        sum_tfs = np.add.reduceat(tfs[:n_full_end], starts)
        for bi, start in enumerate(starts.tolist()):
            end = min(start + block_size, n_full_end)
            tfs_b, dls_b = tfs[start:end], dls[start:end]
            imp_tf, imp_dl = block_impacts(tfs_b, dls_b)
            if with_positions:
                flat = (
                    np.concatenate(
                        [np.asarray(x, dtype=np.int64)
                         for x in plists[start:end]])
                    if end > start else np.empty(0, dtype=np.int64)
                )
                p = encode_positions(flat, tfs_b)
            else:
                p = None
            rows.append(
                (shard, term, bi, int(doc_ids[start]), end - start,
                 g_all[bi], t_all[bi], d_all[bi], imp_tf, imp_dl, p,
                 int(sum_tfs[bi]))
            )
        return n_full_end

    def to_pdf(rows: list) -> pd.DataFrame:
        return pd.DataFrame(rows, columns=out_cols)

    for pdf in batches:
        if pdf.empty and carry is None:
            continue
        # column arrays once per batch — the earlier per-run DataFrame
        # slicing and a string-concat run key cost seconds per task at
        # millions of tf rows (guide §1.2 step 2: per-task work)
        sh = pdf["shard"].to_numpy()
        tm = pdf["term"].to_numpy()
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        tfs = pdf["tf"].to_numpy(dtype=np.int64)
        dls = pdf["dl"].to_numpy(dtype=np.int64)
        plists = pdf["positions"].to_numpy() if with_positions else None
        if carry is not None:
            c_sh, c_tm, c_ids, c_tfs, c_dls, c_pl = carry
            sh = np.concatenate((np.full(len(c_ids), c_sh), sh))
            tm = np.concatenate((np.full(len(c_ids), c_tm, dtype=object), tm))
            doc_ids = np.concatenate((c_ids, doc_ids))
            tfs = np.concatenate((c_tfs, tfs))
            dls = np.concatenate((c_dls, dls))
            if with_positions:
                plists = np.concatenate((c_pl, plists))
            carry = None
        n = len(doc_ids)
        if n == 0:
            continue
        # contiguous (shard, term) runs within the batch
        change = np.flatnonzero(
            (sh[1:] != sh[:-1]) | (tm[1:] != tm[:-1])) + 1
        bounds = np.concatenate(([0], change, [n]))
        rows: list = []
        for i in range(len(bounds) - 1):
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            is_last_run = i == len(bounds) - 2
            used = flush(int(sh[lo]), tm[lo], doc_ids[lo:hi], tfs[lo:hi],
                         dls[lo:hi], None if plists is None
                         else plists[lo:hi], rows, final=not is_last_run)
            if is_last_run and lo + used < hi:
                s = lo + used
                carry = (int(sh[lo]), tm[lo], doc_ids[s:hi], tfs[s:hi],
                         dls[s:hi],
                         None if plists is None else plists[s:hi])
        if rows:
            yield to_pdf(rows)
    if carry is not None:
        c_sh, c_tm, c_ids, c_tfs, c_dls, c_pl = carry
        rows = []
        flush(c_sh, c_tm, c_ids, c_tfs, c_dls, c_pl, rows, final=True)
        yield to_pdf(rows)


def write_postings(tf: DataFrame, shards: list[int], path: str,
                   block_size: int, *, positions: bool) -> None:
    """The one postings writer: (shard, doc_id, term, tf, dl[, positions])
    rows of ``shards`` → doc_id-sorted (shard, term) runs → compressed
    blocks → one sorted file per ``shard=k`` dir under ``path``.

    The sort+compress stage uses ALL task slots (guide §2.5): with fewer
    shards than cores, one-task-per-shard leaves (par − n_shards) cores
    idle. Each shard is sub-bucketed by a deterministic term hash — every
    (shard, term) run stays whole inside one task (bucket is a function of
    term), so block numbering and compression are byte-identical. Bucket
    count is ~4× the task count so the hash spreads evenly (guide §2.5:
    use many more distinct key values than partitions). When bucketed,
    the compressed blocks gather back to one task per shard before the
    write: leaving sub² files per shard dir measured 2.3× slower
    exact-query reads (115 vs 16 files at the bench index). The gather
    shuffles BLOCK rows (compressed bytes, far smaller than tf) and only
    exists in the shards<cores regime — at scale shards ≥ parallelism,
    sub=1, and neither extra shuffle happens.

    Dynamic partition overwrite, NOT append, and as a write option, never
    session conf (that would leak into the caller's later writes): only
    the written shards' dirs are replaced, so a resumed wave replaces
    blocks a crash left un-manifested instead of appending duplicates
    (duplicated postings would double exact scores and inflate WAND)."""
    par = max(1, tf.sparkSession.sparkContext.defaultParallelism)
    n_sh = len(shards)
    sub = max(1, min(8, (4 * par) // max(1, n_sh)))
    if sub > 1:
        runs = (
            tf.withColumn(
                "_tb", F.pmod(F.xxhash64("term"), F.lit(sub)).cast("int"))
            .repartition(min(par, n_sh * sub), "shard", "_tb")
            .sortWithinPartitions("shard", "term", "doc_id")
            .drop("_tb")
        )
    else:
        runs = tf.repartition(n_sh, "shard").sortWithinPartitions(
            "shard", "term", "doc_id")
    blocks = runs.mapInPandas(
        lambda it: _compress_runs(it, block_size, with_positions=positions),
        schema=BLOCKS_SCHEMA,
    )
    if sub > 1:
        blocks = blocks.repartition(n_sh, "shard").sortWithinPartitions(
            "shard", "term", "block_id")
    (blocks.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("shard").parquet(path))


def tokenize_docs(docs: DataFrame, *, code_aware: bool = True,
                  text_col: str = "content",
                  tokenizer: str = "arrow",
                  positions: bool = False) -> DataFrame:
    """Map-side (doc_id, term, tf, dl[, positions]) extraction.
    ``tokenizer="arrow"`` (default) is the Python/Arrow Counter path;
    ``"sql"`` is the pure Catalyst twin — row-identical (property-tested),
    preferable on JVM-only executors. Measured trade-off in
    BENCH/ANALYSIS.md (round 2). ``positions=True`` adds each row's
    ascending token positions (len == tf) for positional index builds."""
    if positions:
        if tokenizer == "sql":
            from dp_search_data_importer_spark.operators.phrase import (
                doc_positions,
            )

            return doc_positions(
                docs, code_aware=code_aware, text_col=text_col,
            ).select("doc_id", "term",
                     F.size("positions").cast("long").alias("tf"),
                     "dl", "positions")
        from dp_search_data_importer_spark.functions.tokenize import (
            term_freqs_with_positions,
        )

        return term_freqs_with_positions(
            docs, code_aware=code_aware, text_col=text_col)
    if tokenizer == "sql":
        from dp_search_data_importer_spark.operators.postings import (
            term_freqs_sql,
        )

        return term_freqs_sql(docs, id_col="doc_id", text_col=text_col,
                              code_aware=code_aware)
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
    tokenizer: str = "arrow",
    waves: int | None = None,
    resume: bool = True,
    already_normalized: bool = False,
    check_collisions: bool = False,
    positions: bool = False,
    verbose: bool = False,
) -> dict:
    """Build (or resume) the sharded compressed index under ``out_dir``.

    ``waves=None`` (default) sizes the wave count adaptively: one wave when
    the cluster has at least one task slot per shard (the common case —
    serial waves would leave slots idle), more only when shards exceed
    parallelism. Pass an explicit ``waves`` to pin the resume granularity.

    ``positions=True`` builds a POSITIONAL index: each block carries a
    varint position stream (``poss``) and phrase queries decode positions
    straight from the postings — no sidecar, no duplicated keys. ~Half the
    positional storage of the round-2 sidecar (measured, BENCH/ANALYSIS.md).

    Layout:
      out_dir/docs/        doc map (doc_id, repo, path, commit, lang,
                           content_sha256, shard) — parquet by shard
      out_dir/term_df/     global term dictionary (term, df)
      out_dir/postings/    block rows (BLOCKS_SCHEMA) — parquet by shard
      out_dir/_manifest/   per-shard lineage + metrics (checkpoint.py)
      out_dir/stats.json   n_docs, avgdl, config echo, and ``version``:
                           a fresh id per commit (plan-cache key)

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
        # postings on top of committed blocks — duplicated scores). The
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
            (to_write.repartition(cfg.n_shards, "shard")
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
    # sort/compress/write across tasks inside one job.
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
    # running that a resume could overlap.
    pool = ThreadPoolExecutor(max_workers=2, thread_name_prefix="build_index")
    try:
        docs_fut = pool.submit(_docs_job)
        manifest_fut = None
        for i, wave_shards in enumerate(wave_lists):
            tf = tokenize_docs(
                docs.filter(F.col("shard").isin(wave_shards))
                .select("doc_id", text_col),
                code_aware=code_aware, text_col=text_col,
                tokenizer=tokenizer, positions=positions,
            ).withColumn(
                "shard",
                F.pmod(F.col("doc_id"), F.lit(cfg.n_shards)).cast("int"))
            write_postings(tf, wave_shards, postings_dir, cfg.block_size,
                           positions=positions)
            _mark(f"wave{i}_tokenize_compress_write")
            shard_counts = docs_fut.result()

            def _manifest_job(ws=wave_shards, idx=i) -> None:
                append_manifest(
                    manifest_rows(spark, postings_dir,
                                  {s: shard_counts.get(s, 0) for s in ws}),
                    out_dir)
                _mark(f"wave{idx}_manifest")

            if i == len(wave_lists) - 1:
                # final wave: the manifest read-back and the
                # metadata-derived term_df/stats below both read the
                # now-committed postings — independent jobs, overlap them
                manifest_fut = pool.submit(_manifest_job)
            else:
                _manifest_job()
        shard_counts = docs_fut.result()

        # ---- term dictionary + corpus stats from block METADATA
        # (read-back: certifies disk, like the manifest). Block rows are
        # pre-aggregated per (shard, term): df(term) = Σ n_docs,
        # Σdl = Σ sum_tf — a column-pruned scan of (term, n_docs, sum_tf)
        # that never touches the compressed binary columns. Skew is handled
        # STRUCTURALLY: the map-side partial agg runs per shard partition,
        # so even a term present in every document contributes at most
        # n_shards partial rows to the final shuffle — no salting needed.
        n_docs_total = sum(shard_counts.values())
        if os.path.exists(postings_dir):
            # known schema: a resumed build can keep shards written by an
            # older engine whose blocks predate the sum_tf column; those
            # read it as null, which would undercount sum_dl (skewing
            # avgdl/BM25), so fail LOUDLY on any null sum_tf instead of
            # serving wrong stats. (A build that wrote no block reads an
            # empty frame.)
            meta = spark.read.schema(BLOCKS_SCHEMA).parquet(postings_dir)
            meta.groupBy("term").agg(
                F.sum("n_docs").cast("long").alias("df")
            ).write.mode("overwrite").parquet(os.path.join(out_dir, "term_df"))
            agg = meta.agg(
                F.sum("sum_tf").alias("s"),
                F.sum(F.when(F.col("sum_tf").isNull(), 1).otherwise(0))
                .alias("n_null"),
            ).collect()[0]
            if int(agg["n_null"] or 0) > 0:
                raise ValueError(
                    f"{int(agg['n_null'])} block rows under {postings_dir} "
                    "have null sum_tf (mixed-schema postings: some shards "
                    "predate the sum_tf column); rebuild those shards "
                    "(resume=False) before trusting metadata-derived stats"
                )
            sum_dl_total = int(agg["s"] or 0)
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
            "block_size": cfg.block_size, "n_shards": cfg.n_shards,
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
