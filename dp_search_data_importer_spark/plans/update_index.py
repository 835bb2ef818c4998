"""Incremental index upsert — the reference's continuous-import semantics
applied to the native index.

The reference's whole job is a forever-stream of documents keyed by uid
flowing into the search index as idempotent upserts
(``/root/reference/handler/handler.go:133-155`` ``doc_as_upsert``); its index
maintenance is delegated to Elasticsearch. This module is the Spark-native
equivalent for OUR index: a batch of new/changed documents updates the
sharded postings WITHOUT touching unaffected shards.

Design (all shard-local, batch-proportional):

1. new docs hash to shards exactly like the build; only those shards'
   postings rows are read back (shard-dir pruned scan), once, inside the
   postings writer's map stage — the rest of the index is never scanned;
2. replaced docs' rows are dropped (keyed last-writer-wins, like
   ``doc_as_upsert``), the batch's tf rows union in, and the affected
   shards are rewritten with the SAME (term, doc_id) sort as a fresh
   build, so the result is row-identical to rebuilding the merged corpus
   from scratch (property-tested on shard fingerprints);
3. corpus statistics update by exact integer deltas, one rule with the
   build (``build_index.signed_counts``): per term, the new df is the old
   df plus the batch's new tf rows minus the live rows of the docs the
   batch removes (replaced or deleted), and Σdl moves by the same
   difference of ``tf``. That is the same integer result as "staged rows
   minus live rows", but it depends only on the frozen batch and the live
   index, not on the staged postings. n_docs and per-shard doc counts are
   observed on the staged docs write. Postings carry no corpus statistic,
   so a drifting avgdl never invalidates untouched shards; queries always
   score with the CURRENT stats, exactly like Lucene applying norms at
   search time;
4. **crash-atomic multi-artifact commit**: every new artifact (postings
   shard dirs, docs shard dirs, term_df, manifest, stats.json) is STAGED
   under ``_upsert_stage/`` while the live index is only read; a
   ``_COMMIT.json`` marker is written last, and only then are live dirs
   swapped in via backup-rename. :func:`recover_index` (called on entry to
   every upsert) rolls an interrupted commit forward when the marker
   exists — every staged artifact lands — and rolls it back (discards the
   stage) when it does not, so the live index is always EITHER the
   pre-batch state or the post-batch state, never a mix with drifted
   stats. Same discipline as ``streaming.ingest_stream.recover_store``;
5. one staging routine (:func:`_stage_batch`) serves upsert and delete:
   after the batch is frozen under the stage, the postings, docs and
   term_df jobs run at the same time from a driver pool whose threads
   inherit the caller's job group and ``streaming.sql.batchId``; the
   manifest read-back follows once postings and docs have landed. A
   micro-batch's cost is mostly fixed per-job planning and start-up, so
   overlapping the three jobs shortens the commit, not just the CPU.

A shard whose merged content tokenizes to zero terms is handled explicitly:
its live ``postings/shard=k`` dir is DELETED during the swap (recorded in
the commit marker), matching a fresh rebuild where the shard would simply
emit no rows — dynamic partition overwrite alone would have left the
stale dir searchable.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dp_search_data_importer_spark.checkpoint import (
    MANIFEST_SCHEMA,
    manifest_rows,
    read_stats_json,
    write_stats_json,
)
from dp_search_data_importer_spark.operators.ingest import normalize_repo_files
from dp_search_data_importer_spark.plans.build_index import (
    repartition_by_shard,
    signed_counts,
    term_df_files,
    tokenize_docs,
    write_postings,
    write_term_df,
)
from dp_search_data_importer_spark.plans.query import (
    _query_term_pairs,
    decompress_blocks,
    load_blocks,
    load_docs,
    load_term_df,
)

_STAGE = "_upsert_stage"
_COMMIT = "_COMMIT.json"
_OLD = "_old_"  # backup prefix, flattened names at the index root
_LOCKNAME = "_COMMIT.lock"


def apply_commit_locked(root: str, marker: str, apply_fn,
                        wait_s: float = 120.0,
                        stale_s: float = 60.0) -> bool:
    """Serialize commit application across processes (ADVICE r4 medium):
    read-path self-healing made every reader a potential writer, and two
    concurrent appliers racing the same rename sequence can throw
    FileNotFoundError spuriously. An ``O_EXCL`` lockfile at the store
    root claims the commit; losers wait for the marker to disappear
    (the winner applies and removes it) instead of racing.

    Crash-safety: a holder that dies leaves the lockfile behind — locks
    older than ``stale_s`` are broken and re-claimed (``apply_fn`` is an
    idempotent rename-based roll-forward, so a second application after
    a genuine crash is safe; the staleness threshold only guards against
    stealing from a LIVE, slow applier). Returns True iff THIS process
    applied the commit; False when another process finished it first."""
    import time

    lock = os.path.join(root, _LOCKNAME)
    deadline = time.monotonic() + wait_s
    while True:
        if not os.path.exists(marker):
            return False
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                age = time.time() - os.stat(lock).st_mtime
            except OSError:
                continue  # lock vanished: re-contend immediately
            if age > stale_s:
                try:
                    os.remove(lock)
                except OSError:
                    pass
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit lock {lock} held past {wait_s}s while marker "
                    f"{marker} persists — applier stuck?")
            time.sleep(0.05)
            continue
        try:
            os.write(fd, str(os.getpid()).encode())
        finally:
            os.close(fd)
        try:
            if not os.path.exists(marker):  # raced: winner already applied
                return False
            with open(marker) as f:
                meta = json.load(f)
            apply_fn(meta)
            return True
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass


def _stage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, _STAGE)


def _backup(out_dir: str, name: str) -> str:
    return os.path.join(out_dir, _OLD + name)


def _swap_dir(live: str, staged: str, backup: str) -> None:
    """Replace ``live`` with ``staged`` via backup-rename; idempotent under
    re-execution after a crash at any point (roll-forward)."""
    if os.path.exists(staged):
        if os.path.exists(live):
            os.rename(live, backup)
        os.rename(staged, live)
    if os.path.exists(backup):
        # either the swap above just completed, or a previous attempt
        # crashed after staged→live: the new data is live, drop the backup
        if os.path.exists(live):
            shutil.rmtree(backup)
        else:  # crash between the two renames: restore
            os.rename(backup, live)


def _delete_dir(live: str, backup: str) -> None:
    """Remove ``live`` (rename-first so a crash mid-delete can't leave a
    half-deleted dir looking live); idempotent."""
    if os.path.exists(live):
        os.rename(live, backup)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def _apply_commit(out_dir: str, meta: dict) -> None:
    """Roll a fully-staged upsert forward. Safe to re-run from any crash
    point: every step is an idempotent rename-based swap."""
    stage = _stage_dir(out_dir)
    for s in meta["replace_postings"]:
        _swap_dir(os.path.join(out_dir, "postings", f"shard={s}"),
                  os.path.join(stage, "postings", f"shard={s}"),
                  _backup(out_dir, f"postings_shard_{s}"))
    for s in meta["delete_postings"]:
        _delete_dir(os.path.join(out_dir, "postings", f"shard={s}"),
                    _backup(out_dir, f"postings_shard_{s}"))
    for s in meta["affected"]:
        _swap_dir(os.path.join(out_dir, "docs", f"shard={s}"),
                  os.path.join(stage, "docs", f"shard={s}"),
                  _backup(out_dir, f"docs_shard_{s}"))
    for s in meta.get("delete_docs_shards", []):
        # a delete that empties a shard stages no docs dir for it — the
        # live dir must go explicitly (same reasoning as delete_postings)
        _delete_dir(os.path.join(out_dir, "docs", f"shard={s}"),
                    _backup(out_dir, f"docs_shard_{s}"))
    _swap_dir(os.path.join(out_dir, "term_df"),
              os.path.join(stage, "term_df"), _backup(out_dir, "term_df"))
    _swap_dir(os.path.join(out_dir, "_manifest"),
              os.path.join(stage, "manifest"), _backup(out_dir, "manifest"))
    if meta.get("drop_positions"):
        # the sidecar was built from a previous corpus; a stale sidecar
        # silently serves phrase matches for replaced content (ADVICE r2)
        _delete_dir(os.path.join(out_dir, "positions"),
                    _backup(out_dir, "positions"))
    staged_stats = os.path.join(stage, "stats.json")
    if os.path.exists(staged_stats):
        os.replace(staged_stats, os.path.join(out_dir, "stats.json"))
    os.remove(os.path.join(stage, _COMMIT))
    shutil.rmtree(stage, ignore_errors=True)


def _freeze(spark: SparkSession, frame: DataFrame, path: str,
            *metrics) -> tuple[DataFrame, dict]:
    """Write ``frame`` once under the stage and read it back with its
    schema, so every consumer sees the same rows (a within-batch dedup
    picks one row per key; a delete set must not depend on the live docs
    dir at swap time). Returns the frozen frame and ``metrics``, observed
    on the write."""
    obs = Observation()
    frame.observe(obs, *metrics).write.mode("overwrite").parquet(path)
    return spark.read.schema(frame.schema).parquet(path), obs.get


def _stage_postings(out_dir: str, tf: DataFrame, affected: list[int],
                    positions: bool) -> tuple[list[int], list[int]]:
    """Rewrite the affected shards' merged tf rows into the stage with the
    SAME sort as a fresh build (row-identical result). Returns (shards
    staged, affected shards left with no postings): a shard with no rows
    stages no dir, and its live dir must be deleted — dynamic partition
    overwrite alone would leave it searchable."""
    staged_postings = os.path.join(_stage_dir(out_dir), "postings")
    write_postings(tf, affected, staged_postings, positions=positions)
    staged = {int(d.split("=", 1)[1]) for d in os.listdir(staged_postings)
              if d.startswith("shard=")}
    return sorted(staged), sorted(set(affected) - staged)


def _stage_term_df(spark: SparkSession, out_dir: str, removed: DataFrame,
                   new_tf: DataFrame | None) -> int:
    """Stage term_df updated by the build's rule applied as a difference:
    df(term) moves by the batch's new tf rows of the term minus the live
    rows of the docs the batch removes. Returns the Σdl delta (the same
    difference of ``tf``), observed on the term_df write."""
    counts = load_term_df(spark, out_dir).select(
        "term", "df", F.lit(0).cast("long").alias("sum_tf")).unionByName(
        signed_counts(removed, -1))
    if new_tf is not None:
        counts = counts.unionByName(signed_counts(new_tf, 1))
    obs = Observation()
    # observed above the shuffle: adaptive execution drops a metric
    # computed inside a stage it replaces for producing no rows. The
    # rows are the live dictionary (one per term) and batch-sized
    # deltas, so they need no combine before the writer's exchange.
    write_term_df(counts, os.path.join(_stage_dir(out_dir), "term_df"),
                  term_df_files(os.path.join(out_dir, "term_df")),
                  obs, F.sum("sum_tf").alias("sum_dl"))
    return int(obs.get["sum_dl"] or 0)


def _stage_docs(docs: DataFrame, out_dir: str,
                affected: list[int]) -> dict[int, int]:
    """Stage the affected shards' docs dirs; returns each affected shard's
    doc count, observed on the write (a shard left with no docs stages no
    dir and counts 0)."""
    obs = Observation()
    (repartition_by_shard(docs, affected)
     .observe(obs, *[F.sum((F.col("shard") == s).cast("long"))
                     .alias(f"s{s}") for s in affected])
     .write.mode("overwrite").partitionBy("shard")
     .parquet(os.path.join(_stage_dir(out_dir), "docs")))
    got = obs.get
    return {s: int(got[f"s{s}"] or 0) for s in affected}


def _stage_stats(out_dir: str, stats: dict, shard_counts: dict[int, int],
                 sum_dl_delta: int) -> dict:
    """Stage and return stats.json after the commit: the affected shards'
    doc counts replace their entries (an emptied shard keeps an explicit 0,
    as a fresh build's docs-write observation records every shard), n_docs
    moves with them, and Σdl moves by ``sum_dl_delta``."""
    shard_docs = {int(k): int(v) for k, v in stats["shard_docs"].items()}
    n_docs = stats["n_docs"] + sum(n - shard_docs.get(s, 0)
                                   for s, n in shard_counts.items())
    shard_docs.update(shard_counts)
    sum_dl = int(stats.get("sum_dl",
                           round(stats["avgdl"] * stats["n_docs"])))
    sum_dl += sum_dl_delta
    new_stats = {**stats, "n_docs": n_docs, "sum_dl": sum_dl,
                 "avgdl": float(sum_dl / n_docs) if n_docs else 0.0,
                 "shard_docs": shard_docs}
    write_stats_json(_stage_dir(out_dir), new_stats)
    return new_stats


def _stage_manifest(spark: SparkSession, out_dir: str, affected: list[int],
                    replace_postings: list[int],
                    shard_docs: dict[int, int]) -> None:
    """Stage the manifest: the live rows of unaffected shards plus a
    read-back of the staged postings. A deleted (zero-term) shard gets no
    row, exactly like a fresh build where it emits no postings."""
    staged = spark.read.schema(MANIFEST_SCHEMA).parquet(
        os.path.join(out_dir, "_manifest")).filter(
        ~F.col("shard").isin(affected))
    if replace_postings:
        staged = staged.unionByName(manifest_rows(
            spark, os.path.join(_stage_dir(out_dir), "postings"),
            {s: shard_docs.get(s, 0) for s in replace_postings}))
    staged.write.mode("overwrite").parquet(
        os.path.join(_stage_dir(out_dir), "manifest"))


def _stage_batch(spark: SparkSession, out_dir: str, stats: dict,
                 affected: list[int], gone: DataFrame,
                 new_tf: DataFrame | None = None,
                 new_docs: DataFrame | None = None) -> tuple[dict, dict]:
    """Stage every artifact of a batch that removes the docs ``gone``
    (a frozen doc_id frame) from the ``affected`` shards and adds the
    frozen batch's ``new_tf`` tf rows and ``new_docs`` docs rows. Returns
    (commit marker meta, staged stats).

    Every input is the frozen batch or the live index, so the postings,
    docs and term_df jobs run at the same time from a driver pool, the
    postings job (the longest) submitted first; the manifest read-back
    follows once postings and docs have landed. The pool is joined on
    every exit, before the caller cleans the stage up."""
    has_pos = bool(stats.get("positions", False))
    live = load_blocks(spark, out_dir).filter(F.col("shard").isin(affected))
    merged_tf = decompress_blocks(live, include_positions=has_pos).join(
        gone, "doc_id", "left_anti")
    docs = (load_docs(spark, out_dir).filter(F.col("shard").isin(affected))
            .join(gone, "doc_id", "left_anti"))
    if new_docs is not None:
        merged_tf = merged_tf.unionByName(new_tf)
        # the docs table keeps its columns that the batch carries
        cols = [c for c in docs.columns if c in new_docs.columns]
        docs = docs.select(*cols).unionByName(new_docs.select(*cols))
    merged_tf = merged_tf.withColumn("shard", F.pmod(
        F.col("doc_id"), F.lit(stats["n_shards"])).cast("int"))

    # the pool threads run their jobs with the caller's local properties
    # (job group, streaming.sql.batchId), captured at submission
    inherit = inheritable_thread_target(spark)
    pool = ThreadPoolExecutor(max_workers=3,
                              thread_name_prefix="update_index")
    try:
        postings_fut = pool.submit(inherit(_stage_postings),
                                   out_dir, merged_tf, affected, has_pos)
        docs_fut = pool.submit(inherit(_stage_docs), docs, out_dir, affected)
        term_df_fut = pool.submit(
            inherit(_stage_term_df), spark, out_dir,
            live.join(gone, "doc_id", "left_semi"), new_tf)
        replace_postings, delete_postings = postings_fut.result()
        shard_counts = docs_fut.result()
        _stage_manifest(spark, out_dir, affected, replace_postings,
                        shard_counts)
        sum_dl_delta = term_df_fut.result()
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    new_stats = _stage_stats(out_dir, stats, shard_counts, sum_dl_delta)
    meta = {
        "affected": affected,
        "replace_postings": replace_postings,
        "delete_postings": delete_postings,
        # a delete that empties a shard stages no docs dir for it
        "delete_docs_shards": [s for s in affected if shard_counts[s] == 0],
        "drop_positions": os.path.exists(os.path.join(out_dir, "positions")),
    }
    return meta, new_stats


def _commit(out_dir: str, meta: dict) -> None:
    """Write the commit marker last, then swap (roll-forward-able from
    here); the writer contends under the same lock as self-healing
    readers."""
    marker = os.path.join(_stage_dir(out_dir), _COMMIT)
    with open(marker, "w") as f:
        json.dump(meta, f)
    apply_commit_locked(out_dir, marker, lambda m: _apply_commit(out_dir, m))


@contextmanager
def _staging(out_dir: str):
    """A fresh ``_upsert_stage/`` for one batch, removed on exit only if
    the commit marker never landed (pure staging failure → rollback). A
    stage WITH a marker must survive so the next upsert's
    :func:`recover_index` rolls the half-applied commit forward."""
    stage = _stage_dir(out_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    try:
        yield stage
    finally:
        if not os.path.exists(os.path.join(stage, _COMMIT)):
            shutil.rmtree(stage, ignore_errors=True)


def recover_for_read(out_dir: str) -> bool:
    """The read-safe half of :func:`recover_index`: roll an interrupted
    commit FORWARD iff the commit marker exists, else do nothing.

    Called from every query/stats entry point (``plans.query.load_blocks``
    / ``expand_terms``, ``checkpoint.read_stats_json``) so a crash inside
    :func:`_apply_commit` can never leave queries serving a MIXED pre/post
    index until the next upsert happens — the 'never a mix' guarantee
    holds for readers too. Unlike :func:`recover_index` this never rolls
    BACK: a marker-less stage may belong to an upsert that is still
    staging, and readers must not destroy it (the live index is untouched
    until the marker lands, so it is consistent regardless). Cost in the
    common case: one ``os.path.exists``. Application is serialized via
    :func:`apply_commit_locked`, so concurrent readers (or a reader
    racing the writer) can't race the rename sequence. Returns True iff
    a roll-forward happened (by this process or a concurrent one while
    we waited).
    """
    marker = os.path.join(_stage_dir(out_dir), _COMMIT)
    if not os.path.exists(marker):
        return False
    apply_commit_locked(out_dir, marker,
                        lambda meta: _apply_commit(out_dir, meta))
    return True


def recover_index(out_dir: str) -> str:
    """Repair an upsert interrupted at any point. Returns the action taken:
    ``"forward"`` (commit marker present → finish the swap), ``"back"``
    (staging incomplete → discard it), or ``"clean"``. Idempotent; called
    on entry to every :func:`upsert_docs`."""
    stage = _stage_dir(out_dir)
    marker = os.path.join(stage, _COMMIT)
    if os.path.exists(marker):
        apply_commit_locked(out_dir, marker,
                            lambda meta: _apply_commit(out_dir, meta))
        return "forward"
    acted = False
    if os.path.exists(out_dir):
        # stray backups can only exist post-marker; restore any whose live
        # dir is missing (crash inside a swap), then drop the rest
        for name in sorted(os.listdir(out_dir)):
            if not name.startswith(_OLD):
                continue
            acted = True
            suffix = name[len(_OLD):]
            if suffix.startswith("postings_shard_"):
                live = os.path.join(out_dir, "postings",
                                    f"shard={suffix.rsplit('_', 1)[1]}")
            elif suffix.startswith("docs_shard_"):
                live = os.path.join(out_dir, "docs",
                                    f"shard={suffix.rsplit('_', 1)[1]}")
            elif suffix == "manifest":
                live = os.path.join(out_dir, "_manifest")
            else:
                live = os.path.join(out_dir, suffix)
            backup = os.path.join(out_dir, name)
            if os.path.exists(live):
                shutil.rmtree(backup)
            else:
                os.rename(backup, live)
    if os.path.exists(stage):
        shutil.rmtree(stage)
        return "back"
    return "back" if acted else "clean"


def upsert_docs(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    *,
    already_normalized: bool = False,
    text_col: str = "content",
) -> dict:
    """Apply a batch of new/changed documents to the index at ``out_dir``.

    Keyed upsert on doc_id (an existing doc with the same id is replaced;
    duplicates within the batch collapse to one row). Returns accounting:
    {received, upserted, replaced, added, affected_shards} — the A9 twin.

    The live index is only READ until every new artifact is staged and the
    commit marker is written (see module docstring); a crash anywhere
    leaves an index that :func:`recover_index` restores to exactly the
    pre-batch or post-batch state.
    """
    recover_index(out_dir)
    stats = read_stats_json(out_dir)
    n_shards = stats["n_shards"]

    raw_obs = Observation()
    raw = new_docs.observe(raw_obs, F.count(F.lit(1)).alias("n"))
    batch = raw if already_normalized else normalize_repo_files(raw)
    batch = batch.dropDuplicates(["doc_id"]).withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
    )

    with _staging(out_dir) as stage:
        # the freeze observes the distinct docs and the shards they hash
        # to; the raw row count sits below the dedup
        batch, got = _freeze(spark, batch, os.path.join(stage, "batch"),
                             F.count(F.lit(1)).alias("n"),
                             F.collect_set("shard").alias("shards"))
        upserted = int(got["n"])
        affected = sorted(got["shards"])
        if not affected:
            # the raw count sits under the dedup shuffle, whose empty stage
            # adaptive execution replaces together with its metrics
            return {"received": new_docs.count(), "upserted": 0,
                    "replaced": 0, "added": 0, "affected_shards": []}
        received = int(raw_obs.get["n"])

        # the affected shards only: their live rows minus the replaced
        # docs, plus the batch's rows (the live index is only read)
        new_tf = tokenize_docs(
            batch, code_aware=bool(stats.get("code_aware", False)),
            text_col=text_col,
            positions=bool(stats.get("positions", False)))
        meta, new_stats = _stage_batch(
            spark, out_dir, stats, affected, batch.select("doc_id"),
            new_tf=new_tf, new_docs=batch)
        _commit(out_dir, meta)

    # a replaced doc leaves its shard's count unchanged, so the
    # replacements are the upserted docs that did not grow the corpus
    replaced = upserted - (new_stats["n_docs"] - stats["n_docs"])
    return {"received": received, "upserted": upserted,
            "replaced": replaced, "added": upserted - replaced,
            "affected_shards": affected}


def delete_docs(spark: SparkSession, out_dir: str, ids: DataFrame, *,
                id_col: str = "doc_id") -> dict:
    """Keyed delete — the removal half of the CRUD surface (ES
    ``_delete_by_query`` lands here after matching; direct id deletes are
    the ES ``DELETE /index/_doc/{id}`` twin). Same staged-commit protocol
    and staging routine as :func:`upsert_docs`: only the shards holding
    deleted docs are read back and rewritten; corpus stats update by exact
    integer deltas; a crash at any point leaves the pre- or post-delete
    index, never a mix. Unknown ids are ignored (idempotent redelivery). A
    shard whose LAST doc is deleted loses its postings dir, docs dir and
    manifest row, and its shard_docs count drops to 0 — artifact-identical
    to a fresh build of the surviving corpus (property-tested).

    Returns {requested, deleted, not_found, affected_shards}.
    """
    recover_index(out_dir)
    stats = read_stats_json(out_dir)

    req_obs = Observation()
    ids_df = (ids.select(F.col(id_col).cast("long").alias("doc_id"))
              .dropDuplicates(["doc_id"])
              .observe(req_obs, F.count(F.lit(1)).alias("n")))

    with _staging(out_dir) as stage:
        # the freeze observes the present ids and the shards holding them
        del_ids, got = _freeze(
            spark, load_docs(spark, out_dir).join(ids_df, "doc_id",
                                                  "left_semi")
            .select("doc_id", "shard"), os.path.join(stage, "delete_ids"),
            F.count(F.lit(1)).alias("n"),
            F.collect_set("shard").alias("shards"))
        n_deleted = int(got["n"])
        affected = sorted(got["shards"])
        if not affected:
            # as in upsert_docs: with no row past the join, adaptive
            # execution may have dropped the requested-ids metric
            requested = ids_df.count()
            return {"requested": requested, "deleted": 0,
                    "not_found": requested, "affected_shards": []}
        requested = int(req_obs.get["n"])

        meta, _ = _stage_batch(spark, out_dir, stats, affected,
                               del_ids.select("doc_id"))
        _commit(out_dir, meta)

    return {"requested": requested, "deleted": n_deleted,
            "not_found": requested - n_deleted, "affected_shards": affected}


def match_ids(spark: SparkSession, out_dir: str, text: str, *,
              operator: str = "or") -> DataFrame | None:
    """Full ``match``-query hit set (doc_id frame, not top-k) against the
    stored index — the shared matching phase of ``_delete_by_query`` and
    query-filtered ``_reindex``. Candidates come from the term-pruned
    postings scan — never a corpus scan — and membership is one grouped
    aggregation, so matching scales exactly like the query path. Returns
    ``None`` when the query tokenizes to nothing. The query tokenizes on
    the driver, and tf holds one row per (doc, term), so a doc's row
    count is its number of distinct matched terms."""
    if operator not in ("or", "and"):
        raise ValueError("operator must be 'or' or 'and'")
    stats = read_stats_json(out_dir)
    terms = sorted({t for _, t in _query_term_pairs(
        [(0, text)], bool(stats.get("code_aware", False)))})
    if not terms:
        return None
    matched = (decompress_blocks(load_blocks(spark, out_dir, terms))
               .groupBy("doc_id").agg(F.count(F.lit(1)).alias("m")))
    need = len(terms) if operator == "and" else 1
    return matched.filter(F.col("m") >= F.lit(need)).select("doc_id")


def delete_by_query(spark: SparkSession, out_dir: str, text: str, *,
                    operator: str = "or") -> dict:
    """ES ``_delete_by_query`` twin for a ``match`` query against the
    stored index: the full hit set (not top-k) feeds :func:`delete_docs`.
    ``operator="or"`` deletes docs containing ANY query term (the ES
    match default); ``"and"`` requires every distinct term."""
    ids = match_ids(spark, out_dir, text, operator=operator)
    if ids is None:
        return {"requested": 0, "deleted": 0, "not_found": 0,
                "affected_shards": []}
    return delete_docs(spark, out_dir, ids)


def update_by_query(spark: SparkSession, out_dir: str, text: str,
                    assignments: dict, *, operator: str = "or") -> dict:
    """ES ``_update_by_query`` twin for METADATA fields: every doc in the
    full ``match`` hit set gets ``assignments`` applied — each value is a
    plain literal or ``{"script": source, "params": {...}}`` in the
    restricted Painless subset (``plans/painless``; ``doc['f'].value``
    reads the doc's CURRENT fields, as ``ctx._source.f`` does in ES).

    Only non-identity metadata columns are updatable: ``doc_id``/``shard``
    key the index, ``repo``/``path``/``commit`` derive the doc_id, and
    ``content_sha256`` attests the source bytes — assigning any of them is
    refused (in ES too, reindexing is how identity changes; that twin is
    :func:`plans.reindex.reindex`). Content changes go through
    :func:`upsert_docs`, the reference's ``doc_as_upsert``.

    Same staged-commit protocol as upsert/delete, restricted to the docs
    dirs of affected shards: postings, term_df, manifest, and stats are
    untouched (metadata never feeds the postings), so the commit is
    docs-shard swaps only — batch-proportional, crash-atomic, idempotent
    under redelivery (assignments are absolute, not increments).

    Returns {matched, updated, affected_shards}.
    """
    recover_index(out_dir)
    ids = match_ids(spark, out_dir, text, operator=operator)
    if ids is None:
        return {"matched": 0, "updated": 0, "affected_shards": []}
    docs_store = load_docs(spark, out_dir)
    immutable = {"doc_id", "shard", "repo", "path", "commit",
                 "content_sha256"}
    for col in assignments:
        if col in immutable:
            raise ValueError(f"column {col!r} is part of the document "
                             "identity/integrity contract; use reindex "
                             "or upsert_docs instead")
        if col not in docs_store.columns:
            raise ValueError(f"unknown docs column: {col!r}")

    with _staging(out_dir) as stage:
        present, got = _freeze(
            spark, docs_store.join(ids, "doc_id", "left_semi")
            .select("doc_id", "shard"), os.path.join(stage, "update_ids"),
            F.count(F.lit(1)).alias("n"),
            F.collect_set("shard").alias("shards"))
        n_matched = int(got["n"])
        affected = sorted(got["shards"])
        if not affected:
            return {"matched": 0, "updated": 0, "affected_shards": []}

        upd = (docs_store.filter(F.col("shard").isin(affected))
               .join(present.select("doc_id", F.lit(1).alias("_hit")),
                     "doc_id", "left"))
        for col, val in assignments.items():
            if isinstance(val, dict) and "script" in val:
                from dp_search_data_importer_spark.plans.painless import (
                    compile_script,
                )

                new_col, _ = compile_script(
                    val["script"], val.get("params"), F.lit(0.0), F.col)
            else:
                new_col = F.lit(val)
            upd = upd.withColumn(
                col, F.when(F.col("_hit") == 1,
                            new_col.cast(dict(upd.dtypes)[col]))
                .otherwise(F.col(col)))
        (repartition_by_shard(upd.drop("_hit"), affected)
         .write.mode("overwrite").partitionBy("shard")
         .parquet(os.path.join(stage, "docs")))
        _commit(out_dir, {"replace_postings": [], "delete_postings": [],
                          "affected": affected, "drop_positions": False})
    return {"matched": n_matched, "updated": n_matched,
            "affected_shards": affected}
