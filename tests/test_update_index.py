"""Incremental index upsert ≡ fresh rebuild of the merged corpus.

The strongest possible contract: after upserting a batch (replacements +
additions), every artifact — per-shard content fingerprints, corpus stats,
term dictionary, and both query paths' results — must be identical to
building the merged corpus from scratch. This is the native-index twin of
the reference's doc_as_upsert effectively-once semantics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dp_search_data_importer_spark.checkpoint import read_manifest, read_stats_json
from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.plans import query as q
from dp_search_data_importer_spark.plans.build_index import build_index
from dp_search_data_importer_spark.plans.update_index import upsert_docs

CFG = EngineConfig(n_shards=4)
SCHEMA = "repo string, path string, commit string, lang string, content string"

WORDS = ["import", "def", "merge", "hash", "join", "scan", "sort", "window",
         "agg", "stream", "token", "shard", "block", "query", "batch"]


def _rows(n, tag=""):
    rows = []
    for i in range(n):
        words = [WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(12 + i % 9)]
        rows.append(("r1", f"src/f{i}.py", "c1", "py",
                     " ".join(words) + (f" {tag}" if tag else "")))
    return rows


@pytest.fixture(scope="module")
def upserted_vs_fresh(spark, tmp_path_factory):
    base = _rows(60)
    # batch: replace 5 docs (same natural key → same doc_id, new content)
    # and add 3 brand-new docs
    replaced = [(r, p, c, lg, "totally rewritten zebra content " + p)
                for (r, p, c, lg, _) in base[10:15]]
    added = [("r1", f"src/new{i}.py", "c1", "py",
              f"fresh zebra quokka doc number {i}") for i in range(3)]
    batch = replaced + added
    merged = base[:10] + base[15:] + replaced + added

    d_inc = str(tmp_path_factory.mktemp("idx_inc"))
    d_fresh = str(tmp_path_factory.mktemp("idx_fresh"))
    build_index(spark, spark.createDataFrame(base, SCHEMA), d_inc, CFG,
                code_aware=True, waves=1)
    accounting = upsert_docs(spark, d_inc,
                             spark.createDataFrame(batch, SCHEMA))
    build_index(spark, spark.createDataFrame(merged, SCHEMA), d_fresh, CFG,
                code_aware=True, waves=1)
    return d_inc, d_fresh, accounting


def test_accounting(upserted_vs_fresh):
    _, _, acc = upserted_vs_fresh
    assert acc["received"] == 8
    assert acc["upserted"] == 8
    assert acc["replaced"] == 5
    assert acc["added"] == 3
    assert 1 <= len(acc["affected_shards"]) <= CFG.n_shards


def test_upsert_accounting_dedup_dropped_and_mixed(spark, tmp_path):
    """Batch accounting: ``received`` counts raw rows (a within-batch
    duplicate key and a row ``normalize_repo_files`` drops for its empty
    ``path`` included); ``upserted`` counts distinct normalized docs, and
    every upserted doc is either a replacement or an addition."""
    base = _rows(30)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d, CFG,
                code_aware=True, waves=1)
    replaced = [(r, p, c, lg, "accounting rewrite " + p)
                for (r, p, c, lg, _) in base[3:6]]
    duplicate = [(r, p, c, lg, "accounting second copy " + p)
                 for (r, p, c, lg, _) in base[3:4]]
    added = [("r1", f"src/acct{i}.py", "c1", "py", f"accounting new {i}")
             for i in range(2)]
    dropped = [("r1", "", "c1", "py", "accounting no path")]
    batch = replaced + duplicate + added + dropped
    acc = upsert_docs(spark, d, spark.createDataFrame(batch, SCHEMA))
    assert acc["received"] == 7
    assert acc["upserted"] == 5
    assert acc["replaced"] == 3 and acc["added"] == 2
    assert acc["replaced"] + acc["added"] == acc["upserted"]
    stats = read_stats_json(d)
    assert stats["n_docs"] == 32
    assert sum(stats["shard_docs"].values()) == 32


def test_shard_fingerprints_match_fresh_build(spark, upserted_vs_fresh):
    d_inc, d_fresh, _ = upserted_vs_fresh
    inc = {r["shard"]: (r["content_fingerprint"], r["n_postings"],
                        r["n_terms"], r["n_docs"])
           for r in read_manifest(spark, d_inc).collect()}
    fresh = {r["shard"]: (r["content_fingerprint"], r["n_postings"],
                          r["n_terms"], r["n_docs"])
             for r in read_manifest(spark, d_fresh).collect()}
    assert inc == fresh


def test_stats_match_fresh_build(upserted_vs_fresh):
    d_inc, d_fresh, _ = upserted_vs_fresh
    si, sf_ = read_stats_json(d_inc), read_stats_json(d_fresh)
    for key in ("n_docs", "sum_dl", "avgdl", "shard_docs"):
        assert si[key] == sf_[key], key


def test_term_df_matches_fresh_build(spark, upserted_vs_fresh):
    d_inc, d_fresh, _ = upserted_vs_fresh
    inc = {(r["term"], r["df"]) for r in
           spark.read.parquet(os.path.join(d_inc, "term_df")).collect()}
    fresh = {(r["term"], r["df"]) for r in
             spark.read.parquet(os.path.join(d_fresh, "term_df")).collect()}
    assert inc == fresh


def test_queries_identical_and_see_new_content(spark, upserted_vs_fresh):
    d_inc, d_fresh, _ = upserted_vs_fresh
    queries = spark.createDataFrame(
        [(1, "zebra"), (2, "import def"), (3, "quokka doc")],
        "query_id long, query_text string")

    def ranked(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append((r["score"], r["doc_id"]))
        return {k: sorted(v, key=lambda sv: (-sv[0], sv[1]))
                for k, v in out.items()}

    e_inc = ranked(q.exact_topk(spark, d_inc, queries, CFG, 10).collect())
    e_fresh = ranked(q.exact_topk(spark, d_fresh, queries, CFG, 10).collect())
    assert e_inc == e_fresh
    w_inc = ranked(q.wand_topk(spark, d_inc, queries, CFG, 10).collect())
    assert w_inc == e_inc
    # the upserted content is searchable: 'zebra' appears only in batch docs
    assert len(e_inc[1]) == 8  # 5 rewritten + 3 added


def test_upsert_is_idempotent(spark, upserted_vs_fresh):
    """Redelivering the same batch (at-least-once) must not change the
    index — same fingerprints, same stats."""
    d_inc, _, _ = upserted_vs_fresh
    before = {r["shard"]: r["content_fingerprint"]
              for r in read_manifest(spark, d_inc).collect()}
    stats_before = read_stats_json(d_inc)
    replaced = [(r, p, c, lg, "totally rewritten zebra content " + p)
                for (r, p, c, lg, _) in _rows(60)[10:15]]
    added = [("r1", f"src/new{i}.py", "c1", "py",
              f"fresh zebra quokka doc number {i}") for i in range(3)]
    acc = upsert_docs(spark, d_inc,
                      spark.createDataFrame(replaced + added, SCHEMA))
    assert acc["replaced"] == 8 and acc["added"] == 0
    after = {r["shard"]: r["content_fingerprint"]
             for r in read_manifest(spark, d_inc).collect()}
    assert after == before
    stats_after = read_stats_json(d_inc)
    assert stats_after["n_docs"] == stats_before["n_docs"]
    assert stats_after["sum_dl"] == stats_before["sum_dl"]


def test_run_index_stream_end_to_end(spark, tmp_path):
    """Streaming continuous import into the native index: first drain
    bootstraps a full build, later drains keyed-upsert their shards; the
    final index is fingerprint-identical to a fresh build of the merged
    corpus and the new content is searchable between drains."""
    import json as _json

    from dp_search_data_importer_spark.checkpoint import read_manifest
    from dp_search_data_importer_spark.session import local_df
    from dp_search_data_importer_spark.streaming.ingest_stream import (
        run_index_stream,
    )

    base = _rows(30)
    src = tmp_path / "stream_src"
    src.mkdir()
    cols = ("repo", "path", "commit", "lang", "content")
    with open(src / "b1.json", "w") as f:
        for r in base:
            f.write(_json.dumps(dict(zip(cols, r))) + "\n")

    idx = str(tmp_path / "stream_idx")
    ckpt = str(tmp_path / "stream_ck")

    def drain():
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        qy = run_index_stream(stream, idx, ckpt, available_now=True)
        qy.awaitTermination(240)

    drain()
    from dp_search_data_importer_spark.checkpoint import read_stats_json

    assert read_stats_json(idx)["n_docs"] == 30

    # batch 2: replace 2 docs, add 1
    replaced = [(r, p, c, lg, "replacement walrus text " + p)
                for (r, p, c, lg, _) in base[3:5]]
    added = [("r1", "src/extra.py", "c1", "py", "walrus narwhal new doc")]
    with open(src / "b2.json", "w") as f:
        for r in replaced + added:
            f.write(_json.dumps(dict(zip(cols, r))) + "\n")
    drain()

    cfg = EngineConfig()  # run_index_stream bootstraps with the default cfg
    merged = base[:3] + base[5:] + replaced + added
    fresh = str(tmp_path / "stream_fresh")
    build_index(spark, spark.createDataFrame(merged, SCHEMA), fresh, cfg,
                waves=1)
    inc_m = {r["shard"]: r["content_fingerprint"]
             for r in read_manifest(spark, idx).collect()}
    fresh_m = {r["shard"]: r["content_fingerprint"]
               for r in read_manifest(spark, fresh).collect()}
    assert inc_m == fresh_m

    queries = local_df(spark, [(1, "walrus")], "query_id long, query_text string")
    hits = q.exact_topk(spark, idx, queries, cfg, 10).collect()
    assert len(hits) == 3  # 2 replaced + 1 added

    metrics = [_json.loads(ln)
               for ln in open(os.path.join(idx, "_ingest_metrics.jsonl"))]
    assert metrics[0]["added"] == 30
    assert any(m.get("replaced") == 2 and m.get("added") == 1
               for m in metrics[1:])


# ---------------------------------------------------------------------------
# round 3: crash-atomic multi-artifact commit + stale-empty-shard handling
# ---------------------------------------------------------------------------

def _fingerprints(spark, d):
    return {r["shard"]: (r["content_fingerprint"], r["n_postings"],
                         r["n_terms"])
            for r in read_manifest(spark, d).collect()}


def test_empty_content_replacement_clears_stale_shard(spark, tmp_path):
    """Replacing a shard's ONLY doc with zero-token content must delete the
    shard's postings dir (dynamic overwrite alone leaves the stale dir
    searchable) and still match a fresh rebuild artifact-for-artifact."""
    # craft keys until some shard holds exactly one doc
    from dp_search_data_importer_spark.operators.ingest import (
        normalize_repo_files,
    )

    base = _rows(25)
    d_inc = str(tmp_path / "inc")
    d_fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d_inc, CFG,
                code_aware=True, waves=1)
    norm = normalize_repo_files(spark.createDataFrame(base, SCHEMA)).select(
        "doc_id", "path",
        F.pmod(F.col("doc_id"), F.lit(CFG.n_shards)).cast("int").alias("shard"),
    ).collect()
    by_shard: dict[int, list] = {}
    for r in norm:
        by_shard.setdefault(r["shard"], []).append(r["path"])
    # pick the least-populated shard and replace ALL its docs with content
    # that tokenizes to nothing ("???" has no alnum runs)
    shard, paths = min(by_shard.items(), key=lambda kv: len(kv[1]))
    batch = [("r1", p, "c1", "py", "??? !!!") for p in paths]
    acc = upsert_docs(spark, d_inc, spark.createDataFrame(batch, SCHEMA))
    assert shard in acc["affected_shards"]
    assert not os.path.exists(os.path.join(d_inc, "postings", f"shard={shard}"))

    merged = [r for r in base if r[1] not in set(paths)] + batch
    build_index(spark, spark.createDataFrame(merged, SCHEMA), d_fresh, CFG,
                code_aware=True, waves=1)
    assert _fingerprints(spark, d_inc) == _fingerprints(spark, d_fresh)
    si, sf_ = read_stats_json(d_inc), read_stats_json(d_fresh)
    for key in ("n_docs", "sum_dl", "avgdl", "shard_docs"):
        assert si[key] == sf_[key], key
    # no stale content: terms that lived only in the replaced docs are gone
    from dp_search_data_importer_spark.plans.query import load_blocks
    live_docs = {r["doc_id"] for r in
                 q.decompress_blocks(load_blocks(spark, d_inc))
                 .select("doc_id").distinct().collect()}
    replaced_ids = {r["doc_id"] for r in norm if r["shard"] == shard}
    assert not (live_docs & replaced_ids)


def test_crash_between_swaps_rolls_forward(spark, tmp_path, monkeypatch):
    """Kill after the commit marker but mid-swap: the next recover_index
    must roll the whole batch forward — the index equals a fresh rebuild of
    the merged corpus, never a mix."""
    from dp_search_data_importer_spark.plans import update_index as ui

    base = _rows(40)
    replaced = [(r, p, c, lg, "crashtest zebra " + p)
                for (r, p, c, lg, _) in base[5:9]]
    added = [("r1", "src/crashnew.py", "c1", "py", "crashtest quokka doc")]
    batch = replaced + added
    merged = base[:5] + base[9:] + batch

    d_inc = str(tmp_path / "inc")
    d_fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d_inc, CFG,
                code_aware=True, waves=1)

    real_swap = ui._swap_dir
    calls = {"n": 0}

    def dying_swap(live, staged, backup):
        calls["n"] += 1
        if calls["n"] == 2:  # die mid-sequence, after the first swap landed
            raise RuntimeError("simulated kill between renames")
        real_swap(live, staged, backup)

    monkeypatch.setattr(ui, "_swap_dir", dying_swap)
    with pytest.raises(RuntimeError, match="simulated kill"):
        upsert_docs(spark, d_inc, spark.createDataFrame(batch, SCHEMA))
    monkeypatch.setattr(ui, "_swap_dir", real_swap)

    # the stage (with its commit marker) must have survived the crash
    assert os.path.exists(os.path.join(d_inc, ui._STAGE, ui._COMMIT))
    assert ui.recover_index(d_inc) == "forward"
    assert not os.path.exists(os.path.join(d_inc, ui._STAGE))

    build_index(spark, spark.createDataFrame(merged, SCHEMA), d_fresh, CFG,
                code_aware=True, waves=1)
    assert _fingerprints(spark, d_inc) == _fingerprints(spark, d_fresh)
    si, sf_ = read_stats_json(d_inc), read_stats_json(d_fresh)
    for key in ("n_docs", "sum_dl", "avgdl"):
        assert si[key] == sf_[key], key
    queries = spark.createDataFrame([(1, "crashtest")],
                                    "query_id long, query_text string")
    hits = q.exact_topk(spark, d_inc, queries, CFG, 10).collect()
    assert len(hits) == 5


def test_crash_during_staging_rolls_back(spark, tmp_path, monkeypatch):
    """A failure BEFORE the commit marker must leave the live index
    byte-identical to the pre-batch state (no drifted stats, no partial
    artifacts) — redelivering the batch then applies it exactly once."""
    from dp_search_data_importer_spark.plans import update_index as ui

    base = _rows(30)
    d_inc = str(tmp_path / "inc")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d_inc, CFG,
                code_aware=True, waves=1)
    before = _fingerprints(spark, d_inc)
    stats_before = read_stats_json(d_inc)

    batch = [("r1", "src/f3.py", "c1", "py", "rollback walrus text")]

    def dying_tokenize(*a, **k):
        raise RuntimeError("simulated staging failure")

    monkeypatch.setattr(ui, "tokenize_docs", dying_tokenize)
    with pytest.raises(RuntimeError, match="staging failure"):
        upsert_docs(spark, d_inc, spark.createDataFrame(batch, SCHEMA))
    monkeypatch.undo()

    assert ui.recover_index(d_inc) in ("back", "clean")
    assert _fingerprints(spark, d_inc) == before
    assert read_stats_json(d_inc) == stats_before

    # redelivery applies the batch normally
    acc = upsert_docs(spark, d_inc, spark.createDataFrame(batch, SCHEMA))
    assert acc["replaced"] == 1
    queries = spark.createDataFrame([(1, "walrus")],
                                    "query_id long, query_text string")
    assert len(q.exact_topk(spark, d_inc, queries, CFG, 10).collect()) == 1


def test_upsert_invalidates_stale_positions_sidecar(spark, tmp_path):
    """ADVICE r2: a positions sidecar built from a previous corpus must not
    survive an upsert (stale phrase matches)."""
    from dp_search_data_importer_spark.operators.phrase import build_positions

    base = _rows(20)
    d = str(tmp_path / "idx")
    src = spark.createDataFrame(base, SCHEMA)
    build_index(spark, src, d, CFG, code_aware=True, waves=1)
    build_positions(spark, normalize_for(src), d, CFG, code_aware=True)
    assert os.path.exists(os.path.join(d, "positions"))
    upsert_docs(spark, d, spark.createDataFrame(
        [("r1", "src/f0.py", "c1", "py", "new sidecar content")], SCHEMA))
    assert not os.path.exists(os.path.join(d, "positions"))


def normalize_for(src):
    from dp_search_data_importer_spark.operators.ingest import (
        normalize_repo_files,
    )

    return normalize_repo_files(src)


def test_fresh_rebuild_removes_positions_sidecar(spark, tmp_path):
    """ADVICE r2: resume=False cleanup must clear the sidecar too."""
    from dp_search_data_importer_spark.operators.phrase import build_positions

    base = _rows(15)
    d = str(tmp_path / "idx")
    src = spark.createDataFrame(base, SCHEMA)
    build_index(spark, src, d, CFG, code_aware=True, waves=1)
    build_positions(spark, normalize_for(src), d, CFG, code_aware=True)
    build_index(spark, src, d, CFG, code_aware=True, waves=1, resume=False)
    assert not os.path.exists(os.path.join(d, "positions"))


@pytest.mark.parametrize("positions", [False, True])
def test_build_stats_match_tf_oracle(spark, tmp_path, positions):
    """The build derives term_df and Σdl from written block metadata; the
    reference is the tf frame itself: df by ``doc_freqs``, Σdl as Σtf, N
    and per-shard counts from the normalized docs (a zero-token doc still
    counts), and top-k by the tf-path scorer under those stats."""
    from dp_search_data_importer_spark.operators.bm25 import bm25_topk
    from dp_search_data_importer_spark.operators.postings import doc_freqs
    from dp_search_data_importer_spark.plans.build_index import tokenize_docs

    rows = _rows(30) + [("r1", "src/empty.py", "c1", "py", "!!! ???")]
    src = spark.createDataFrame(rows, SCHEMA)
    d = str(tmp_path / "idx")
    stats = build_index(spark, src, d, CFG, code_aware=True, waves=2,
                        positions=positions)

    docs = normalize_for(src)
    tf = tokenize_docs(docs, code_aware=True, text_col="content")
    n_docs = docs.count()
    sum_dl = tf.agg(F.sum("tf")).collect()[0][0]
    shard_docs = {s: 0 for s in range(CFG.n_shards)}
    shard_docs.update({
        r["s"]: r["n"] for r in docs.groupBy(
            F.pmod("doc_id", F.lit(CFG.n_shards)).cast("int").alias("s"))
        .agg(F.count(F.lit(1)).alias("n")).collect()})
    assert n_docs == len(rows)
    assert stats["n_docs"] == n_docs
    assert stats["sum_dl"] == sum_dl
    assert stats["shard_docs"] == shard_docs
    got_df = {(r["term"], r["df"]) for r in
              spark.read.parquet(os.path.join(d, "term_df")).collect()}
    assert got_df == {(r["term"], r["df"]) for r in doc_freqs(tf).collect()}

    queries = spark.createDataFrame([(1, "import def"), (2, "merge hash")],
                                    "query_id long, query_text string")
    oracle_stats = spark.createDataFrame([(n_docs, sum_dl / n_docs)],
                                         "n_docs long, avgdl double")
    want = sorted((r["query_id"], r["doc_id"], r["score"]) for r in
                  bm25_topk(tf, queries, CFG, 10, code_aware=True,
                            stats=oracle_stats).collect())
    got = sorted((r["query_id"], r["doc_id"], r["score"]) for r in
                 q.exact_topk(spark, d, queries, CFG, 10).collect())
    assert got == want
    # every word appears in >5% of these docs → all measured hot
    assert set(stats["hot_terms"]) >= set(WORDS)


def test_positional_upsert_identical_to_fresh_rebuild(spark, tmp_path):
    """Incremental upsert of a POSITIONAL index (positions in the blocks)
    stays byte-identical to a fresh positional rebuild — fingerprints now
    cover the poss stream — and phrase queries see the new content."""
    from dp_search_data_importer_spark.operators import phrase as ph

    base = _rows(50)
    replaced = [(r, p, c, lg, "zebra phrase target " + p)
                for (r, p, c, lg, _) in base[7:11]]
    added = [("r1", "src/posnew.py", "c1", "py", "zebra phrase target fresh")]
    batch = replaced + added
    merged = base[:7] + base[11:] + batch

    d_inc = str(tmp_path / "inc")
    d_fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d_inc, CFG,
                code_aware=True, waves=1, positions=True)
    upsert_docs(spark, d_inc, spark.createDataFrame(batch, SCHEMA))
    build_index(spark, spark.createDataFrame(merged, SCHEMA), d_fresh, CFG,
                code_aware=True, waves=1, positions=True)

    assert _fingerprints(spark, d_inc) == _fingerprints(spark, d_fresh)
    got = ph.phrase_topk(spark, d_inc, [(1, "zebra phrase target")], CFG, 10)
    assert got.count() == 5
    fresh = ph.phrase_topk(spark, d_fresh, [(1, "zebra phrase target")],
                           CFG, 10)
    assert sorted((r["doc_id"], r["score"]) for r in got.collect()) == \
        sorted((r["doc_id"], r["score"]) for r in fresh.collect())


def test_read_path_rolls_commit_forward(spark, tmp_path, monkeypatch):
    """ADVICE r3: a crash mid-_apply_commit (marker present) must be
    repaired by the QUERY path itself — without any upsert running first —
    so readers never serve the mixed pre/post state."""
    from dp_search_data_importer_spark.plans import update_index as ui

    base = _rows(40)
    replaced = [(r, p, c, lg, "readrepair zebra " + p)
                for (r, p, c, lg, _) in base[5:9]]
    batch = replaced + [("r1", "src/rrnew.py", "c1", "py",
                         "readrepair quokka doc")]
    merged = base[:5] + base[9:] + batch

    d_inc = str(tmp_path / "inc")
    d_fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d_inc, CFG,
                code_aware=True, waves=1)

    real_swap = ui._swap_dir
    calls = {"n": 0}

    def dying_swap(live, staged, backup):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated kill between renames")
        real_swap(live, staged, backup)

    monkeypatch.setattr(ui, "_swap_dir", dying_swap)
    with pytest.raises(RuntimeError, match="simulated kill"):
        upsert_docs(spark, d_inc, spark.createDataFrame(batch, SCHEMA))
    monkeypatch.undo()
    assert os.path.exists(os.path.join(d_inc, ui._STAGE, ui._COMMIT))

    # query straight away — NO recover_index call: the read path repairs
    queries = spark.createDataFrame([(1, "readrepair")],
                                    "query_id long, query_text string")
    hits = q.exact_topk(spark, d_inc, queries, CFG, 10).collect()
    assert len(hits) == 5
    assert not os.path.exists(os.path.join(d_inc, ui._STAGE))

    build_index(spark, spark.createDataFrame(merged, SCHEMA), d_fresh, CFG,
                code_aware=True, waves=1)
    assert _fingerprints(spark, d_inc) == _fingerprints(spark, d_fresh)


def test_read_path_leaves_markerless_stage_alone(spark, tmp_path):
    """recover_for_read must NOT destroy a marker-less stage: it may belong
    to an upsert that is still staging (the live index is untouched until
    the marker lands, so reads are consistent either way)."""
    from dp_search_data_importer_spark.plans import update_index as ui

    base = _rows(20)
    d_inc = str(tmp_path / "inc")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d_inc, CFG,
                code_aware=True, waves=1)
    stage = os.path.join(d_inc, ui._STAGE)
    os.makedirs(os.path.join(stage, "postings"))
    with open(os.path.join(stage, "inflight.txt"), "w") as f:
        f.write("staging in progress")

    assert ui.recover_for_read(d_inc) is False
    queries = spark.createDataFrame([(1, "import")],
                                    "query_id long, query_text string")
    q.exact_topk(spark, d_inc, queries, CFG, 5).collect()
    assert os.path.exists(os.path.join(stage, "inflight.txt"))


def test_index_health_probe(spark, tmp_path):
    """A13 twin: healthy index → OK; marker-less stage → DEGRADED (safe to
    read); committed-marker crash → rolled forward to OK; vanished
    postings shard or doc-count drift → CORRUPT."""
    import shutil

    from dp_search_data_importer_spark.health import (
        CORRUPT,
        DEGRADED,
        OK,
        index_health,
    )
    from dp_search_data_importer_spark.plans import update_index as ui

    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_rows(30), SCHEMA), d, CFG,
                code_aware=True, waves=1)
    assert index_health(spark, d)["status"] == OK

    # marker-less stage: in-flight upsert → degraded, left alone
    os.makedirs(os.path.join(d, ui._STAGE, "postings"))
    h = index_health(spark, d)
    assert h["status"] == DEGRADED and h["checks"]["stage_pending"]
    shutil.rmtree(os.path.join(d, ui._STAGE))

    # crash mid-commit (marker present): probe self-heals to OK
    batch = [("r1", "src/f1.py", "c1", "py", "healthprobe gnu text")]
    real_swap = ui._swap_dir
    calls = {"n": 0}

    def dying_swap(live, staged, backup):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("boom")
        real_swap(live, staged, backup)

    import pytest as _pytest
    ui_swap = ui._swap_dir
    ui._swap_dir = dying_swap
    try:
        with _pytest.raises(RuntimeError, match="boom"):
            upsert_docs(spark, d, spark.createDataFrame(batch, SCHEMA))
    finally:
        ui._swap_dir = ui_swap
    h = index_health(spark, d)
    assert h["status"] == OK and h["checks"]["rolled_forward"]

    # vanished shard dir → CORRUPT with the shard named
    victim = sorted(
        dd for dd in os.listdir(os.path.join(d, "postings"))
        if dd.startswith("shard="))[0]
    shutil.rmtree(os.path.join(d, "postings", victim))
    h = index_health(spark, d)
    assert h["status"] == CORRUPT
    assert h["checks"]["missing_postings_shards"] == [
        int(victim.split("=")[1])]


def test_health_gated_stream_stops_and_resumes(spark, tmp_path):
    """A10 twin (StopConsumingOnUnhealthy): a health-gated index stream
    refuses to consume into a corrupt index (batch fails → no commit),
    and after repair redelivery applies the SAME batch exactly once."""
    import json as _json
    import shutil

    from dp_search_data_importer_spark.streaming.ingest_stream import (
        run_index_stream,
    )

    base = _rows(30)
    src = tmp_path / "src"
    src.mkdir()
    cols = ("repo", "path", "commit", "lang", "content")
    with open(src / "b1.json", "w") as f:
        for r in base:
            f.write(_json.dumps(dict(zip(cols, r))) + "\n")

    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ck")

    def drain():
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        qy = run_index_stream(stream, idx, ckpt, available_now=True,
                              health_gate=True)
        qy.awaitTermination(240)

    drain()  # bootstrap build

    # corrupt the index (steal a shard), enqueue batch 2
    victim = sorted(
        dd for dd in os.listdir(os.path.join(idx, "postings"))
        if dd.startswith("shard="))[0]
    stolen = str(tmp_path / "stolen")
    shutil.move(os.path.join(idx, "postings", victim), stolen)
    with open(src / "b2.json", "w") as f:
        f.write(_json.dumps(dict(zip(
            cols, ("r1", "src/gated.py", "c1", "py",
                   "gated aardwolf doc")))) + "\n")

    import pytest as _pytest
    with _pytest.raises(Exception, match="unhealthy|gated until repaired"):
        drain()
    # nothing consumed: the new doc is not searchable
    queries = spark.createDataFrame([(1, "aardwolf")],
                                    "query_id long, query_text string")
    # (exact_topk would also fail on the missing shard if it were a hit
    # shard; assert via stats instead: n_docs unchanged)
    assert read_stats_json(idx)["n_docs"] == 30

    # repair → redelivery applies the batch once
    shutil.move(stolen, os.path.join(idx, "postings", victim))
    drain()
    assert read_stats_json(idx)["n_docs"] == 31
    hits = q.exact_topk(spark, idx, queries, CFG, 10).collect()
    assert len(hits) == 1


def test_apply_commit_locked_single_applier(tmp_path):
    """N concurrent recover calls racing one staged commit: exactly ONE
    applies (O_EXCL lockfile), the rest wait for the marker to clear —
    no FileNotFoundError from racing the same rename sequence."""
    import json
    import os
    import threading
    import time

    from dp_search_data_importer_spark.plans.update_index import (
        apply_commit_locked,
    )

    root = str(tmp_path / "store")
    os.makedirs(root)
    marker = os.path.join(root, "_COMMIT.json")
    with open(marker, "w") as f:
        json.dump({"x": 1}, f)

    applied = []
    lock = threading.Lock()

    def apply_fn(meta):
        with lock:
            applied.append(meta)
        time.sleep(0.2)          # widen the race window
        os.remove(marker)        # the real _apply_commit consumes it

    results = []

    def run():
        results.append(apply_commit_locked(root, marker, apply_fn))

    threads = [threading.Thread(target=run) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(applied) == 1
    assert sorted(results) == [False] * 7 + [True]
    assert not os.path.exists(os.path.join(root, "_COMMIT.lock"))


def test_apply_commit_locked_breaks_stale_lock(tmp_path):
    """A lockfile left by a crashed applier (old mtime) is broken and the
    commit still rolls forward."""
    import json
    import os
    import time

    from dp_search_data_importer_spark.plans.update_index import (
        apply_commit_locked,
    )

    root = str(tmp_path / "store")
    os.makedirs(root)
    marker = os.path.join(root, "_COMMIT.json")
    with open(marker, "w") as f:
        json.dump({}, f)
    lock = os.path.join(root, "_COMMIT.lock")
    with open(lock, "w") as f:
        f.write("dead")
    old = time.time() - 3600
    os.utime(lock, (old, old))

    seen = []

    def apply_fn(meta):
        seen.append(meta)
        os.remove(marker)

    assert apply_commit_locked(root, marker, apply_fn, stale_s=60.0) is True
    assert seen == [{}]


def test_recover_ann_backup_without_live_partition(tmp_path):
    """ADVICE r4: a _old_part_* backup with NO live partition dir must be
    RESTORED via the quantizer-metadata part col — and with no metadata
    either, recovery refuses rather than deleting the only copy."""
    import json
    import os

    import pytest as _pytest

    from dp_search_data_importer_spark.plans.update_ann import recover_ann

    store = str(tmp_path / "ann")
    os.makedirs(os.path.join(store, "_old_part_3"))
    with open(os.path.join(store, "_old_part_3", "part-0.parquet"),
              "wb") as f:
        f.write(b"data")
    # no live dirs, no metadata -> refuse
    with _pytest.raises(RuntimeError, match="only copy"):
        recover_ann(store)
    assert os.path.exists(os.path.join(store, "_old_part_3"))

    # with planes metadata the part col is known -> restore to bucket=3
    with open(os.path.join(store, "_planes.json"), "w") as f:
        json.dump({"planes": []}, f)
    assert recover_ann(store) == "back"
    assert os.path.exists(os.path.join(store, "bucket=3", "part-0.parquet"))
    assert not os.path.exists(os.path.join(store, "_old_part_3"))


# ---------------------------------------------------------------- deletes
from dp_search_data_importer_spark.plans.update_index import (  # noqa: E402
    delete_by_query,
    delete_docs,
)


@pytest.fixture(scope="module")
def deleted_vs_fresh(spark, tmp_path_factory):
    """Delete 7 docs from a 60-doc index; fresh-build the 53 survivors."""
    base = _rows(60)
    gone_paths = {f"src/f{i}.py" for i in range(10, 17)}
    survivors = [r for r in base if r[1] not in gone_paths]

    d_inc = str(tmp_path_factory.mktemp("del_inc"))
    d_fresh = str(tmp_path_factory.mktemp("del_fresh"))
    build_index(spark, spark.createDataFrame(base, SCHEMA), d_inc, CFG,
                code_aware=True, waves=1)
    docs = spark.read.parquet(os.path.join(d_inc, "docs"))
    ids = docs.filter(F.col("path").isin(*gone_paths)).select("doc_id")
    accounting = delete_docs(spark, d_inc, ids)
    build_index(spark, spark.createDataFrame(survivors, SCHEMA), d_fresh,
                CFG, code_aware=True, waves=1)
    return d_inc, d_fresh, accounting


def test_delete_accounting(deleted_vs_fresh):
    _, _, acc = deleted_vs_fresh
    assert acc["requested"] == 7 and acc["deleted"] == 7
    assert acc["not_found"] == 0 and acc["affected_shards"]


def test_delete_matches_fresh_build(spark, deleted_vs_fresh):
    d_inc, d_fresh, _ = deleted_vs_fresh
    s_inc, s_fresh = read_stats_json(d_inc), read_stats_json(d_fresh)
    for k in ("n_docs", "sum_dl", "avgdl", "shard_docs"):
        assert s_inc[k] == s_fresh[k], k
    m_inc = {r["shard"]: r["content_fingerprint"]
             for r in read_manifest(spark, d_inc).collect()}
    m_fresh = {r["shard"]: r["content_fingerprint"]
               for r in read_manifest(spark, d_fresh).collect()}
    assert m_inc == m_fresh
    td_inc = {(r["term"], r["df"]) for r in
              spark.read.parquet(os.path.join(d_inc, "term_df")).collect()}
    td_fresh = {(r["term"], r["df"]) for r in
                spark.read.parquet(os.path.join(d_fresh,
                                                "term_df")).collect()}
    assert td_inc == td_fresh


def test_delete_is_idempotent(spark, deleted_vs_fresh):
    d_inc, _, _ = deleted_vs_fresh
    docs = spark.read.parquet(os.path.join(d_inc, "docs"))
    before = read_stats_json(d_inc)
    # re-deliver ids that no longer exist (plus one genuinely absent id)
    ghost = spark.createDataFrame([(10 ** 12,)], "doc_id long")
    acc = delete_docs(spark, d_inc, ghost)
    assert acc == {"requested": 1, "deleted": 0, "not_found": 1,
                   "affected_shards": []}
    assert read_stats_json(d_inc) == before
    assert docs.count() == before["n_docs"]


def test_delete_empties_shard_completely(spark, tmp_path):
    """Deleting a shard's last doc removes its postings dir, docs dir,
    manifest row, and shard_docs key — exactly like a fresh build of the
    survivors."""
    base = _rows(8)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d, CFG,
                code_aware=True, waves=1)
    docs = spark.read.parquet(os.path.join(d, "docs"))
    sh = int(docs.groupBy("shard").count().orderBy("shard")
             .first()["shard"])
    victims = docs.filter(F.col("shard") == sh).select("doc_id")
    n_victims = victims.count()
    assert n_victims > 0
    acc = delete_docs(spark, d, victims)
    assert acc["deleted"] == n_victims and acc["affected_shards"] == [sh]
    assert not os.path.exists(os.path.join(d, "postings", f"shard={sh}"))
    assert not os.path.exists(os.path.join(d, "docs", f"shard={sh}"))
    stats = read_stats_json(d)
    # an explicit 0 entry, exactly as a fresh build's docs-write
    # observation records zero-doc shards
    assert stats["shard_docs"][str(sh)] == 0
    assert read_manifest(spark, d).filter(F.col("shard") == sh).count() == 0
    from dp_search_data_importer_spark.health import index_health
    assert index_health(spark, d)["status"] == "OK"


def test_delete_by_query_or_and(spark, tmp_path):
    """_delete_by_query twin: OR deletes any-term matches, AND only
    all-term matches; queries afterwards can't see deleted docs."""
    rows = [
        ("r1", "a.py", "c1", "py", "zebra quokka shared"),
        ("r1", "b.py", "c1", "py", "zebra only here"),
        ("r1", "c.py", "c1", "py", "quokka only there"),
        ("r1", "d.py", "c1", "py", "neither word present"),
    ]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(rows, SCHEMA), d, CFG,
                code_aware=True, waves=1)
    acc = delete_by_query(spark, d, "zebra quokka", operator="and")
    assert acc["deleted"] == 1  # only a.py has both
    acc = delete_by_query(spark, d, "zebra quokka", operator="or")
    assert acc["deleted"] == 2  # b.py and c.py
    assert read_stats_json(d)["n_docs"] == 1
    q_df = spark.createDataFrame([(0, "zebra")],
                                 "query_id long, query_text string")
    assert q.exact_topk(spark, d, q_df, k=10).count() == 0


# ---------------------------------------------------------- update_by_query
from dp_search_data_importer_spark.plans.update_index import (  # noqa: E402
    update_by_query,
)


@pytest.fixture(scope="module")
def updatable_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ubq_idx"))
    rows = [
        ("r1", "a.py", "c1", "py", "zebra quokka shared words"),
        ("r1", "b.py", "c1", "py", "zebra appears here too"),
        ("r1", "c.py", "c1", "py", "plain text no animals"),
    ]
    build_index(spark, spark.createDataFrame(rows, SCHEMA), d, CFG,
                code_aware=True, waves=1)
    return d


def test_update_by_query_sets_metadata(spark, updatable_index):
    d = updatable_index
    fp_before = {r["shard"]: r["content_fingerprint"]
                 for r in read_manifest(spark, d).collect()}
    stats_before = read_stats_json(d)
    acc = update_by_query(spark, d, "zebra", {"lang": "python"})
    assert acc["matched"] == 2 == acc["updated"]
    docs = spark.read.parquet(os.path.join(d, "docs"))
    langs = {r["path"]: r["lang"] for r in docs.collect()}
    assert langs == {"a.py": "python", "b.py": "python", "c.py": "py"}
    # postings, manifest, stats untouched (metadata never feeds postings)
    fp_after = {r["shard"]: r["content_fingerprint"]
                for r in read_manifest(spark, d).collect()}
    assert fp_after == fp_before
    assert read_stats_json(d) == stats_before
    # idempotent redelivery: absolute assignments, same end state
    acc2 = update_by_query(spark, d, "zebra", {"lang": "python"})
    assert acc2["matched"] == 2
    assert {r["path"]: r["lang"]
            for r in spark.read.parquet(os.path.join(d, "docs"))
            .collect()} == langs


def test_update_by_query_script_and_guards(spark, updatable_index):
    d = updatable_index
    # Painless-subset script reads current doc fields; result casts to the
    # column's type
    update_by_query(spark, d, "quokka", {"lang": {"script": "1 + 1"}})
    docs = spark.read.parquet(os.path.join(d, "docs"))
    assert docs.filter(F.col("path") == "a.py").first()["lang"] == "2.0"
    with pytest.raises(ValueError, match="identity/integrity"):
        update_by_query(spark, d, "zebra", {"path": "x"})
    with pytest.raises(ValueError, match="unknown docs column"):
        update_by_query(spark, d, "zebra", {"nope": 1})
    # no matches: clean no-op accounting
    acc = update_by_query(spark, d, "wombat", {"lang": "x"})
    assert acc == {"matched": 0, "updated": 0, "affected_shards": []}


def test_exact_plan_memo_invalidated_by_upsert(spark, tmp_path):
    """The plan cache serves the SAME immutable exact-path plan for
    repeated identical requests against an unchanged index, and keys out as
    soon as the index version changes (every commit writes stats.json with
    a fresh version) — post-upsert results must reflect the new corpus,
    never a stale file listing. That holds for a commit that leaves every
    count, and so stats.json's size, unchanged, and with its old mtime
    restored."""
    from dp_search_data_importer_spark.session import local_df

    idx = str(tmp_path / "idx")
    base = _rows(40)
    build_index(spark, spark.createDataFrame(base, SCHEMA), idx, CFG,
                code_aware=True, waves=1)
    queries = local_df(spark, [(1, "zebra quokka")],
                       "query_id long, query_text string")
    a = q.exact_topk(spark, idx, queries, CFG, 10)
    b = q.exact_topk(spark, idx, queries, CFG, 10)
    assert a is b  # memo hit on the unchanged index version
    assert a.count() == 0  # no zebra docs yet
    batch = [("r1", "src/newz.py", "c1", "py", "zebra quokka zebra")]
    upsert_docs(spark, idx, spark.createDataFrame(batch, SCHEMA))
    c = q.exact_topk(spark, idx, queries, CFG, 10)
    assert c is not a  # version bumped -> fresh plan over the new file set
    rows = c.collect()
    assert len(rows) == 1 and rows[0]["score"] > 0
    # different k / different query set never share an entry
    d = q.exact_topk(spark, idx, queries, CFG, 5)
    assert d is not c
    # replace a doc with content of the same length: n_docs and Σdl hold
    stats_path = os.path.join(idx, "stats.json")
    old = os.stat(stats_path)
    words = base[0][4].split()
    same_len = [(*base[0][:4], " ".join(["zebra", *words[1:]]))]
    upsert_docs(spark, idx, spark.createDataFrame(same_len, SCHEMA))
    assert os.stat(stats_path).st_size == old.st_size
    os.utime(stats_path, ns=(old.st_atime_ns, old.st_mtime_ns))
    e = q.exact_topk(spark, idx, queries, CFG, 10)
    assert e is not c
    hits = e.collect()  # the new zebra doc plus the rewritten one
    assert len(hits) == 2 and rows[0]["doc_id"] in {r["doc_id"] for r in hits}


# ---------------------------------------------------------------------------
# metadata-derived stat deltas and the write path's Spark-job budget
# ---------------------------------------------------------------------------

def _tree_digest(root):
    import hashlib

    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


def test_upsert_refuses_postings_without_sum_tf(spark, tmp_path):
    """Postings without ``sum_tf`` are blocks of the layout before it, in
    an index whose stats.json records no postings format. The upsert must
    not read them as rows with null columns: it stops before its commit
    marker with an error that says to rebuild, every live file left
    byte-identical."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_rows(20), SCHEMA), d, CFG,
                code_aware=True, waves=1)
    for dirpath, _, files in os.walk(os.path.join(d, "postings")):
        for name in files:
            path = os.path.join(dirpath, name)
            if name.endswith(".crc"):
                os.remove(path)  # checksums of the rewritten files
            elif name.endswith(".parquet"):
                per_term = pq.ParquetFile(path).read().group_by("term").aggregate(
                    [("doc_id", "min"), ("doc_id", "count")])
                n = per_term.num_rows
                pq.write_table(pa.table({
                    "term": per_term.column("term"),
                    "block_id": pa.array([0] * n, pa.int64()),
                    "first_doc_id": per_term.column("doc_id_min"),
                    "n_docs": per_term.column("doc_id_count"),
                    "doc_gaps": pa.array([b""] * n, pa.binary()),
                    "tfs": pa.array([b""] * n, pa.binary()),
                    "dls": pa.array([b""] * n, pa.binary()),
                    "poss": pa.array([None] * n, pa.binary()),
                }), path)
    stats_path = os.path.join(d, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    del stats["postings_format"]
    with open(stats_path, "w") as f:
        json.dump(stats, f)
    before = _tree_digest(d)

    batch = [("r1", "src/f2.py", "c1", "py", "stale metadata walrus")]
    with pytest.raises(ValueError, match="rebuild"):
        upsert_docs(spark, d, spark.createDataFrame(batch, SCHEMA))
    assert _tree_digest(d) == before


def test_upsert_refuses_old_format_index(spark, tmp_path):
    """An index whose stats.json records no current postings format holds
    an older postings layout: the upsert must stop before its commit
    marker with an error that says to rebuild, every live file left
    byte-identical."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_rows(20), SCHEMA), d, CFG,
                code_aware=True, waves=1)
    stats_path = os.path.join(d, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    del stats["postings_format"]
    with open(stats_path, "w") as f:
        json.dump(stats, f)
    before = _tree_digest(d)

    batch = [("r1", "src/f2.py", "c1", "py", "stale metadata walrus")]
    with pytest.raises(ValueError, match="rebuild"):
        upsert_docs(spark, d, spark.createDataFrame(batch, SCHEMA))
    assert _tree_digest(d) == before


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "write-path job budget")
    try:
        result = fn()
    finally:
        sc.setJobGroup(None, None)
    # every job the call issued sat in the caller's group: a driver pool
    # thread that lost the caller's local properties would run its jobs
    # ungrouped, outside the budget counted below
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    return result, len(tracker.getJobIdsForGroup(group))


def test_upsert_and_delete_job_counts_bounded(spark, tmp_path):
    """Cost regression guard: a small upsert and a small delete each run a
    fixed number of Spark jobs (the affected shards decoded once, the batch
    tokenized once, counts observed on writes). A re-decode, an extra
    count or a schema-inference read shows up here as a red test."""
    import uuid

    d = str(tmp_path / "idx")
    base = _rows(40)
    build_index(spark, spark.createDataFrame(base, SCHEMA), d, CFG,
                code_aware=True, waves=1)
    batch = ([(r, p, c, lg, "budget rewrite " + p)
              for (r, p, c, lg, _) in base[:4]]
             + [("r1", "src/budget.py", "c1", "py", "budget new doc")])
    tag = uuid.uuid4().hex
    acc, n_upsert = _jobs_in_group(
        spark, f"upsert-{tag}",
        lambda: upsert_docs(spark, d, spark.createDataFrame(batch, SCHEMA)))
    assert acc["replaced"] == 4 and acc["added"] == 1
    ids = spark.read.parquet(os.path.join(d, "docs")).filter(
        F.col("path").isin("src/f5.py", "src/f6.py")).select("doc_id")
    acc, n_delete = _jobs_in_group(spark, f"delete-{tag}",
                                   lambda: delete_docs(spark, d, ids))
    assert acc["deleted"] == 2
    # measured 14 and 15 on local[4] with the staging jobs in a driver
    # pool (serial staging: 15 and 16 on local[8]; the write path before
    # that: 49 and 40); the slack of 2 absorbs an adaptive-execution
    # broadcast choice
    assert n_upsert <= 15 + 2, n_upsert
    assert n_delete <= 16 + 2, n_delete


@pytest.mark.parametrize("failing", ["_stage_docs", "_stage_term_df"])
def test_pool_staging_failure_rolls_back(spark, tmp_path, monkeypatch,
                                         failing):
    """A staging job that fails in a driver pool thread while the postings
    job is still staging: the pool is joined before the stage is removed,
    so the live index stays byte-identical, no stage and no running job
    is left behind, and the redelivered batch applies exactly once."""
    import threading

    from dp_search_data_importer_spark.plans import update_index as ui

    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_rows(30), SCHEMA), d, CFG,
                code_aware=True, waves=1)
    before = _tree_digest(d)
    batch = [("r1", "src/f3.py", "c1", "py", "poolfail walrus text"),
             ("r1", "src/poolnew.py", "c1", "py", "poolfail new doc")]

    postings_started, postings_done = threading.Event(), threading.Event()
    seen = {}
    real_postings = ui._stage_postings

    def tracked_postings(*a, **k):
        postings_started.set()
        try:
            return real_postings(*a, **k)
        finally:
            postings_done.set()

    def dying_stage(*a, **k):
        assert postings_started.wait(120)
        seen["postings_in_flight"] = not postings_done.is_set()
        raise RuntimeError("simulated pool staging failure")

    monkeypatch.setattr(ui, "_stage_postings", tracked_postings)
    monkeypatch.setattr(ui, failing, dying_stage)
    with pytest.raises(RuntimeError, match="pool staging failure"):
        upsert_docs(spark, d, spark.createDataFrame(batch, SCHEMA))
    monkeypatch.undo()

    assert seen["postings_in_flight"]
    assert postings_done.is_set()
    assert not os.path.exists(os.path.join(d, ui._STAGE))
    tracker = spark.sparkContext.statusTracker()
    assert list(tracker.getActiveStageIds()) == []
    assert all(tracker.getJobInfo(j).status != "RUNNING"
               for j in tracker.getJobIdsForGroup(None))
    assert _tree_digest(d) == before

    acc = upsert_docs(spark, d, spark.createDataFrame(batch, SCHEMA))
    assert (acc["replaced"], acc["added"]) == (1, 1)
    assert read_stats_json(d)["n_docs"] == 31
    queries = spark.createDataFrame([(1, "poolfail")],
                                    "query_id long, query_text string")
    assert len(q.exact_topk(spark, d, queries, CFG, 10).collect()) == 2
