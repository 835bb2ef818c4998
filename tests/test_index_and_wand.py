"""End-to-end index build + query: exact ≡ WAND rank identity, postings
round-trip through the real index, and kill-and-resume identity
(SURVEY.md §5 invariants, north_rule resumability)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.operators.bm25 import bm25_topk
from dp_search_data_importer_spark.operators.ingest import normalize_repo_files
from dp_search_data_importer_spark.plans.build_index import build_index, tokenize_docs
from dp_search_data_importer_spark.plans import query as q

CFG = EngineConfig(n_shards=4)

QUERIES = [
    (1, "import def"),            # hot terms
    (2, "getUserName parseData"), # camelCase → split terms
    (3, "index merge scan"),
    (4, "zzznope"),               # unseen
    (5, "the import"),
]


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    stats = build_index(spark, corpus, out, CFG, code_aware=True, waves=2)
    return out, stats


@pytest.fixture(scope="module")
def queries_df(spark):
    return spark.createDataFrame(QUERIES, "query_id long, query_text string")


def _ranked(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["score"], r["doc_id"]))
    return {
        k: sorted(v, key=lambda sv: (-sv[0], sv[1])) for k, v in out.items()
    }


def test_index_roundtrip_matches_tf(spark, corpus, built):
    """The stored postings rows reproduce the original (doc,term,tf,dl)."""
    out, _ = built
    docs = normalize_repo_files(corpus)
    expected = tokenize_docs(docs, code_aware=True, text_col="content")
    got = q.decompress_blocks(q.load_blocks(spark, out))
    diff = expected.exceptAll(got).union(got.exceptAll(expected))
    assert diff.count() == 0


def test_exact_index_path_matches_tf_path(spark, corpus, built, queries_df):
    """Exact scorer over the index ≡ exact scorer straight from tf pairs."""
    out, _ = built
    docs = normalize_repo_files(corpus)
    tf = tokenize_docs(docs, code_aware=True, text_col="content")
    a = _ranked(bm25_topk(tf, queries_df, CFG, 10, code_aware=True).collect())
    b = _ranked(q.exact_topk(spark, out, queries_df, CFG, 10).collect())
    assert a == b
    assert set(a) == {1, 2, 3, 5}  # unseen-term query absent


def test_wand_rank_identical_to_exact(spark, built, queries_df):
    out, _ = built
    exact = _ranked(q.exact_topk(spark, out, queries_df, CFG, 10).collect())
    wand = _ranked(q.wand_topk(spark, out, queries_df, CFG, 10).collect())
    assert wand == exact


def test_wand_various_k(spark, built, queries_df):
    out, _ = built
    for k in (1, 3, 25):
        exact = _ranked(q.exact_topk(spark, out, queries_df, CFG, k).collect())
        wand = _ranked(q.wand_topk(spark, out, queries_df, CFG, k).collect())
        assert wand == exact, k


def test_resolve_docs(spark, built, queries_df):
    out, _ = built
    res = q.wand_topk(spark, out, queries_df, CFG, 5)
    resolved = q.resolve_docs(spark, out, res)
    assert resolved.count() == res.count()
    assert resolved.filter(F.col("repo").isNull()).count() == 0


def test_manifest_metrics(spark, built):
    out, stats = built
    from dp_search_data_importer_spark.checkpoint import read_manifest

    m = read_manifest(spark, out)
    rows = m.collect()
    assert {r["shard"] for r in rows} == set(range(CFG.n_shards))
    assert sum(r["n_docs"] for r in rows) == stats["n_docs"]
    assert all(r["n_postings"] > 0 for r in rows)


def test_resume_skips_completed_and_is_identical(spark, corpus, built, tmp_path):
    """Kill-and-resume: build waves 1..n, delete manifest rows for the last
    wave's shards, rebuild — content fingerprints must match the uninterrupted
    build (deterministic, effectively-once)."""
    import os

    from dp_search_data_importer_spark.checkpoint import read_manifest

    out_full, _ = built
    full = {r["shard"]: r["content_fingerprint"]
            for r in read_manifest(spark, out_full).collect()}

    # interrupted build: wave 1 only (simulate kill by building with a
    # config that stops after the first wave — emulated by building into a
    # fresh dir, then deleting the second wave's outputs + manifest rows)
    out2 = str(tmp_path / "idx2")
    build_index(spark, corpus, out2, CFG, code_aware=True, waves=2)
    # wipe shards 2,3 postings + full manifest, keep shards 0,1 rows
    m = spark.read.parquet(os.path.join(out2, "_manifest"))
    schema = m.schema
    keep = m.filter(F.col("shard") < 2).collect()
    shutil.rmtree(os.path.join(out2, "_manifest"))
    for s in (2, 3):
        p = os.path.join(out2, "postings", f"shard={s}")
        if os.path.exists(p):
            shutil.rmtree(p)
    if keep:
        spark.createDataFrame(keep, schema=schema).write.parquet(
            os.path.join(out2, "_manifest")
        )

    build_index(spark, corpus, out2, CFG, code_aware=True, waves=2, resume=True)
    resumed = {r["shard"]: r["content_fingerprint"]
               for r in read_manifest(spark, out2).collect()}
    assert resumed == full


def test_resume_after_postings_commit_no_duplicates(spark, corpus, built, tmp_path):
    """The ADVICE-flagged window: crash BETWEEN the postings write commit and
    append_manifest. The wave's shard dirs are on disk but un-manifested; the
    resume rebuilds them and must REPLACE (dynamic overwrite), not append —
    appending would double postings and inflate every score."""
    import os

    from dp_search_data_importer_spark.checkpoint import read_manifest

    out_full, _ = built
    full = {r["shard"]: r["content_fingerprint"]
            for r in read_manifest(spark, out_full).collect()}
    full_blocks = spark.read.parquet(os.path.join(out_full, "postings")).count()

    out2 = str(tmp_path / "idx3")
    build_index(spark, corpus, out2, CFG, code_aware=True, waves=2)
    # simulate the crash: drop manifest rows for shards 2,3 but KEEP their
    # committed postings dirs on disk
    m = spark.read.parquet(os.path.join(out2, "_manifest"))
    schema = m.schema
    keep = m.filter(F.col("shard") < 2).collect()
    shutil.rmtree(os.path.join(out2, "_manifest"))
    spark.createDataFrame(keep, schema=schema).write.parquet(
        os.path.join(out2, "_manifest")
    )

    build_index(spark, corpus, out2, CFG, code_aware=True, waves=2, resume=True)
    resumed = {r["shard"]: r["content_fingerprint"]
               for r in read_manifest(spark, out2).collect()}
    assert resumed == full
    assert spark.read.parquet(
        os.path.join(out2, "postings")).count() == full_blocks


def test_rebuild_with_resume_false_replaces(spark, corpus, built, tmp_path):
    """resume=False into an existing out_dir must produce the same index as a
    fresh build (no stale postings/manifest inherited)."""
    import os

    from dp_search_data_importer_spark.checkpoint import read_manifest

    out_full, _ = built
    full = {r["shard"]: r["content_fingerprint"]
            for r in read_manifest(spark, out_full).collect()}

    out2 = str(tmp_path / "idx4")
    build_index(spark, corpus, out2, CFG, code_aware=True, waves=2)
    build_index(spark, corpus, out2, CFG, code_aware=True, waves=2, resume=False)
    m = read_manifest(spark, out2)
    rows = m.collect()
    assert len(rows) == CFG.n_shards  # exactly one manifest row per shard
    assert {r["shard"]: r["content_fingerprint"] for r in rows} == full
    assert spark.read.parquet(
        os.path.join(out2, "postings")).count() == spark.read.parquet(
        os.path.join(out_full, "postings")).count()


@pytest.mark.parametrize("fail_at", [1, 2])
def test_failed_build_joins_pool_and_resumes(spark, corpus, built, tmp_path,
                                             monkeypatch, fail_at):
    """A manifest failure in wave ``fail_at`` (the second runs on the
    build's thread pool) propagates, leaves no pool thread running — so a
    resume cannot overlap a still-running docs write — and a resume
    reproduces the uninterrupted build."""
    import threading

    from dp_search_data_importer_spark.checkpoint import read_manifest
    from dp_search_data_importer_spark.plans import build_index as bi

    out_full, _ = built
    full = {r["shard"]: r["content_fingerprint"]
            for r in read_manifest(spark, out_full).collect()}
    real = bi.append_manifest
    calls = []

    def failing(rows, out_dir):
        calls.append(out_dir)
        if len(calls) == fail_at:
            raise RuntimeError("injected manifest failure")
        real(rows, out_dir)

    monkeypatch.setattr(bi, "append_manifest", failing)
    out = str(tmp_path / "idx_fail")
    with pytest.raises(RuntimeError, match="injected manifest failure"):
        build_index(spark, corpus, out, CFG, code_aware=True, waves=2)
    assert not [t for t in threading.enumerate()
                if t.name.startswith("build_index")]
    assert not os.path.exists(os.path.join(out, "stats.json"))

    monkeypatch.setattr(bi, "append_manifest", real)
    build_index(spark, corpus, out, CFG, code_aware=True, waves=2, resume=True)
    assert {r["shard"]: r["content_fingerprint"]
            for r in read_manifest(spark, out).collect()} == full


def test_build_leaves_session_conf_unchanged(spark, tmp_path):
    """Dynamic partition overwrite is a postings write option, not session
    conf: a build must not change how the caller's later partitioned
    overwrites behave."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    src = spark.createDataFrame(
        [("r", "a.py", "c1", "def foo"), ("r", "b.py", "c1", "import os")],
        "repo string, path string, commit string, content string")
    build_index(spark, src, str(tmp_path / "idx"),
                EngineConfig(n_shards=2), waves=2)
    assert spark.conf.get(key) == "static"


def test_zero_token_docs_counted_in_stats(spark, tmp_path):
    """Lucene docCount semantics: a doc that tokenizes to zero terms still
    counts toward N (and contributes dl=0 to avgdl), and lands in docs/."""
    import os

    rows = [
        ("r", "a.py", "c1", "def foo(): pass"),
        ("r", "b.py", "c1", "!!! ???"),  # symbol-only → zero tokens
        ("r", "c.py", "c1", "import os import sys"),
    ]
    src = spark.createDataFrame(rows, "repo string, path string, commit string, content string")
    out = str(tmp_path / "idx_empty")
    cfg = EngineConfig(n_shards=2)
    stats = build_index(spark, src, out, cfg, code_aware=True, waves=1)
    assert stats["n_docs"] == 3
    # avgdl divides the total token count by ALL 3 docs
    tok_total = (3 + 0 + 4)  # [def, foo, pass], [], [import, os, import, sys]
    assert abs(stats["avgdl"] - tok_total / 3) < 1e-9
    assert spark.read.parquet(os.path.join(out, "docs")).count() == 3
    from dp_search_data_importer_spark.checkpoint import read_manifest

    assert sum(r["n_docs"] for r in read_manifest(spark, out).collect()) == 3


def test_build_with_every_row_dropped(spark, tmp_path):
    """A build whose every input row is dropped by normalization (empty
    path) completes as an empty index: adaptive execution replaces the
    docs write's empty shuffle stage together with its observed counts,
    so the counts fall back to zero instead of failing the build."""
    rows = [("r", "", "c1", f"def f{i}(): pass") for i in range(3)]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string")
    cfg = EngineConfig(n_shards=2)
    stats = build_index(spark, src, str(tmp_path / "idx"), cfg, waves=1)
    assert stats["n_docs"] == 0
    assert stats["shard_docs"] == {0: 0, 1: 0}


def test_queries_read_postings_without_sum_tf_and_poss(spark, corpus,
                                                      tmp_path):
    """Postings are plain rows read with their known schema: the files
    hold no block-metadata columns (``sum_tf``, ``poss``), and rewritten
    by another writer (pyarrow: no Spark schema metadata, row groups of
    its own size) they give the exact, bool and prefix paths the same
    hits as before."""
    import pyarrow.parquet as pq

    from dp_search_data_importer_spark.operators.bm25 import BoolSpec
    from dp_search_data_importer_spark.session import _PLAN_CACHE

    out = str(tmp_path / "idx")
    build_index(spark, corpus.limit(60), out, CFG, code_aware=True, waves=1)
    queries = spark.createDataFrame(QUERIES, "query_id long, query_text string")
    spec = [BoolSpec(1, must=["import"], should=["def"], must_not=["merge"])]

    def answers():
        _PLAN_CACHE.clear()  # the rewrite keeps the index version
        return [sorted(map(tuple, df.collect())) for df in (
            q.exact_topk(spark, out, queries, CFG, 10),
            q.bool_topk_indexed(spark, out, spec, CFG, 10),
            q.prefix_topk(spark, out, ["imp"], CFG, 10))]

    before = answers()
    assert all(before)
    n_files = 0
    for dirpath, _, files in os.walk(os.path.join(out, "postings")):
        for name in files:
            path = os.path.join(dirpath, name)
            if name.endswith(".crc"):
                os.remove(path)  # checksums of the rewritten files
            elif name.endswith(".parquet"):
                table = pq.ParquetFile(path).read()
                assert table.column_names == ["term", "doc_id", "tf", "dl"]
                pq.write_table(table.replace_schema_metadata(None), path,
                               row_group_size=16)
                n_files += 1
    assert n_files == CFG.n_shards
    assert answers() == before


def test_old_format_index_is_refused(spark, corpus, tmp_path):
    """An index whose stats.json records no current postings format holds
    postings in an older layout: every stored read path and every writer
    refuses it with an error that says to rebuild, instead of reading the
    missing columns as nulls."""
    import json

    from dp_search_data_importer_spark.operators.bm25 import BoolSpec
    from dp_search_data_importer_spark.operators.phrase import phrase_topk
    from dp_search_data_importer_spark.plans.update_index import upsert_docs

    out = str(tmp_path / "idx")
    build_index(spark, corpus.limit(60), out, CFG, code_aware=True, waves=1,
                positions=True)
    assert q.exact_topk(spark, out, QUERIES, CFG, 10).collect()
    stats_path = os.path.join(out, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    del stats["postings_format"]
    with open(stats_path, "w") as f:
        json.dump(stats, f)
    spec = [BoolSpec(1, must=["import"], should=["def"], must_not=["merge"])]
    calls = [
        lambda: q.exact_topk(spark, out, QUERIES, CFG, 10),
        lambda: q.bool_topk_indexed(spark, out, spec, CFG, 10),
        lambda: q.prefix_topk(spark, out, ["imp"], CFG, 10),
        lambda: q.load_blocks(spark, out, ["import"]),
        lambda: phrase_topk(spark, out, [(1, "import def")], CFG),
        lambda: upsert_docs(spark, out, corpus.limit(2)),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="rebuild"):
            call()


def test_doc_id_collision_check(spark):
    from dp_search_data_importer_spark.operators.ingest import (
        doc_id_collisions,
        normalize_repo_files,
    )

    rows = [("r", "a.py", "c1", "x"), ("r", "b.py", "c1", "y")]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string")
    docs = normalize_repo_files(src)
    assert doc_id_collisions(docs).count() == 0
    # forced collision: same doc_id claimed by two distinct keys
    forged = docs.withColumn("doc_id", F.lit(42).cast("long"))
    assert doc_id_collisions(forged).count() == 1


def test_hot_term_stripes_uniformly_across_shards(spark, tmp_path):
    """The structural skew answer: a term appearing in EVERY doc cannot skew
    any build task, because doc-hash sharding stripes its postings evenly —
    per-shard posting counts for the hottest term stay within a tight band."""
    import os

    rows = [("r", f"f{i}.py", "c", "py",
             "universal " + " ".join(f"w{(i * 13 + j) % 97}" for j in range(20)))
            for i in range(2000)]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    out = str(tmp_path / "skew_idx")
    cfg = EngineConfig(n_shards=8)
    build_index(spark, src, out, cfg, waves=1)
    per_shard = {
        r["shard"]: r["n"]
        for r in spark.read.parquet(os.path.join(out, "postings"))
        .filter(F.col("term") == "universal")
        .groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(per_shard) == cfg.n_shards  # the hot term hits every shard
    assert sum(per_shard.values()) == 2000
    lo, hi = min(per_shard.values()), max(per_shard.values())
    assert hi <= 2 * lo, per_shard  # xxhash64 balance: ~250 ± noise per shard


def test_prefix_and_fuzzy_queries(spark, corpus, built):
    """ES prefix/fuzzy query twins over the term dictionary: expansion is
    dictionary-driven (pushed StartsWith / levenshtein), scoring is the
    standard exact path over the expanded term set."""
    out, _ = built
    # prefix: every 'imp*' term scores (the corpus is full of 'import')
    res = q.prefix_topk(spark, out, ["imp"], CFG, 10).collect()
    assert len(res) == 10
    terms = q.expand_terms(spark, out, "imp", "prefix")
    assert "import" in terms
    # expansion plan pushes the prefix into the dictionary scan
    import os as _os

    tdf = spark.read.parquet(_os.path.join(out, "term_df")).filter(
        F.col("term").startswith("imp"))
    plan = tdf._jdf.queryExecution().explainString(
        tdf._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "StringStartsWith(term,imp" in plan

    # fuzzy: one edit away still matches ('improt' typo → import)
    fz = q.expand_terms(spark, out, "improt", "fuzzy", max_edits=2)
    assert "import" in fz
    res_f = q.fuzzy_topk(spark, out, ["improt"], CFG, 5, max_edits=2).collect()
    assert len(res_f) == 5
    # zero-expansion tokens return an empty frame, not an error
    assert q.fuzzy_topk(spark, out, ["zzzzzzzzz"], CFG, 5).count() == 0


def test_phrase_topk_over_positions_sidecar(spark, corpus, built):
    """ES match_phrase twin: the positional sidecar answers phrase queries
    identically to recomputing positions from the corpus, phrase tf counts
    overlapping occurrences, and unseen phrases return nothing."""
    from dp_search_data_importer_spark.operators import phrase as ph
    from dp_search_data_importer_spark.operators.bm25 import topk
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
    )

    out, stats = built
    docs = normalize_repo_files(corpus)
    ph.build_positions(spark, docs, out, CFG, code_aware=True)

    phrases = [(1, "import def"), (2, "def getUserName"), (3, "zzz nope")]
    got = _ranked(ph.phrase_topk(spark, out, phrases, CFG, 10).collect())

    # corpus-scan twin: same positions derived straight from the docs
    pos = ph.doc_positions(docs, code_aware=True, text_col="content")
    outs = []
    from pyspark.sql import functions as F2

    for qid, text in phrases:
        toks = text.lower().split()
        m = ph.phrase_matches(pos, toks)
        s = ph.phrase_score(m, stats["n_docs"], stats["avgdl"], CFG)
        if s.isEmpty():
            continue
        outs.append(s.select(F2.lit(qid).cast("long").alias("query_id"),
                             "doc_id", "score"))
    expect = {}
    if outs:
        u = outs[0]
        for o in outs[1:]:
            u = u.unionByName(o)
        expect = _ranked(topk(u, 10).collect())
    assert got == expect
    assert 3 not in got  # unseen phrase absent
    assert 1 in got      # 'import def' exists in the synthetic corpus

    # overlapping occurrences: 'sort sort sort' has phrase_tf('sort sort')=2
    tiny = spark.createDataFrame(
        [(1, "sort sort sort")], "doc_id long, text string")
    tp = ph.doc_positions(tiny)
    m = ph.phrase_matches(tp, ["sort", "sort"]).collect()
    assert m[0]["phrase_tf"] == 2


def test_phrase_batch_job_count_bounded(spark, corpus, built):
    """Round-3 contract: a 50-phrase batch runs a CONSTANT number of Spark
    jobs (one plan: broadcast slot join + window df + topk), not O(|phrases|)
    — the round-2 path ran 2+ jobs per phrase."""
    from dp_search_data_importer_spark.operators import phrase as ph

    out, _ = built
    docs = normalize_repo_files(corpus)
    ph.build_positions(spark, docs, out, CFG, code_aware=True)

    words = ["import", "def", "merge", "hash", "join", "scan", "sort",
             "window", "agg", "stream"]
    phrases = [(i, f"{words[i % 10]} {words[(i * 3 + 1) % 10]}")
               for i in range(50)]
    sc = spark.sparkContext
    sc.setJobGroup("phrase_batch_test", "bounded-jobs assertion")
    try:
        res = ph.phrase_topk(spark, out, phrases, CFG, 5).collect()
    finally:
        sc.setJobGroup(None, None)
    job_ids = sc.statusTracker().getJobIdsForGroup("phrase_batch_test")
    # broadcast exchanges + AQE stages add a few jobs; the point is the
    # bound is independent of |phrases| (old path: >= 100 jobs here)
    assert 0 < len(job_ids) <= 12, len(job_ids)
    assert len(res) > 0
    assert len({r["query_id"] for r in res}) >= 10

    # batched matcher ≡ per-phrase matcher on (doc, phrase_tf) multisets
    pos = ph.load_positions(spark, out)
    sample = phrases[:8]
    batched = {
        (r["query_id"], r["doc_id"]): r["phrase_tf"]
        for r in ph.phrase_matches_batch(
            pos, [(q_, t.split()) for q_, t in sample]).collect()
    }
    solo = {}
    for q_, t in sample:
        for r in ph.phrase_matches(pos, t.split()).collect():
            solo[(q_, r["doc_id"])] = r["phrase_tf"]
    assert batched == solo


def test_phrase_batch_single_token_and_repeats(spark):
    """Edge cases of the fold: 1-token phrases (empty slice → init value)
    and repeated tokens at different slots."""
    from dp_search_data_importer_spark.operators import phrase as ph

    docs = spark.createDataFrame(
        [(1, "sort sort sort merge"), (2, "merge sort"), (3, "plain text")],
        "doc_id long, text string")
    pos = ph.doc_positions(docs)
    got = {
        (r["query_id"], r["doc_id"]): r["phrase_tf"]
        for r in ph.phrase_matches_batch(
            pos, [(1, ["sort"]), (2, ["sort", "sort"]),
                  (3, ["merge", "sort"]), (4, ["sort", "merge"])]).collect()
    }
    assert got[(1, 1)] == 3 and got[(1, 2)] == 1
    assert got[(2, 1)] == 2 and (2, 2) not in got
    assert got[(3, 2)] == 1 and (3, 1) not in got
    assert got[(4, 1)] == 1


def test_positional_index_blocks_vs_sidecar(spark, corpus, built, tmp_path):
    """Positions fold INTO the postings rows (positions=True). Phrase
    results from the stored positions must equal the sidecar twin's, and
    the bytes positions add to the postings must be fewer than the
    sidecar they replace (it stores no duplicate keys)."""
    import os as _os

    from dp_search_data_importer_spark.operators import phrase as ph
    from dp_search_data_importer_spark.plans.build_index import build_index

    out = str(tmp_path / "posidx")
    stats = build_index(spark, corpus, out, CFG, code_aware=True, waves=1,
                        positions=True)
    assert stats["positions"] is True
    # sidecar twin on the same corpus (the round-2 oracle layout)
    docs = normalize_repo_files(corpus)
    ph.build_positions(spark, docs, out, CFG, code_aware=True)

    phrases = [(1, "import def"), (2, "def getUserName"), (3, "zzz nope")]
    from_blocks = _ranked(ph.phrase_topk(spark, out, phrases, CFG, 10).collect())
    # force the sidecar path by reading it directly
    side = spark.read.parquet(_os.path.join(out, "positions"))
    m = ph.phrase_matches_batch(
        side, [(q_, t.lower().split()) for q_, t in phrases])
    from dp_search_data_importer_spark.operators.bm25 import topk

    scored = ph.phrase_score_batch(m, stats["n_docs"], stats["avgdl"], CFG)
    from_sidecar = _ranked(topk(scored, 10).collect())
    assert from_blocks == from_sidecar
    assert 1 in from_blocks

    # storage: what positions add to the postings < the sidecar parquet
    # bytes (no duplicated keys); the non-positional twin is ``built``,
    # the same corpus and shard count
    def parquet_bytes(path):
        return sum(
            _os.path.getsize(_os.path.join(dp, f))
            for dp, _, fs in _os.walk(path)
            for f in fs if f.endswith(".parquet"))

    poss_bytes = (parquet_bytes(_os.path.join(out, "postings"))
                  - parquet_bytes(_os.path.join(built[0], "postings")))
    sidecar_bytes = parquet_bytes(_os.path.join(out, "positions"))
    assert 0 < poss_bytes < sidecar_bytes, (poss_bytes, sidecar_bytes)

    # BM25 paths are unaffected by the extra stream
    queries = spark.createDataFrame(
        [(1, "import"), (2, "getUserName handler")],
        "query_id long, query_text string")
    e = _ranked(q.exact_topk(spark, out, queries, CFG, 10).collect())
    w = _ranked(q.wand_topk(spark, out, queries, CFG, 10).collect())
    assert e == w and 1 in e


def test_positional_tokenizer_twins_identical(spark, corpus):
    """The Arrow positions tokenizer and its Catalyst twin
    (``phrase.doc_positions``) produce identical
    (doc, term, tf, dl, positions) rows."""
    from dp_search_data_importer_spark.operators.phrase import doc_positions
    from dp_search_data_importer_spark.plans.build_index import tokenize_docs

    docs = normalize_repo_files(corpus).limit(40)
    a = {(r["doc_id"], r["term"]): (r["tf"], r["dl"], list(r["positions"]))
         for r in tokenize_docs(docs, code_aware=True,
                                positions=True).collect()}
    s = {(r["doc_id"], r["term"]): (len(r["positions"]), r["dl"],
                                     list(r["positions"]))
         for r in doc_positions(docs, code_aware=True,
                                text_col="content").collect()}
    assert a == s


def test_fielded_stored_index_matches_dataflow_multi_match(spark, tmp_path):
    """ES multi_match over the STORED fielded index (per-field sub-indexes
    + boosts) ranks identically to the dataflow multi_match_topk on the
    same docs."""
    from dp_search_data_importer_spark.operators.bm25 import multi_match_topk
    from dp_search_data_importer_spark.session import local_df

    rows = [(i, f"title word{i % 3} zebra" if i % 4 == 0 else f"title word{i % 3}",
             " ".join(["body", "text", f"tok{i % 7}", "zebra"] * (2 + i % 5)))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    qdf = local_df(spark, [(1, "zebra"), (2, "tok1 word1")],
                   "query_id long, query_text string")

    out = str(tmp_path / "fielded")
    q.build_fielded_index(spark, docs, out, {"title": 2.0, "body": 1.0},
                          CFG, code_aware=False, waves=1)
    stored = _ranked(q.fielded_topk(spark, out, qdf, CFG, 10).collect())
    flow = _ranked(multi_match_topk(docs, {"title": 2.0, "body": 1.0}, qdf,
                                    CFG, 10).collect())
    assert stored == flow
    assert 1 in stored and 2 in stored


def test_filtered_topk_es_filter_context(spark, corpus, built):
    """ES bool-filter twin: only docs matching the metadata predicate are
    ranked; scoring statistics stay GLOBAL (filter context does not change
    scores — shared docs keep their unfiltered score)."""
    out, _ = built
    queries = spark.createDataFrame([(1, "import def")],
                                    "query_id long, query_text string")
    full = {r["doc_id"]: r["score"]
            for r in q.exact_topk(spark, out, queries, CFG, 50).collect()}
    flt = q.filtered_topk(spark, out, queries, F.col("lang") == "py",
                          CFG, 10).collect()
    assert len(flt) == 10
    py_ids = {r["doc_id"] for r in
              spark.read.parquet(os.path.join(out, "docs"))
              .filter(F.col("lang") == "py").collect()}
    assert {r["doc_id"] for r in flt} <= py_ids
    for r in flt:  # unchanged scores for docs present in the global top-50
        if r["doc_id"] in full:
            assert r["score"] == full[r["doc_id"]]


def test_term_snippets_highlight(spark):
    """ES highlight twin: first-occurrence token position + windowed
    snippet; analyzer symmetry (code-aware finds camelCase parts);
    absent terms produce no row."""
    from dp_search_data_importer_spark.operators.phrase import term_snippets

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "nothing relevant here at all"),
         (3, "x getUserName y")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["term"]): (r["pos"], r["snippet"])
           for r in term_snippets(docs, ["delta", "kappa", "zzz"],
                                  window=2).collect()}
    assert got[(1, "delta")] == (3, "beta gamma delta epsilon zeta")
    assert got[(1, "kappa")][0] == 9
    assert got[(1, "kappa")][1].endswith("kappa")  # window clipped at end
    assert not any(d == 2 for d, _ in got)
    assert not any(t == "zzz" for _, t in got)

    code = {(r["doc_id"], r["term"]): r["pos"]
            for r in term_snippets(docs, ["user"], window=1,
                                   code_aware=True).collect()}
    assert code[(3, "user")] == 2  # x get user name y → idx 2


def test_phrase_slop_semantics(spark):
    """Ordered sloppy phrase (span ≤ n−1+slop, increasing chain): slop=0
    equals the exact adjacency batch; growing slop admits wider gaps; tf
    counts valid chain starts."""
    from dp_search_data_importer_spark.operators import phrase as ph
    from dp_search_data_importer_spark.session import local_df

    docs = local_df(spark, [
        (1, "alpha beta gamma"),          # adjacent
        (2, "alpha x beta y gamma"),      # gaps of 1 each (total slop 2)
        (3, "alpha x x beta gamma"),      # gap 2 then 0 (total slop 2)
        (4, "beta alpha gamma"),          # out of order: never matches
        (5, "alpha beta alpha beta"),     # two starts at slop 0
    ], "doc_id long, text string")
    pos = ph.doc_positions(docs, code_aware=False)

    def tfs(toks, slop):
        rows = ph.phrase_matches_batch_slop(pos, [(1, toks, slop)]).collect()
        return {r["doc_id"]: r["phrase_tf"] for r in rows}

    # slop=0 ≡ exact adjacency
    exact = {r["doc_id"]: r["phrase_tf"]
             for r in ph.phrase_matches_batch(
                 pos, [(1, ["alpha", "beta"])]).collect()}
    got0 = tfs(["alpha", "beta"], 0)
    assert got0 == exact
    assert got0 == {1: 1, 5: 2}

    # 3-token phrase: total budget, not per-gap
    assert set(tfs(["alpha", "beta", "gamma"], 0)) == {1}
    assert set(tfs(["alpha", "beta", "gamma"], 1)) == {1}   # docs 2,3 need 2
    assert set(tfs(["alpha", "beta", "gamma"], 2)) == {1, 2, 3}
    # order is required at any slop (documented divergence from Lucene)
    assert 4 not in tfs(["alpha", "beta", "gamma"], 10)


def test_phrase_topk_slop_over_index(spark, corpus, built):
    """phrase_topk(slop=…) rides the same positional index: slop=0 equals
    the default path; a sloppy query is a superset of its exact hits."""
    from dp_search_data_importer_spark.operators import phrase as ph

    out, _ = built
    ph.build_positions(spark, normalize_repo_files(corpus), out, CFG,
                       code_aware=True)
    phrases = [(1, "import def"), (2, "def getUserName")]
    exact = ph.phrase_topk(spark, out, phrases, CFG, 10).collect()
    slop0 = ph.phrase_topk(spark, out, phrases, CFG, 10, slop=0).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, slop0))
    # at the MATCH level (before top-k truncation reshuffles ranks) every
    # exact occurrence is also a sloppy occurrence, with tf at least as big
    qtoks = [(qid, t.lower().split()) for qid, t in phrases]
    pos = ph.load_positions(
        spark, out, terms=sorted({t for _, ts in qtoks for t in ts}))
    m_exact = {(r["query_id"], r["doc_id"]): r["phrase_tf"]
               for r in ph.phrase_matches_batch(pos, qtoks).collect()}
    m_slop = {(r["query_id"], r["doc_id"]): r["phrase_tf"]
              for r in ph.phrase_matches_batch_slop(
                  pos, [(q, t, 3) for q, t in qtoks]).collect()}
    assert set(m_exact) <= set(m_slop)
    assert all(m_slop[key] >= tf for key, tf in m_exact.items())
    assert len(m_slop) > len(m_exact)  # slop admits genuinely new matches


def test_search_after_pages_concatenate(spark, built, queries_df):
    """ES search_after twin over the stored index: three cursor-fetched
    pages concatenate to exactly the unpaginated top-30 — no skipped, no
    duplicated hits (the deterministic (rounded score, doc_id) total
    order makes cursor pagination ≡ offset)."""
    from dp_search_data_importer_spark.operators.bm25 import page_cursor
    from dp_search_data_importer_spark.plans import query as qp

    out, _ = built

    def ranked(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(
                (r["score"], r["doc_id"]))
        return {k: sorted(v, key=lambda sv: (-sv[0], sv[1]))
                for k, v in got.items()}

    top30 = ranked(qp.exact_topk(spark, out, queries_df, CFG, 30).collect())

    pages = []
    cursor = None
    for _ in range(3):
        page = qp.exact_topk(spark, out, queries_df, CFG, 10,
                             after=cursor).collect()
        pages.append(page)
        # carry forward cursors for queries this page exhausted
        cursor = {**(cursor or {}), **page_cursor(page)}
    concat = ranked([r for page in pages for r in page])
    assert concat == top30
    # page 2 shares nothing with page 1
    p1 = {(r["query_id"], r["doc_id"]) for r in pages[0]}
    p2 = {(r["query_id"], r["doc_id"]) for r in pages[1]}
    assert not (p1 & p2)


def test_synonym_topk_over_index(spark, built):
    """Query-time synonym expansion over the stored index: an unseen
    query term with a seen synonym retrieves exactly the synonym's
    ranking (each expanded term scores with its own df)."""
    from dp_search_data_importer_spark.plans.query import synonym_topk
    from dp_search_data_importer_spark.session import local_df

    out, _ = built
    syn = synonym_topk(spark, out, [(1, "zzznope")],
                       {"zzznope": ["import"]}, CFG, 10).collect()
    plain = q.exact_topk(
        spark, out,
        local_df(spark, [(1, "import")], "query_id long, query_text string"),
        CFG, 10).collect()
    assert _ranked(syn) == _ranked(plain)
    assert len(syn) == 10
    # no dictionary entry ⇒ identical to plain search
    bare = synonym_topk(spark, out, [(1, "import")], {}, CFG, 10).collect()
    assert _ranked(bare) == _ranked(plain)


def test_bool_indexed_with_filter_context(spark, built):
    """Full ES bool surface over the stored index: must/should/must_not
    composed with a filter-context metadata predicate. The filter gates
    candidates (docs outside the predicate vanish) but scoring statistics
    stay global — filtered hits keep exactly their unfiltered scores."""
    from dp_search_data_importer_spark.operators.bm25 import BoolSpec

    out, _ = built
    spec = [BoolSpec(1, must=["import"], should=["merge"])]
    unfiltered = q.bool_topk_indexed(spark, out, spec, CFG, 200).collect()
    filtered = q.bool_topk_indexed(
        spark, out, spec, CFG, 200,
        doc_filter=F.col("doc_id") % 2 == 0).collect()
    assert filtered, "even-doc_id hits exist"
    assert all(r["doc_id"] % 2 == 0 for r in filtered)
    unf_scores = {r["doc_id"]: r["score"] for r in unfiltered}
    for r in filtered:
        assert unf_scores[r["doc_id"]] == r["score"]  # ES filter-context
    assert {r["doc_id"] for r in filtered} == {
        d for d in unf_scores if d % 2 == 0}


def test_phrase_slop_property_vs_bruteforce(spark):
    """Property test: the greedy (start, cur) Catalyst fold matches a
    brute-force chain search on randomized corpora — every (doc, phrase,
    slop) combination, tf included."""
    import itertools
    import random

    from dp_search_data_importer_spark.operators import phrase as ph
    from dp_search_data_importer_spark.session import local_df

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d"]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
            for i in range(40)]
    pos = ph.doc_positions(
        local_df(spark, docs, "doc_id long, text string"), code_aware=False)

    def brute_tf(tokens, words, slop):
        span = len(tokens) - 1 + slop
        starts = set()
        positions = [[p for p, w in enumerate(words) if w == t]
                     for t in tokens]
        if any(not pl for pl in positions):
            return 0
        # exhaustive: ANY increasing chain within the span (validates the
        # greedy fold's exchange argument, it does not replay the greedy)
        def any_chain(cur, rest, p0):
            if not rest:
                return True
            return any(any_chain(q, rest[1:], p0)
                       for q in rest[0] if cur < q <= p0 + span)

        for p0 in positions[0]:
            if any_chain(p0, positions[1:], p0):
                starts.add(p0)
        return len(starts)

    phrases = [
        (1, ["a", "b"], 0), (2, ["a", "b"], 2), (3, ["b", "a", "c"], 1),
        (4, ["c", "c"], 0), (5, ["a", "d", "b"], 3), (6, ["d"], 0),
        (7, ["a", "a", "a"], 2),
    ]
    got = {(r["query_id"], r["doc_id"]): r["phrase_tf"]
           for r in ph.phrase_matches_batch_slop(pos, phrases).collect()}
    expect = {}
    for qid, toks, slop in phrases:
        for doc_id, text in docs:
            tf = brute_tf(toks, text.split(), slop)
            if tf > 0:
                expect[(qid, doc_id)] = tf
    assert got == expect


def test_wildcard_and_regexp_topk(spark, built):
    """ES wildcard/regexp query twins over the stored index: 'imp*' is
    exactly the 'imp' prefix query; regexp is whole-term anchored (a
    partial pattern matches nothing, per ES semantics)."""
    out, _ = built
    wc = _ranked(q.wildcard_topk(spark, out, ["imp*"], CFG, 10).collect())
    px = _ranked(q.prefix_topk(spark, out, ["imp"], CFG, 10).collect())
    assert wc == px and wc
    # '?' = exactly one char
    one = _ranked(q.wildcard_topk(spark, out, ["impor?"], CFG, 10).collect())
    assert one == _ranked(
        q.exact_topk(spark, out,
                     spark.createDataFrame([(1, "import")],
                                           "query_id long, query_text string"),
                     CFG, 10).collect())
    # anchored regexp: partial pattern matches no whole term
    assert q.regexp_topk(spark, out, ["impor"], CFG, 10).count() == 0
    assert q.regexp_topk(spark, out, ["imp.rt"], CFG, 10).count() > 0


def test_sorted_topk_stored_index_and_pagination(spark, built, queries_df):
    """ES sort-by-field over the stored index: hits ordered by a docs-table
    metadata field (path desc, doc_id asc tie-break), and search_after
    pagination composing on the (field, doc_id) total order — two cursor
    pages concatenate exactly to the unpaginated top-10."""
    out, _ = built
    hits = q._match_hits(spark, out, queries_df)
    meta = spark.read.parquet(os.path.join(out, "docs")).select(
        "doc_id", "path")
    ref_rows = hits.join(meta, "doc_id").collect()

    def _key(path, doc_id):
        # descending on path ≡ ascending on an inverted sort key
        return (tuple(-b for b in path.encode()), doc_id)

    expect: dict[int, list] = {}
    for r in ref_rows:
        expect.setdefault(r["query_id"], []).append(
            (_key(r["path"], r["doc_id"]), (r["path"], r["doc_id"])))
    top10 = {qid: [pd for _, pd in sorted(v)[:10]]
             for qid, v in expect.items()}

    def _collected(rows):
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: _key(r["path"], r["doc_id"])):
            by_q.setdefault(r["query_id"], []).append(
                (r["path"], r["doc_id"]))
        return by_q

    got10 = _collected(
        q.sorted_topk(spark, out, queries_df, "path", k=10).collect())
    assert got10 == {qid: v for qid, v in top10.items() if v}

    # pagination: page1 (k=5) + cursor -> page2 (k=5) == ranks 1..10
    p1 = q.sorted_topk(spark, out, queries_df, "path", k=5).collect()
    cur = {qid: (lst[-1][0], lst[-1][1])
           for qid, lst in _collected(p1).items()}
    p2 = q.sorted_topk(spark, out, queries_df, "path", k=5,
                       after=cur).collect()
    assert _collected(list(p1) + list(p2)) == got10


def test_facet_counts_stored_index(spark, built, queries_df):
    """Query-scoped terms aggregation over the stored index: per-facet
    bucket counts over the full hit set equal a brute-force count, with
    the ES (doc_count desc, key asc) top-N order."""
    out, _ = built
    hits = q._match_hits(spark, out, queries_df)
    meta = spark.read.parquet(os.path.join(out, "docs")).select(
        "doc_id", "lang")
    ref = {}
    for r in hits.join(meta, "doc_id").collect():
        key = (r["query_id"], "lang", r["lang"])
        ref[key] = ref.get(key, 0) + 1
    expect = {}
    for (qid, facet, key), n in ref.items():
        expect.setdefault((qid, facet), []).append((-n, key))
    want = set()
    for (qid, facet), lst in expect.items():
        for negn, key in sorted(lst)[:3]:
            want.add((qid, facet, key, -negn))
    got = {(r["query_id"], r["facet"], r["key"], r["doc_count"])
           for r in q.facet_counts(spark, out, queries_df, ["lang"],
                                   top_n=3).collect()}
    assert got == want


@pytest.mark.parametrize("shards", [list(range(8)), list(range(16)),
                                    [1, 5, 6]])
def test_repartition_by_shard_one_partition_per_shard(spark, shards):
    """Each shard's rows land alone in their own partition, so a
    partitioned write runs one task per shard; hashing the shard ids
    themselves puts 8 shards in 5 partitions and 16 in 10."""
    from dp_search_data_importer_spark.plans.build_index import (
        repartition_by_shard,
    )

    rows = spark.range(40 * len(shards)).select(
        F.element_at(F.array(*[F.lit(s) for s in shards]),
                     (F.col("id") % len(shards) + 1).cast("int"))
        .alias("shard"))
    parts = {}
    for r in (repartition_by_shard(rows, shards)
              .select("shard", F.spark_partition_id().alias("p"))
              .distinct().collect()):
        parts.setdefault(r["p"], set()).add(r["shard"])
    assert len(parts) == len(shards)
    assert all(len(v) == 1 for v in parts.values())
    if len(shards) in (8, 16):
        plain = {r["p"] for r in rows.repartition(len(shards), "shard")
                 .select(F.spark_partition_id().alias("p")).distinct()
                 .collect()}
        assert len(plain) == {8: 5, 16: 10}[len(shards)]


def test_shard_keyed_write_keeps_fingerprints(spark, corpus, built,
                                              tmp_path, monkeypatch):
    """A build through the shard-keyed writes leaves every shard's
    manifest row (content fingerprint, postings, terms, docs) exactly as
    one whose writes hash-partition on the shard id."""
    from dp_search_data_importer_spark.checkpoint import read_manifest
    from dp_search_data_importer_spark.plans import build_index as bi

    def rows(d):
        return {r["shard"]: (r["content_fingerprint"], r["n_postings"],
                             r["n_terms"], r["n_docs"])
                for r in read_manifest(spark, d).collect()}

    monkeypatch.setattr(bi, "repartition_by_shard",
                        lambda df, shards: df.repartition(len(shards),
                                                          "shard"))
    out = str(tmp_path / "hashed")
    build_index(spark, corpus, out, CFG, code_aware=True, waves=2)
    assert rows(out) == rows(built[0])
