"""_reindex twin: re-shard / filter WITHOUT re-tokenizing ≡ fresh build.

The strongest contract again: reindexing 4→8 shards (or down to a
query-filtered subset) must be artifact-identical — per-shard content
fingerprints, corpus stats, term dictionary, and query results — to
building the same corpus at the destination layout from raw text."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dp_search_data_importer_spark.checkpoint import (
    read_manifest,
    read_stats_json,
)
from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.plans import query as q
from dp_search_data_importer_spark.plans.build_index import build_index
from dp_search_data_importer_spark.plans.reindex import reindex

CFG4 = EngineConfig(n_shards=4)
CFG8 = EngineConfig(n_shards=8)
SCHEMA = "repo string, path string, commit string, lang string, content string"

WORDS = ["import", "def", "merge", "hash", "join", "scan", "sort", "window",
         "agg", "stream", "token", "shard", "block", "query", "batch"]


def _rows(n):
    rows = []
    for i in range(n):
        words = [WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(12 + i % 9)]
        rows.append(("r1", f"src/f{i}.py", "c1", "py", " ".join(words)))
    return rows


def _fingerprints(spark, d):
    return {r["shard"]: r["content_fingerprint"]
            for r in read_manifest(spark, d).collect()}


def _term_df(spark, d):
    return {(r["term"], r["df"]) for r in
            spark.read.parquet(os.path.join(d, "term_df")).collect()}


def _assert_same_index(spark, d_a, d_b):
    s_a, s_b = read_stats_json(d_a), read_stats_json(d_b)
    for k in ("n_docs", "sum_dl", "avgdl", "shard_docs", "n_shards",
              "postings_format", "positions", "code_aware"):
        assert s_a[k] == s_b[k], k
    assert _fingerprints(spark, d_a) == _fingerprints(spark, d_b)
    assert _term_df(spark, d_a) == _term_df(spark, d_b)


def test_reshard_equals_fresh_build(spark, tmp_path):
    base = _rows(60)
    src = str(tmp_path / "src4")
    dst = str(tmp_path / "dst8")
    fresh = str(tmp_path / "fresh8")
    build_index(spark, spark.createDataFrame(base, SCHEMA), src, CFG4,
                code_aware=True, waves=1)
    reindex(spark, src, dst, n_shards=8)
    build_index(spark, spark.createDataFrame(base, SCHEMA), fresh, CFG8,
                code_aware=True, waves=1)
    _assert_same_index(spark, dst, fresh)
    # both query paths agree on the resharded index
    queries = spark.createDataFrame([(1, "hash join merge")],
                                    "query_id long, query_text string")
    got = {(r["query_id"], r["doc_id"], r["score"])
           for r in q.exact_topk(spark, dst, queries, CFG8, k=10).collect()}
    want = {(r["query_id"], r["doc_id"], r["score"])
            for r in q.exact_topk(spark, fresh, queries, CFG8, k=10).collect()}
    assert got == want and got


def test_reindex_positional_preserves_positions(spark, tmp_path):
    base = _rows(24)
    src = str(tmp_path / "psrc")
    dst = str(tmp_path / "pdst")
    fresh = str(tmp_path / "pfresh")
    build_index(spark, spark.createDataFrame(base, SCHEMA), src, CFG4,
                code_aware=True, waves=1, positions=True)
    reindex(spark, src, dst, n_shards=8)
    build_index(spark, spark.createDataFrame(base, SCHEMA), fresh, CFG8,
                code_aware=True, waves=1, positions=True)
    _assert_same_index(spark, dst, fresh)
    assert read_stats_json(dst)["positions"] is True


def test_query_filtered_reindex_equals_subset_build(spark, tmp_path):
    rows = [
        ("r1", "a.py", "c1", "py", "zebra quokka shared words here"),
        ("r1", "b.py", "c1", "py", "zebra only in this document"),
        ("r1", "c.py", "c1", "py", "quokka text of the third file"),
        ("r1", "d.py", "c1", "py", "neither animal appears here"),
    ]
    src = str(tmp_path / "qsrc")
    dst = str(tmp_path / "qdst")
    fresh = str(tmp_path / "qfresh")
    build_index(spark, spark.createDataFrame(rows, SCHEMA), src, CFG4,
                code_aware=True, waves=1)
    reindex(spark, src, dst, query="zebra quokka", operator="or")
    subset = [r for r in rows if "zebra" in r[4] or "quokka" in r[4]]
    build_index(spark, spark.createDataFrame(subset, SCHEMA), fresh, CFG4,
                code_aware=True, waves=1)
    _assert_same_index(spark, dst, fresh)
    assert read_stats_json(dst)["n_docs"] == 3


def test_reindex_refuses_existing_destination(spark, tmp_path):
    src = str(tmp_path / "esrc")
    build_index(spark, spark.createDataFrame(_rows(8), SCHEMA), src, CFG4,
                code_aware=True, waves=1)
    with pytest.raises(ValueError, match="already holds"):
        reindex(spark, src, src, n_shards=8)
    with pytest.raises(ValueError, match="tokenizes to nothing"):
        reindex(spark, src, str(tmp_path / "edst"), query="!!! ...")


# ------------------------------------------------------------ sliced scroll
def test_sliced_scroll_partitions_hit_set(spark, tmp_path):
    from dp_search_data_importer_spark.plans.query import sliced_scroll
    from dp_search_data_importer_spark.plans.update_index import match_ids

    base = _rows(40)
    d = str(tmp_path / "scroll_idx")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d, CFG4,
                code_aware=True, waves=1)
    out = sliced_scroll(spark, d, "hash join", 3).collect()
    want_ids = {r["doc_id"] for r in
                match_ids(spark, d, "hash join").collect()}
    assert want_ids  # non-trivial hit set
    # disjoint + exhaustive: every hit in exactly one slice, correct slice
    got = {(r["doc_id"], r["slice_id"]) for r in out}
    assert {d_ for d_, _ in got} == want_ids and len(got) == len(want_ids)
    assert all(s == d_ % 3 for d_, s in got)
    # resolved metadata present
    assert {"repo", "path", "commit", "lang"} <= set(out[0].asDict())
    # unresolved form skips the docs join
    bare = sliced_scroll(spark, d, "hash join", 3, resolve=False)
    assert set(bare.columns) == {"doc_id", "slice_id"}
    with pytest.raises(ValueError, match="n_slices"):
        sliced_scroll(spark, d, "hash", 0)
    with pytest.raises(ValueError, match="tokenizes to nothing"):
        sliced_scroll(spark, d, "...", 3)


# ---------------------------------------------------------------- _explain
def test_explain_score_sums_to_topk_score(spark, tmp_path):
    from dp_search_data_importer_spark.plans.query import explain_score

    base = _rows(20)
    d = str(tmp_path / "explain_idx")
    build_index(spark, spark.createDataFrame(base, SCHEMA), d, CFG4,
                code_aware=True, waves=1)
    queries = spark.createDataFrame([(1, "hash join merge zzznope")],
                                    "query_id long, query_text string")
    top = q.exact_topk(spark, d, queries, CFG4, k=1).collect()[0]
    rows = explain_score(spark, d, "hash join merge zzznope",
                         top["doc_id"], CFG4).collect()
    assert rows and all(r["contribution"] > 0 for r in rows)
    assert {r["term"] for r in rows} <= {"hash", "join", "merge"}  # absent drops
    assert sum(r["contribution"] for r in rows) == pytest.approx(
        top["score"], abs=1e-3)
    # idf * tf_norm == contribution, per row
    for r in rows:
        assert r["idf"] * r["tf_norm"] == pytest.approx(
            r["contribution"], abs=1e-4)
