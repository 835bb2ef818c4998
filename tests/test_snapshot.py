"""Snapshot/restore: checksum-verified copies, corruption detection,
restored index answers queries identically."""

from __future__ import annotations

import os

import pytest

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.plans import query as q
from dp_search_data_importer_spark.plans.build_index import build_index
from dp_search_data_importer_spark.plans.snapshot import (
    restore,
    snapshot,
    verify_snapshot,
)

CFG = EngineConfig(n_shards=2)
SCHEMA = "repo string, path string, commit string, lang string, content string"

WORDS = ["import", "def", "merge", "hash", "join", "scan", "sort", "window"]


def _rows(n):
    return [("r1", f"src/f{i}.py", "c1", "py",
             " ".join(WORDS[(i + j) % len(WORDS)] for j in range(10)))
            for i in range(n)]


@pytest.fixture(scope="module")
def snapped(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("snap")
    idx = str(root / "idx")
    snaps = str(root / "snapshots")
    build_index(spark, spark.createDataFrame(_rows(16), SCHEMA), idx, CFG,
                code_aware=True, waves=1)
    manifest = snapshot(idx, snaps, "s1")
    return idx, snaps, manifest


def test_snapshot_manifest_and_verify(snapped):
    idx, snaps, manifest = snapped
    assert manifest["n_files"] == len(manifest["files"]) > 0
    assert "stats.json" in manifest["files"]
    assert any(r.startswith("postings") for r in manifest["files"])
    v = verify_snapshot(snaps, "s1")
    assert v == {"ok": True, "n_files": manifest["n_files"],
                 "corrupt": [], "missing": []}
    with pytest.raises(ValueError, match="already exists"):
        snapshot(idx, snaps, "s1")


def test_restore_round_trips_queries(spark, snapped, tmp_path):
    idx, snaps, _ = snapped
    dst = str(tmp_path / "restored")
    out = restore(snaps, "s1", dst)
    assert out["restored"] > 0
    queries = spark.createDataFrame([(1, "hash join")],
                                    "query_id long, query_text string")
    got = {(r["doc_id"], r["score"])
           for r in q.exact_topk(spark, dst, queries, CFG, k=10).collect()}
    want = {(r["doc_id"], r["score"])
            for r in q.exact_topk(spark, idx, queries, CFG, k=10).collect()}
    assert got == want and got
    with pytest.raises(ValueError, match="already holds"):
        restore(snaps, "s1", dst)


def test_corruption_detected(snapped, tmp_path):
    _, snaps, manifest = snapped
    victim = next(r for r in sorted(manifest["files"])
                  if r.endswith(".parquet"))
    p = os.path.join(snaps, "s1", victim)
    orig = open(p, "rb").read()
    try:
        with open(p, "r+b") as f:
            f.seek(0)
            f.write(b"\xff" * 4)
        v = verify_snapshot(snaps, "s1")
        assert not v["ok"] and victim in v["corrupt"]
        with pytest.raises(ValueError, match="checksum mismatch"):
            restore(snaps, "s1", str(tmp_path / "bad"))
        assert not os.path.exists(str(tmp_path / "bad"))  # partial removed
    finally:
        with open(p, "wb") as f:
            f.write(orig)
    assert verify_snapshot(snaps, "s1")["ok"]
    with pytest.raises(ValueError, match="no completed snapshot"):
        verify_snapshot(snaps, "nope")
