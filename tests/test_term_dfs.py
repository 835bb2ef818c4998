"""The driver-side df lookup of the stored read path (``query.term_dfs``)
and the term-ordered ``term_df`` layout it reads."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.plans import build_index as bi
from dp_search_data_importer_spark.plans import query as q
from dp_search_data_importer_spark.plans import update_index as ui
from dp_search_data_importer_spark.sources.repo_files import (
    synthetic_repo_files,
)

CFG = EngineConfig(n_shards=4)
SCHEMA = "repo string, path string, commit string, lang string, content string"


def _row_group_ranges(d: str) -> list[tuple[str, str]]:
    """(first, last) term of every term_df row group, in file order;
    asserts each row group is term-sorted."""
    out = []
    for path in sorted(glob.glob(os.path.join(d, "term_df", "*.parquet"))):
        f = pq.ParquetFile(path)
        for rg in range(f.metadata.num_row_groups):
            terms = f.read_row_group(rg, columns=["term"])["term"].to_pylist()
            assert terms == sorted(terms), path
            if terms:
                out.append((terms[0], terms[-1]))
    return out


def _load(spark, d, terms):
    return {r["term"]: r["df"]
            for r in q.load_term_df(spark, d, terms).collect()}


@pytest.fixture
def small_row_groups(spark, monkeypatch):
    """term_df written as several files of several row groups: a build
    keeps every sampled range (no partition coalescing), a commit writes
    a file per 4 rows of the live dictionary, row groups hold 4 KiB."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    monkeypatch.setattr(bi, "TERM_DF_ROW_GROUP_BYTES", 4096)
    monkeypatch.setattr(bi, "TERM_DF_FILE_ROWS", 4)
    yield
    spark.conf.set(key, before)


def test_term_dfs_reads_one_row_group_per_term(spark, tmp_path, monkeypatch,
                                                small_row_groups):
    d = str(tmp_path / "idx")
    bi.build_index(spark, synthetic_repo_files(spark, 200, seed=1), d, CFG,
                   resume=False)
    files = glob.glob(os.path.join(d, "term_df", "*.parquet"))
    assert len(files) > 1
    assert max(pq.ParquetFile(f).metadata.num_row_groups
               for f in files) > 1
    ranges = _row_group_ranges(d)
    # disjoint, ascending term ranges across files and row groups
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges

    vocab = sorted(_load(spark, d, None))
    present = vocab[::max(1, len(vocab) // 7)][:7]
    absent = ["0000-absent", "zzzz-absent", present[0] + "-absent"]
    assert q.term_dfs(d, []) == {} == _load(spark, d, [])
    assert q.term_dfs(d, absent) == {} == _load(spark, d, absent)
    want = present + absent + present[:2]  # duplicates count once

    reads = []
    real = pq.ParquetFile.read_row_group

    def counted(self, i, *a, **kw):
        reads.append(i)
        return real(self, i, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counted)
    got = q.term_dfs(d, want)
    monkeypatch.undo()
    assert got == _load(spark, d, want) and set(got) == set(present)
    assert 0 < len(reads) <= len(set(want)), reads
    # far fewer than the dictionary's row groups
    assert len(reads) < len(ranges)

    # the per-term breakdown still sums to the ranked score
    top = q.exact_topk(spark, d, [(1, " ".join(present))], CFG,
                       k=1).collect()[0]
    rows = q.explain_score(spark, d, " ".join(present), top["doc_id"],
                           CFG).collect()
    assert {r["term"] for r in rows} <= set(present)
    assert all(r["df"] == got[r["term"]] for r in rows)
    assert sum(r["contribution"] for r in rows) == pytest.approx(
        top["score"], abs=1e-3)


def test_prefix_expansion_reads_its_range_on_the_driver(spark, tmp_path,
                                                        monkeypatch,
                                                        small_row_groups):
    """``expand_terms(mode="prefix")`` equals the dictionary statement
    (startswith, df desc, term asc, limit) across several files and row
    groups, on a range no term falls in, and where df ties straddle the
    ``max_expansions`` cut; it reads only the row groups its range meets
    and runs no Spark job."""
    import uuid

    from pyspark.sql import functions as F

    d = str(tmp_path / "idx")
    bi.build_index(spark, synthetic_repo_files(spark, 200, seed=1), d, CFG,
                   resume=False)
    ranges = _row_group_ranges(d)
    assert len(ranges) > 1

    def statement(p, n):
        return [r["term"] for r in q.load_term_df(spark, d)
                .filter(F.col("term").startswith(p))
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(n).collect()]

    vocab = sorted(_load(spark, d, None).items())
    firsts = sorted({t[:1] for t, _ in vocab})
    cases = [("", 50), ("", 7), ("zzzz-absent", 5), ("0000", 5)]
    cases += [(c, n) for c in firsts[:: max(1, len(firsts) // 4)]
              for n in (1, 3, 50)]
    ties = 0
    for p, n in cases:
        full = sorted(((-df, t) for t, df in vocab if t.startswith(p)))
        ties += 0 < n < len(full) and full[n - 1][0] == full[n][0]
        assert q.expand_terms(spark, d, p, "prefix",
                              max_expansions=n) == statement(p, n), (p, n)
    assert ties, "no case puts equal df on both sides of the cut"

    reads = []
    real = pq.ParquetFile.read_row_group

    def counted(self, i, *a, **kw):
        reads.append(i)
        return real(self, i, *a, **kw)

    sc = spark.sparkContext
    group = f"prefix-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver-side prefix expansion")
    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counted)
    try:
        assert q.expand_terms(spark, d, "zzzz-absent", "prefix") == []
        assert reads == []
        narrow = ranges[len(ranges) // 2][0]
        assert q.expand_terms(spark, d, narrow, "prefix")
        assert 0 < len(reads) < len(ranges), (reads, len(ranges))
    finally:
        monkeypatch.undo()
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def _rows(n, tag=""):
    words = ["import", "def", "merge", "hash", "join", "scan", "sort",
             "window", "agg", "stream", "token", "shard", "block"]
    return [("r1", f"src/f{i}.py", "c1", "py",
             " ".join(words[(i * 7 + j * 3) % len(words)]
                      for j in range(12 + i % 9)) + (f" {tag}" if tag else ""))
            for i in range(n)]


def test_term_dfs_follows_upserts_and_rolls_forward(spark, tmp_path,
                                                    monkeypatch,
                                                    small_row_groups):
    d = str(tmp_path / "idx")
    base = _rows(40)
    bi.build_index(spark, spark.createDataFrame(base, SCHEMA), d, CFG,
                   code_aware=True, waves=1)
    terms = ["import", "hash", "zebra", "quokka", "nope"]
    before = q.term_dfs(d, terms)
    assert before == _load(spark, d, terms) and "zebra" not in before

    # a committed upsert: the lookup reads the new version's dictionary,
    # which the upsert also writes term-ordered
    ui.upsert_docs(spark, d, spark.createDataFrame(
        [(r, p, c, lg, "zebra " + p) for (r, p, c, lg, _) in base[:6]]
        + [("r1", "src/new.py", "c1", "py", "zebra quokka")], SCHEMA))
    after = q.term_dfs(d, terms)
    assert after == _load(spark, d, terms)
    assert after["zebra"] == 7 and after["quokka"] == 1
    assert after["import"] < before["import"]
    assert len(glob.glob(os.path.join(d, "term_df", "*.parquet"))) > 1
    ranges = _row_group_ranges(d)
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges

    # a commit that died between its swaps: the lookup rolls it forward
    # before it reads, so it never serves the old dictionary
    real_swap = ui._swap_dir
    calls = {"n": 0}

    def dying_swap(live, staged, backup):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated kill between renames")
        real_swap(live, staged, backup)

    monkeypatch.setattr(ui, "_swap_dir", dying_swap)
    with pytest.raises(RuntimeError, match="simulated kill"):
        ui.upsert_docs(spark, d, spark.createDataFrame(
            [("r1", f"src/z{i}.py", "c1", "py", "quokka zebra")
             for i in range(3)], SCHEMA))
    monkeypatch.setattr(ui, "_swap_dir", real_swap)
    assert os.path.exists(os.path.join(d, ui._STAGE, ui._COMMIT))
    got = q.term_dfs(d, terms)
    assert not os.path.exists(os.path.join(d, ui._STAGE))
    assert got["zebra"] == 10 and got["quokka"] == 4
    assert got == _load(spark, d, terms)
