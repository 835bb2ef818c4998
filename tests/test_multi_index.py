"""Multi-index (alias) search: query_then_fetch vs dfs_query_then_fetch.

The load-bearing property: ``dfs_query_then_fetch`` across N stored
indexes is RANK- AND SCORE-identical to a single index holding the whole
corpus (global statistics reconstruct exactly); ``query_then_fetch``
scores with per-index statistics and provably diverges when term rarity
differs across members."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.operators import postings as P
from dp_search_data_importer_spark.operators.federate import (
    federated_scores,
    federated_topk,
    merge_index_stats,
)
from dp_search_data_importer_spark.plans import query as q
from dp_search_data_importer_spark.plans.build_index import build_index
from dp_search_data_importer_spark.plans.multi_index import search_indices

CFG = EngineConfig(n_shards=2)
SCHEMA = "repo string, path string, commit string, lang string, content string"

WORDS = ["import", "def", "merge", "hash", "join", "scan", "sort", "window",
         "agg", "stream", "token", "shard", "block", "query", "batch"]


def _rows(n, repo):
    rows = []
    for i in range(n):
        words = [WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(12 + i % 9)]
        rows.append((repo, f"src/f{i}.py", "c1", "py", " ".join(words)))
    return rows


def _queries(spark):
    return spark.createDataFrame(
        [(1, "hash join merge"), (2, "window agg sort"), (3, "zebra")],
        "query_id long, query_text string")


@pytest.fixture(scope="module")
def alias_dirs(spark, tmp_path_factory):
    """Two stored indexes (split corpus) + one merged single index."""
    a = _rows(30, "ra")
    # 'zebra' is rare in index b, absent in a → df differs across members
    b = _rows(24, "rb") + [("rb", "src/z.py", "c1", "py",
                            "zebra zebra import merge")]
    root = tmp_path_factory.mktemp("alias")
    d_a, d_b, d_all = (str(root / n) for n in ("idx_a", "idx_b", "idx_all"))
    for d, rows in ((d_a, a), (d_b, b), (d_all, a + b)):
        build_index(spark, spark.createDataFrame(rows, SCHEMA), d, CFG,
                    code_aware=True, waves=1)
    return d_a, d_b, d_all


def test_dfs_mode_equals_single_merged_index(spark, alias_dirs):
    d_a, d_b, d_all = alias_dirs
    # k over-covers every hit so tie groups at the k-boundary (which the
    # two paths may cut differently: the federated tie-break includes
    # index_name) can't truncate the comparison — the property under test
    # is per-document score identity, not tie order
    fed = search_indices(spark, [d_a, d_b], _queries(spark), CFG, k=100,
                         mode="dfs_query_then_fetch")
    single = q.exact_topk(spark, d_all, _queries(spark), CFG, k=100)
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in fed.collect()}
    want = {(r["query_id"], r["doc_id"]): r["score"]
            for r in single.collect()}
    assert got == want and got


def test_qtf_uses_per_index_statistics(spark, alias_dirs):
    """'zebra' has df=1 within idx_b but df=1 over 55 docs globally; its
    home-index idf (N=25) must be SMALLER than the global idf (N=55), so
    the qtf score for the zebra doc is strictly below the dfs score."""
    d_a, d_b, _ = alias_dirs
    def score(mode):
        out = search_indices(spark, [d_a, d_b], _queries(spark), CFG, k=10,
                             mode=mode).filter(F.col("query_id") == 3)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["index_name"] == "idx_b"
        return rows[0]["score"]
    assert score("query_then_fetch") < score("dfs_query_then_fetch")


def test_qtf_matches_bruteforce(spark, alias_dirs):
    """query_then_fetch ≡ running exact_topk per index with its own stats
    and merging by (rounded score, index, doc_id)."""
    d_a, d_b, _ = alias_dirs
    fed = search_indices(spark, [d_a, d_b], _queries(spark), CFG, k=10,
                         mode="query_then_fetch").collect()
    per = []
    for name, d in (("idx_a", d_a), ("idx_b", d_b)):
        for r in q.exact_topk(spark, d, _queries(spark), CFG, k=10).collect():
            per.append((r["query_id"], name, r["doc_id"], r["score"]))
    want = {}
    for qid in (1, 2, 3):
        rows = sorted([p for p in per if p[0] == qid],
                      key=lambda p: (-p[3], p[1], p[2]))[:10]
        want[qid] = rows
    got = {}
    for r in sorted(fed, key=lambda r: (r["query_id"], -r["score"],
                                        r["index_name"], r["doc_id"])):
        got.setdefault(r["query_id"], []).append(
            (r["query_id"], r["index_name"], r["doc_id"], r["score"]))
    assert got == want


def test_alias_error_paths(spark, alias_dirs, tmp_path):
    d_a, d_b, d_all = alias_dirs
    with pytest.raises(ValueError, match="unique"):
        search_indices(spark, [d_a, d_a], _queries(spark), CFG)
    with pytest.raises(ValueError, match="at least one"):
        search_indices(spark, [], _queries(spark), CFG)
    # analyzer asymmetry refused: build one member with the plain analyzer
    d_plain = str(tmp_path / "idx_plain")
    build_index(spark, spark.createDataFrame(_rows(8, "rp"), SCHEMA),
                d_plain, CFG, code_aware=False, waves=1)
    with pytest.raises(ValueError, match="analyzer"):
        search_indices(spark, [d_a, d_plain], _queries(spark), CFG)


def test_merge_index_stats_exact(spark):
    """Merged stats reconstruct the union's exactly: N sums, avgdl is the
    token-weighted mean, df sums per term."""
    from dp_search_data_importer_spark.session import local_df
    stats = local_df(spark, [("a", 10, 4.0), ("b", 30, 8.0)],
                     "index_name string, n_docs long, avgdl double")
    dfs = local_df(spark, [("a", "x", 3), ("b", "x", 5), ("b", "y", 1)],
                   "index_name string, term string, df long")
    g_dfs, g_stats = merge_index_stats(dfs, stats)
    s = g_stats.collect()[0]
    assert s["n_docs"] == 40
    assert s["avgdl"] == pytest.approx((10 * 4.0 + 30 * 8.0) / 40)
    assert {(r["term"], r["df"]) for r in g_dfs.collect()} == {
        ("x", 8), ("y", 1)}


def test_federated_dataflow_qtf_bruteforce(spark):
    """Dataflow-form federated scoring (no stored index) vs a pure-Python
    BM25 replay with per-index statistics."""
    docs = [(i, f"idx{i % 2}",
             " ".join(WORDS[(i + j) % 5] for j in range(4 + i % 3)))
            for i in range(1, 13)]
    ddf = spark.createDataFrame(docs, "doc_id long, index_name string, text string")
    tf = P.term_freqs_sql(ddf).join(ddf.select("doc_id", "index_name"),
                                    "doc_id")
    dfs = tf.groupBy("index_name", "term").agg(
        F.count(F.lit(1)).alias("df"))
    stats = (ddf.select("index_name", "doc_id",
                        F.size(F.split(F.col("text"), " ")).alias("dl"))
             .groupBy("index_name")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.avg("dl").alias("avgdl")))
    queries = spark.createDataFrame([(1, WORDS[0] + " " + WORDS[2])],
                                    "query_id long, query_text string")
    from dp_search_data_importer_spark.operators.bm25 import query_terms
    qt = query_terms(queries)
    out = federated_topk(
        federated_scores(tf, qt, dfs, stats, EngineConfig(),
                         mode="query_then_fetch"), k=20).collect()

    # brute force
    toks = {d: t.split() for d, _, t in docs}
    idx_of = {d: ix for d, ix, _ in docs}
    by_idx: dict = {}
    for d, ix, _ in docs:
        by_idx.setdefault(ix, []).append(d)
    qterms = [WORDS[0], WORDS[2]]
    want = {}
    for d, ix, _ in docs:
        n = len(by_idx[ix])
        avgdl = sum(len(toks[x]) for x in by_idx[ix]) / n
        s = 0.0
        for t in qterms:
            tf_d = toks[d].count(t)
            if not tf_d:
                continue
            df_t = sum(1 for x in by_idx[ix] if t in toks[x])
            idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
            s += idf * tf_d * 2.2 / (tf_d + 1.2 * (0.25 + 0.75 * len(toks[d]) / avgdl))
        if s > 0:
            want[(ix, d)] = round(s, 4)
    got = {(r["index_name"], r["doc_id"]): r["score"] for r in out}
    assert got == pytest.approx(want)


def test_federated_plan_broadcasts_stats(spark):
    """Plan regression: in BOTH modes the stats/df joins are broadcast
    (frames are #indexes- or #indexes×|terms|-sized) and the candidate
    union never sort-merges — the index axis must not add a shuffle."""
    from dp_search_data_importer_spark.operators.bm25 import query_terms
    from dp_search_data_importer_spark.session import local_df

    def _explain(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    tf = local_df(
        spark, [("a", 1, "hash", 2, 5), ("b", 2, "hash", 1, 4)],
        "index_name string, doc_id long, term string, tf long, dl long")
    dfs = local_df(spark, [("a", "hash", 1), ("b", "hash", 1)],
                   "index_name string, term string, df long")
    stats = local_df(spark, [("a", 1, 5.0), ("b", 1, 4.0)],
                     "index_name string, n_docs long, avgdl double")
    qt = query_terms(local_df(spark, [(1, "hash")],
                              "query_id long, query_text string"))
    for mode in ("query_then_fetch", "dfs_query_then_fetch"):
        plan = _explain(federated_scores(tf, qt, dfs, stats,
                                         EngineConfig(), mode=mode))
        assert "BroadcastHashJoin" in plan, mode
        assert "SortMergeJoin" not in plan, mode


def test_indices_boost_reranks_and_refuses_unknown(spark, alias_dirs):
    """indices_boost multiplies each hit's score by its home index's
    factor before the coordinating top-k; unlisted members keep 1.0;
    unknown names are refused."""
    from dp_search_data_importer_spark.plans.multi_index import (
        search_indices,
    )

    d_a, d_b, _ = alias_dirs
    queries = spark.createDataFrame([(1, "import merge")],
                                    "query_id long, query_text string")
    base = search_indices(spark, [d_a, d_b], queries, CFG, k=50)
    boosted = search_indices(spark, [d_a, d_b], queries, CFG, k=50,
                             indices_boost={"idx_b": 3.0})
    # base scores are already rounded to 4dp by the topk, so multiply-
    # then-round can differ by one ulp at the 4th decimal — compare
    # keys exactly, scores to that tolerance
    want = sorted(
        ((round(r["score"] * (3.0 if r["index_name"] == "idx_b"
                              else 1.0), 4)), r["index_name"], r["doc_id"])
        for r in base.collect())
    got = sorted((r["score"], r["index_name"], r["doc_id"])
                 for r in boosted.collect())
    assert [(g[1], g[2]) for g in got] == [(w[1], w[2]) for w in want]
    for g, w in zip(got, want):
        assert g[0] == pytest.approx(w[0], abs=2e-4)
    # boosting must be able to flip the winner across members
    top_base = max(base.collect(), key=lambda r: (r["score"],))
    top_boost = max(boosted.collect(), key=lambda r: (r["score"],))
    assert top_boost["index_name"] == "idx_b" \
        or top_base["index_name"] == "idx_b"

    with pytest.raises(ValueError, match="indices_boost"):
        search_indices(spark, [d_a, d_b], queries, CFG,
                       indices_boost={"nope": 2.0})
