"""Federated (multi-index) BM25 — the ES index-per-partition pattern.

The reference ships documents into ONE Elasticsearch index, but every
production ES deployment of this shape splits the corpus into many
indexes (index-per-day / index-per-source) behind an alias, and a search
against the alias fans out to all of them (`handler/handler.go:95`
forwards the search body to whatever the alias resolves to). Two ES
search types govern the statistics used for scoring:

- ``query_then_fetch`` (the ES default): each index scores its hits with
  its OWN term/corpus statistics (df, N, avgdl), and the coordinating
  node merges the per-index top-k by score. Cheap — no extra round trip —
  but scores are only locally calibrated; the same doc text can score
  differently in two indexes.
- ``dfs_query_then_fetch``: a first phase gathers GLOBAL statistics
  (df summed across indexes, N and avgdl over the union), so scores are
  exactly what a single merged index would produce.

Spark shape: one union of the per-index candidate frames, statistics
joined per-index (qtf) or pre-merged (dfs) — in both modes the scoring
is ONE broadcast join + ONE hash aggregation over the union, identical
to the single-index plan; the index axis adds a grouping column, never a
shuffle. The per-index stats/df frames are tiny (rows = #indexes, or
#indexes × |query terms|) and always broadcast.

Public-knowledge basis: ES 7.10 search-type docs (query_then_fetch /
dfs_query_then_fetch) and Lucene BM25Similarity; no reference code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.operators.bm25 import (
    ROUND_DIGITS,
    bm25_term_score,
)

INDEX_COL = "index_name"


def merge_index_stats(dfs: DataFrame, stats: DataFrame
                      ) -> tuple[DataFrame, DataFrame]:
    """The dfs_query_then_fetch statistics phase: per-index frames →
    global frames, exactly what a single merged index would hold.

    ``dfs``: (index_name, term, df) → (term, df) with df summed;
    ``stats``: (index_name, n_docs, avgdl) → 1-row (n_docs, avgdl) with
    N summed and avgdl token-weighted (Σ sum_dl / Σ N — each index's
    sum_dl is exactly n_docs·avgdl, so no token recount is needed).
    Both inputs and outputs are broadcast-sized (rows ≤ #indexes·|terms|).
    """
    g_dfs = dfs.groupBy("term").agg(F.sum("df").alias("df"))
    g_stats = stats.agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum(F.col("n_docs") * F.col("avgdl"))
         / F.sum("n_docs")).alias("avgdl"))
    return g_dfs, g_stats


def federated_scores(tf: DataFrame, qterms: DataFrame, dfs: DataFrame,
                     stats: DataFrame, cfg: EngineConfig | None = None,
                     mode: str = "query_then_fetch") -> DataFrame:
    """(query_id, index_name, doc_id, score) over a multi-index corpus.

    ``tf``: (index_name, doc_id, term, tf, dl) — the union of per-index
    candidate postings; ``qterms``: (query_id, term); ``dfs``:
    (index_name, term, df) PER INDEX; ``stats``: (index_name, n_docs,
    avgdl) PER INDEX. ``mode`` picks which statistics score a posting:
    its home index's (``query_then_fetch``) or the merged corpus's
    (``dfs_query_then_fetch``).

    Doc ids are only unique per index (as in ES), so the output key is
    (index_name, doc_id); the scoring aggregation groups on both.
    """
    cfg = cfg or EngineConfig()
    if mode == "dfs_query_then_fetch":
        g_dfs, g_stats = merge_index_stats(dfs, stats)
        qdf = qterms.join(g_dfs, "term")
        cand = (tf.join(F.broadcast(qdf), "term")
                .join(F.broadcast(g_stats)))
    elif mode == "query_then_fetch":
        qdf = qterms.join(dfs, "term")  # (index, term, df, query_id)
        cand = (tf.join(F.broadcast(qdf), ["term", INDEX_COL])
                .join(F.broadcast(stats), INDEX_COL))
    else:
        raise ValueError(f"unknown search mode: {mode!r}")
    return (cand.withColumn(
        "term_score",
        bm25_term_score("tf", "dl", "df", "n_docs", "avgdl", cfg))
        .groupBy("query_id", INDEX_COL, "doc_id")
        .agg(F.sum("term_score").alias("score")))


def federated_topk(scores: DataFrame, k: int) -> DataFrame:
    """Global per-query top-k across indexes — the coordinating-node
    merge. Deterministic total order (round(score) desc, index_name asc,
    doc_id asc): the index tie-break mirrors ES's stable shard order and
    keeps ranking total when doc ids collide across indexes. Scores are
    rounded before ranking (same discipline as the single-index ``topk``)
    so engine/oracle float-sum order can't flip ranks."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(INDEX_COL).asc(),
        F.col("doc_id").asc())
    return (scores
            .withColumn("score", F.round(F.col("score"), ROUND_DIGITS))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def apply_indices_boost(scores: DataFrame,
                        boosts: dict[str, float]) -> DataFrame:
    """ES body-level ``indices_boost``: multiply each hit's score by its
    home index's boost; unlisted indexes keep 1.0 (public ES semantics —
    the knob that weights fresh daily indexes over stale ones under one
    alias). The boost table is request-sized, so it compiles to a
    literal CASE chain — a pure projection, adding nothing to the
    shuffle or the rank. Apply BEFORE :func:`federated_topk` so the
    rounded ranking order sees boosted scores."""
    if not boosts:
        return scores
    expr = F.lit(1.0)
    for name, mult in sorted(boosts.items()):
        expr = F.when(F.col(INDEX_COL) == F.lit(str(name)),
                      F.lit(float(mult))).otherwise(expr)
    return scores.withColumn("score", F.col("score") * expr)
