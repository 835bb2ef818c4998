"""Inverted-index statistics + uncompressed postings (SURVEY.md §2 B2).

The reference delegates index construction entirely to Elasticsearch (the
single data-plane call is the bulk upsert at
``/root/reference/handler/handler.go:95``); this module is the Spark-native
replacement.

Dataflow (designed for 10^12 docs):

  docs --mapInPandas (Arrow)--> (doc_id, term, tf, dl)      # map-side tf: the
                                                            # shuffle carries
                                                            # pre-aggregated
                                                            # pairs, not tokens
       --groupBy(term) [partial count]--> df per term       # skew-safe:
                                                            # each map task
                                                            # sends a hot
                                                            # term one row
       --repartition(shard) + sortWithinPartitions          # shard =
         (shard, term, doc_id)--> sorted runs               # hash(doc_id):
                                                            # a hot term
                                                            # stripes evenly
                                                            # across shards,
                                                            # so block tasks
                                                            # are uniform by
                                                            # construction
                                                            # (build_index.py)

Doc lengths ride inside the (term, tf, dl) tuples so BM25 scoring never joins
back to the docs table (no second wide shuffle at query time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.functions.tokenize import (
    code_term_freqs,
    simple_term_freqs,
)


def term_freqs(docs: DataFrame, *, code_aware: bool, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf, dl) — tf/dl computed map-side in Arrow batches."""
    fn = code_term_freqs if code_aware else simple_term_freqs
    return fn(docs, id_col=id_col, text_col=text_col)


def term_freqs_sql(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text",
                   code_aware: bool = False,
                   terms: list[str] | None = None) -> DataFrame:
    """Pure-Catalyst twin of :func:`term_freqs`: explode + two aggs, fully
    whole-stage-codegen'd. Used as the oracle-parity path — DuckDB can
    express it 1:1 — and property-tested equal to the Arrow path. With
    ``code_aware=True`` the camelCase/snake_case-splitting analyzer runs as
    regexp_replace + split, still JVM-side (see tokenize_code_expr).

    ``terms`` restricts the OUTPUT to that term set, with the filter pushed
    BELOW the tf aggregation: a query that joins tf against a known literal
    term set otherwise aggregates the whole vocabulary and throws away all
    but the query terms' rows — the filter makes the agg/shuffle
    O(query-term postings), not O(corpus tokens) (guide §2.3). tf/dl values
    are unchanged (tf groups per (doc, term); dl is computed from the full
    token array before the filter). Only valid when every downstream
    consumer restricts to ⊆ ``terms``.
    """
    from dp_search_data_importer_spark.functions.tokenize import (
        tokenize_code_expr,
        tokenize_expr,
    )

    tok = tokenize_code_expr if code_aware else tokenize_expr
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tok(text_col).alias("toks")
    )
    exploded = toks.select(
        "doc_id", F.size("toks").cast("long").alias("dl"),
        F.explode("toks").alias("term")
    )
    if terms is not None:
        exploded = exploded.filter(
            F.col("term").isin([str(t) for t in terms]))
    return (
        exploded.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("doc_id", "term", "tf", "dl")
    )


def corpus_stats(tf: DataFrame) -> DataFrame:
    """Single-row (n_docs, avgdl) from the tf table. NOTE: excludes docs that
    tokenize to zero terms (they have no tf rows); use
    :func:`corpus_stats_from_docs` for Lucene-consistent docCount semantics."""
    per_doc = tf.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def corpus_stats_from_docs(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           code_aware: bool = False) -> DataFrame:
    """Single-row (n_docs, avgdl) computed from the documents table itself:
    docs with zero tokens count toward N with dl=0, matching Lucene's
    ``BM25Similarity`` docCount/avgdl (an ES-built index includes empty docs
    in its stats). Pure Catalyst — one projection + one agg."""
    from dp_search_data_importer_spark.functions.tokenize import (
        token_count_expr,
    )

    # counting twin of the analyzer: same value as size(tokenize(…))
    # without materializing the token array (property-tested)
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count_expr(text_col, code_aware=code_aware)
        .cast("long").alias("dl"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def doc_freqs(tf: DataFrame) -> DataFrame:
    """(term, df): one hash aggregation. Its map-side partial count sends
    at most one row per map task to a term's reducer, so a heavy-hitter
    term ('import' appears in ~every doc at 10^12 scale) costs its reducer
    O(map tasks), not O(docs)."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def hot_terms(df_table: DataFrame, n_docs: int, cfg: EngineConfig | None = None) -> list[str]:
    """Measured heavy hitters (df > fraction·N) ∪ static seed list.

    Driven by *measured* df, not just the static stoplist (SURVEY.md §7
    hard part b). The result is tiny (≤ hundreds) — safe to collect; it is
    recorded as ``stats.json["hot_terms"]``.
    """
    cfg = cfg or EngineConfig()
    threshold = max(1, int(n_docs * cfg.hot_term_df_fraction))
    measured = [
        r["term"]
        for r in df_table.filter(F.col("df") > threshold).select("term").collect()
    ]
    return sorted(set(measured) | set(cfg.static_hot_terms))


