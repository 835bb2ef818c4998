"""The driver's one plan cache (``session.cached_plan``): what it admits,
what it refuses, and its bound."""

from __future__ import annotations

from dp_search_data_importer_spark.plans.driver_queries import QUERIES
from dp_search_data_importer_spark.session import (
    _PLAN_CACHE,
    _PLAN_CACHE_SIZE,
    cached_plan,
)

# the driver queries that were audited by hand, before admission became
# mechanical, as constructing with no Spark job
AUDITED = ("doc_term_freqs", "term_df", "bm25_topk", "ingest_normalize",
           "pricing_summary", "revenue_by_nation", "top_orders_per_cust",
           "events_hourly", "phrase_search", "language_id", "bool_search",
           "span_near_search", "percolate_matches", "multi_index_dfs")


def test_collecting_construction_is_refused(spark, sf_dir):
    # page 2 collects page 1's cursor while it is built
    page2 = QUERIES["bm25_topk_page2"]
    assert page2(spark, sf_dir) is not page2(spark, sf_dir)
    top = QUERIES["bm25_topk"]
    assert top(spark, sf_dir) is top(spark, sf_dir)


def test_audited_queries_are_admitted(spark, sf_dir):
    refused = [name for name in AUDITED
               if QUERIES[name](spark, sf_dir)
               is not QUERIES[name](spark, sf_dir)]
    assert refused == []


def test_persisted_relation_is_refused(spark):
    cached = spark.range(7).persist()
    try:
        plan = cached_plan(spark, ("persisted-test",),
                           lambda: cached.selectExpr("id * 2 AS x"))
        assert cached_plan(spark, ("persisted-test",),
                           lambda: cached.selectExpr("id * 2 AS x")) \
            is not plan
    finally:
        cached.unpersist()


def test_plan_cache_is_a_bounded_lru(spark):
    def plan(i):
        return cached_plan(spark, ("lru-test", i), lambda: spark.range(i))

    hot, cold = plan(0), plan(1)
    for i in range(2, _PLAN_CACHE_SIZE + 20):
        plan(i)
        assert plan(0) is hot  # each hit makes it the most recent entry
        assert len(_PLAN_CACHE) <= _PLAN_CACHE_SIZE
    assert plan(0) is hot
    assert plan(1) is not cold  # the least recently used went first


def test_load_table_reads_the_inferred_schema(spark, tmp_path):
    """load_table takes its schema from the footer on the driver; for a
    Spark-written table (INT96 timestamps, decimals) it is the schema Spark
    infers itself."""
    from dp_search_data_importer_spark.sources.tables import load_table

    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr(
        "id", "timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,id) AS ts",
        "CAST(id AS DECIMAL(10, 2)) AS d").write.parquet(path)
    got = load_table(spark, str(tmp_path), "t")
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2]
