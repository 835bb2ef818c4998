"""ES 7.10 aggregation twins beyond ``terms``/``histogram``/``stats``.

The reference delegates its whole query/agg surface to Elasticsearch
(``/root/reference/handler/handler.go:95`` — every search request is
forwarded; ``models/elastic.go:4-28`` defines the indexed metadata fields
aggregations run over). This module implements the remaining bread-and-
butter aggregation families natively on Spark, each scoped to a query's
HIT SET (the ES execution model: aggs run over the documents a query
matched, not the whole index):

- :func:`range_agg`        — ``range`` (explicit [from, to) buckets,
  empty buckets emitted, like ES)
- :func:`percentiles_agg`  — ``percentiles`` (exact linear-interpolation
  path; ES's t-digest is an approximation OF this definition)
- :func:`cardinality_agg`  — ``cardinality`` (exact and HLL++ paths —
  HLL++ is literally the ES algorithm)
- :func:`extended_stats_agg` — ``extended_stats`` (population variance /
  std-dev, computed from exact integer sums)
- :func:`top_hits_agg`     — ``terms`` + ``top_hits`` sub-aggregation
- :func:`composite_page`   — ``composite`` agg pagination (after-cursor
  pushed as a predicate, page n never materializes pages 1..n−1)

Scale shape, shared by all: hits⨝meta keys on doc_id (one shuffle), every
bucket count / sum is a hash agg with map-side partials, and any top-N
ordering goes through :func:`~.bm25.salted_topn` so a high-cardinality
bucket key never funnels through a single task. Sums that feed equality-checked outputs use exact
integer arithmetic (BIGINT) so partial-agg order cannot change results.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dp_search_data_importer_spark.operators.bm25 import (
    ROUND_DIGITS,
    salted_topn,
)


def range_agg(hits: DataFrame, meta: DataFrame, field: str,
              ranges: list[tuple[float | None, float | None]]) -> DataFrame:
    """ES ``range`` aggregation: explicit half-open [from, to) buckets
    over a numeric field of each query's hit set. Faithful to ES:
    ``from`` is inclusive, ``to`` exclusive, either side open (None), and
    EVERY declared range appears in the response even with doc_count 0
    (unlike ``histogram``, which omits empty buckets).

    Output: (query_id, range_key, range_from, range_to, doc_count) with
    the ES key format ``"from-to"`` / ``"*-to"`` / ``"from-*"``.

    Scale shape: the ranges list is a tiny literal (broadcast); bucket
    assignment is a projection + hash agg with map-side partials; the
    empty-bucket fill is a broadcast cross join of (distinct query_id ×
    ranges) — |queries|·|ranges| rows, trivially small."""
    spark = hits.sparkSession

    def _key(lo, hi):
        ls = "*" if lo is None else f"{float(lo):g}"
        hs = "*" if hi is None else f"{float(hi):g}"
        return f"{ls}-{hs}"

    rrows = [(_key(lo, hi),
              None if lo is None else float(lo),
              None if hi is None else float(hi))
             for lo, hi in ranges]
    rdf = spark.createDataFrame(
        rrows, "range_key string, range_from double, range_to double")

    j = hits.join(meta, "doc_id")
    v = F.col(field).cast("double")
    assigned = j.join(
        F.broadcast(rdf),
        (F.col("range_from").isNull() | (v >= F.col("range_from")))
        & (F.col("range_to").isNull() | (v < F.col("range_to"))),
    )
    counts = assigned.groupBy("query_id", "range_key").agg(
        F.count(F.lit(1)).cast("long").alias("doc_count"))
    shell = hits.select("query_id").distinct().crossJoin(F.broadcast(rdf))
    return (shell.join(counts, ["query_id", "range_key"], "left")
            .select("query_id", "range_key", "range_from", "range_to",
                    F.coalesce(F.col("doc_count"), F.lit(0))
                    .cast("long").alias("doc_count")))


def percentiles_agg(hits: DataFrame, meta: DataFrame, field: str,
                    percents: list[float]) -> DataFrame:
    """ES ``percentiles`` aggregation over each query's hit set — the
    EXACT linear-interpolation definition (index p·(n−1) into the sorted
    values, interpolate between neighbors). ES's default t-digest is an
    approximation of exactly this; at 100 TB swap the expression for
    ``percentile_approx`` (Spark's t-digest-family sketch, mergeable
    map-side) — same API shape, documented accuracy trade.

    Output: one row per (query_id, percent): (query_id, percent, value).

    Scale shape: ``percentile`` is a single hash agg (per-group sorted
    collect inside the JVM agg buffer) — exact needs the group's values,
    which is why the approx sketch is the stated 100 TB path."""
    j = hits.join(meta, "doc_id")
    pcts = [float(p) for p in percents]
    agg = j.groupBy("query_id").agg(
        F.percentile(F.col(field).cast("double"),
                     F.array(*[F.lit(p / 100.0) for p in pcts]))
        .alias("vals"))
    pairs = F.arrays_zip(
        F.array(*[F.lit(p) for p in pcts]).alias("percent"),
        F.col("vals").alias("value"))
    return (agg.select("query_id", F.explode(pairs).alias("pv"))
            .select("query_id",
                    F.col("pv.percent").alias("percent"),
                    F.round(F.col("pv.value"), ROUND_DIGITS).alias("value")))


def cardinality_agg(hits: DataFrame, meta: DataFrame, fields: list[str],
                    approx: bool = False, rsd: float = 0.023) -> DataFrame:
    """ES ``cardinality`` aggregation: distinct count of metadata fields
    over each query's hit set. ``approx=False`` is the exact twin the
    oracle checks; ``approx=True`` uses Spark's HyperLogLog++
    (``approx_count_distinct``) — the SAME algorithm ES runs (its
    ``precision_threshold`` maps to the rsd knob), mergeable map-side,
    constant memory, the 100 TB default.

    Output: (query_id, field, value) — one row per (query, field).

    Scale shape: exact distinct is one extra shuffle per field on
    (query, value) pairs; HLL++ is a plain hash agg with sketch
    partials — no second shuffle."""
    j = hits.join(meta, "doc_id")
    fn = (lambda c: F.approx_count_distinct(c, rsd)) if approx \
        else F.count_distinct
    per_field = [
        j.groupBy("query_id").agg(fn(F.col(f)).cast("long").alias("value"))
        .withColumn("field", F.lit(f))
        for f in fields
    ]
    out = per_field[0]
    for o in per_field[1:]:
        out = out.unionByName(o)
    return out.select("query_id", "field", "value")


def extended_stats_agg(hits: DataFrame, meta: DataFrame,
                       field: str) -> DataFrame:
    """ES ``extended_stats`` aggregation over each query's hit set:
    count, min, max, sum, avg, sum_of_squares, variance (population, as
    ES defines it), std_deviation. All moments accumulate as exact
    BIGINT sums of an integer field, so partial-agg order cannot change
    the answer; the derived float moments are computed once from the
    exact sums and rounded.

    Scale shape: one hash agg with map-side partials — identical cost to
    a plain ``stats`` agg."""
    j = hits.join(meta, "doc_id")
    v = F.col(field).cast("long")
    agg = j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("doc_count"),
        F.min(v).cast("long").alias("min_v"),
        F.max(v).cast("long").alias("max_v"),
        F.sum(v).cast("long").alias("sum_v"),
        F.sum(v * v).cast("long").alias("sum_sq"),
    )
    n = F.col("doc_count").cast("double")
    mean = F.col("sum_v") / n
    var = F.col("sum_sq") / n - mean * mean
    return agg.select(
        "query_id", "doc_count", "min_v", "max_v", "sum_v", "sum_sq",
        F.round(mean, ROUND_DIGITS).alias("avg_v"),
        F.round(var, ROUND_DIGITS).alias("variance"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))),
                ROUND_DIGITS).alias("std_deviation"),
    )


def top_hits_agg(hits: DataFrame, meta: DataFrame, bucket_field: str,
                 sort_field: str, hits_per_bucket: int = 2,
                 ascending: bool = False) -> DataFrame:
    """ES ``terms`` aggregation with a ``top_hits`` sub-aggregation: for
    each (query, bucket value) group, the top documents by a sort field
    (doc_id asc tie-break — total order). The ES shape behind "show the
    best result per category" UIs; also the general form of
    ``field_collapse``.

    Output: (query_id, bucket, doc_id, <sort_field>, hit_rank).

    Scale shape: per-(query, bucket) top-N via
    :func:`~.bm25.salted_topn` — a skewed bucket (one value holding most
    docs) never ranks through a single task."""
    j = hits.join(meta, "doc_id")
    v = F.col(sort_field)
    order = (v.asc(), F.col("doc_id").asc()) if ascending else \
        (v.desc(), F.col("doc_id").asc())
    bucketed = j.withColumn("bucket",
                            F.col(bucket_field).cast("string"))
    return (salted_topn(bucketed, ["query_id", "bucket"], order,
                        hits_per_bucket, salt_col=F.col("doc_id"),
                        rank_col="hit_rank")
            .select("query_id", "bucket", "doc_id", sort_field,
                    F.col("hit_rank").cast("int")))


def composite_page(hits: DataFrame, meta: DataFrame, keys: list[str],
                   size: int,
                   after: dict[int, tuple] | None = None) -> DataFrame:
    """ES ``composite`` aggregation: paginate ALL (key-tuple) buckets of
    a query's hit set in key order, ``size`` buckets per page, resuming
    from the ``after_key`` the previous page returned — THE ES-sanctioned
    way to stream an unbounded aggregation out of the engine (terms aggs
    cap at ``search.max_buckets``; composite never does).

    ``after`` maps query_id → the last key tuple of the previous page.
    Like ``search_after`` in :func:`~.bm25.topk`, the cursor is applied
    as a pushed strict-greater predicate on the key tuple BEFORE bucket
    ranking, so page n aggregates only buckets past the cursor — it
    never materializes pages 1..n−1.

    Output: (query_id, <keys...>, doc_count), ≤ size buckets per query,
    ordered by the key tuple ascending.

    Scale shape: one hash agg over (query, keys) with map-side partials,
    then :func:`~.bm25.salted_topn` on the key order. The cursor
    predicate prunes before the agg — deep pages get CHEAPER."""
    j = hits.join(meta, "doc_id")
    if after:
        spark = hits.sparkSession
        cur_rows = [tuple([int(qid)] + list(vals))
                    for qid, vals in after.items()]
        fields = ", ".join(
            f"c_{k} {j.schema[k].dataType.simpleString()}" for k in keys)
        cur = spark.createDataFrame(cur_rows, f"query_id long, {fields}")
        # strict lexicographic 'tuple > cursor' as an OR-of-ANDs predicate
        gt = F.lit(False)
        for i in range(len(keys) - 1, -1, -1):
            head_eq = F.lit(True)
            for k in keys[:i]:
                head_eq = head_eq & (F.col(k) == F.col(f"c_{k}"))
            gt = gt | (head_eq & (F.col(keys[i]) > F.col(f"c_{keys[i]}")))
        j = (j.join(F.broadcast(cur), "query_id", "left")
             .filter(F.col(f"c_{keys[0]}").isNull() | gt)
             .drop(*[f"c_{k}" for k in keys]))
    buckets = j.groupBy("query_id", *keys).agg(
        F.count(F.lit(1)).cast("long").alias("doc_count"))
    order = [F.col(k).asc() for k in keys]
    return salted_topn(buckets, ["query_id"], order, size,
                       salt_col=F.concat_ws("\x1f", *keys))


def composite_after_key(rows, keys: list[str]) -> dict[int, tuple]:
    """Build the next-page ``after`` cursor from a collected page: per
    query, the LAST bucket in key order (the ES ``after_key``)."""
    best: dict[int, tuple] = {}
    for r in rows:
        qid = int(r["query_id"])
        t = tuple(r[k] for k in keys)
        if qid not in best or t > best[qid]:
            best[qid] = t
    return best
