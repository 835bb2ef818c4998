"""Phrase queries (ES ``match_phrase`` twin) and highlights over positions.

The reference's Elasticsearch index stores term positions and answers
phrase queries by verifying adjacency; this module is the Spark-native
equivalent. Positions live in two layouts (``load_positions`` routes):

  - IN the postings rows (``build_index(positions=True)``, the primary):
    each row carries its ``positions`` array, read by the same
    term-pruned scan BM25 uses;
  - a ``positions/`` sidecar table (round 2, kept as the oracle twin):
    (shard, term, doc_id, positions array<int>, dl), parquet partitioned
    by shard, term filter pushed into the scan.

Phrase evaluation is pure Catalyst set algebra — no Python on the data
path: for tokens t1..tn, S1 = positions(t1) and
S_{i+1} = array_intersect(transform(S_i, p → p+1), positions(t_{i+1}));
a doc matches iff S_n is non-empty, and |S_n| is the phrase term frequency.
Scoring is standard BM25 with tf = phrase_tf and df = phrase document
frequency (computed on the matched set), N/avgdl from the index stats —
the same formula Lucene applies to phrase frequencies.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.functions.tokenize import (
    tokenize_code_expr,
    tokenize_expr,
)


# projected pruned-positions crossover: the projected path's per-term
# work scales with |vocab| × tokens, while the posexplode path is
# vocab-independent, so a vocabulary above this size takes posexplode
_PRUNED_POS_PROJECTED_MAX = 48

_POS_TOKEN_SHAPE = re.compile(r"[a-z0-9]+\Z")


def _doc_positions_projected(docs: DataFrame, vocab: list[str], *,
                             id_col: str, text_col: str,
                             code_aware: bool) -> DataFrame | None:
    """Pruned-positions fast path: per-term 0-based token-index arrays as
    projection columns over a once-tokenized array, unpivoted to the
    (doc_id, term, positions, dl) contract rows. Plan: Scan →
    Project(tokens) → Project(per-term index arrays) → Generate(unpivot) →
    Filter(non-empty) — no corpus-tokens posexplode, no collect_list
    aggregation, no exchange (guide §1.2 step 1 / §2.4). Values are
    identical to the posexplode path: ``transform`` with the index lambda
    enumerates positions in ascending order (the explode path re-sorts
    with ``sort_array``), rows are gated on ≥1 position exactly as the
    group path only emits present terms. Returns ``None`` to fall back
    (empty / non-token-only / too-wide vocabularies)."""
    matchable = [t for t in vocab if _POS_TOKEN_SHAPE.fullmatch(t)]
    if not matchable or len(matchable) > _PRUNED_POS_PROJECTED_MAX:
        return None
    tok = tokenize_code_expr if code_aware else tokenize_expr
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tok(text_col).alias("_t"))

    def _positions_of(t: str):
        hits = F.transform(
            F.col("_t"),
            lambda x, i: F.when(x == F.lit(t), i))
        return F.filter(hits, lambda v: v.isNotNull())

    per_term = toks.select(
        "doc_id",
        F.size("_t").cast("long").alias("dl"),
        *[_positions_of(t).alias(f"_p{i}") for i, t in enumerate(matchable)],
    )
    entries = F.array(*[
        F.struct(F.lit(t).alias("term"), F.col(f"_p{i}").alias("positions"))
        for i, t in enumerate(matchable)
    ])
    return (
        per_term.select("doc_id", "dl", F.explode(entries).alias("e"))
        .filter(F.size(F.col("e.positions")) > 0)
        .select("doc_id", F.col("e.term").alias("term"),
                F.col("e.positions").alias("positions"), "dl")
    )


def doc_positions(docs: DataFrame, *, code_aware: bool = False,
                  id_col: str = "doc_id", text_col: str = "text",
                  terms: list[str] | None = None) -> DataFrame:
    """(doc_id, term, positions array<int>, dl) — sorted 0-based token
    positions per (doc, term), dl alongside so phrase scoring never joins
    the docs table (same discipline as the postings rows).

    ``terms`` restricts the OUTPUT to that term set with the filter pushed
    BELOW the collect_list aggregation: phrase/span/percolate consumers
    join these rows against a small literal slot set, so building position
    arrays for the whole vocabulary only to drop them at the join makes
    the agg/shuffle O(corpus tokens) instead of O(slot-term positions)
    (guide §2.3). positions/dl values are unchanged (positions come from
    posexplode before the filter; dl from the full token array). Only
    valid when every downstream consumer restricts to ⊆ ``terms``."""
    if terms is not None:
        vocab = sorted({str(t) for t in terms})
        projected = _doc_positions_projected(
            docs, vocab, id_col=id_col, text_col=text_col,
            code_aware=code_aware)
        if projected is not None:
            return projected
    tok = tokenize_code_expr if code_aware else tokenize_expr
    toks = docs.select(F.col(id_col).alias("doc_id"), tok(text_col).alias("t"))
    exploded = toks.select(
        "doc_id", F.size("t").cast("long").alias("dl"),
        F.posexplode("t").alias("p", "term"),
    )
    if terms is not None:
        exploded = exploded.filter(
            F.col("term").isin([str(t) for t in terms]))
    return (
        exploded.groupBy("doc_id", "dl", "term")
        .agg(F.sort_array(F.collect_list("p")).alias("positions"))
        .select("doc_id", "term", "positions", "dl")
    )


def build_positions(spark: SparkSession, docs: DataFrame, out_dir: str,
                    cfg: EngineConfig | None = None, *,
                    code_aware: bool = True,
                    text_col: str = "content") -> None:
    """Write the positional sidecar under ``<index>/positions`` —
    shard-partitioned like the postings (one task per shard dir)."""
    cfg = cfg or EngineConfig()
    pos = doc_positions(docs, code_aware=code_aware,
                        text_col=text_col).withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(cfg.n_shards)).cast("int"))
    (pos.repartition(cfg.n_shards, "shard")
     .write.mode("overwrite").partitionBy("shard")
     .parquet(os.path.join(out_dir, "positions")))


def phrase_matches(pos: DataFrame, tokens: list[str]) -> DataFrame:
    """(doc_id, phrase_tf, dl) for docs containing the exact token sequence.
    Handles repeated tokens in the phrase (each position joins its own
    filtered slice). Every join is on doc_id over term-filtered (tiny)
    slices; the set algebra runs as Catalyst array expressions."""
    cur = (
        pos.filter(F.col("term") == tokens[0])
        .select("doc_id", "dl", F.col("positions").alias("s"))
    )
    for i, t in enumerate(tokens[1:], start=1):
        nxt = pos.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"_p{i}"))
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "s",
                F.array_intersect(
                    F.transform("s", lambda p: p + 1), F.col(f"_p{i}")),
            )
            .drop(f"_p{i}")
            .filter(F.size("s") > 0)
        )
    return cur.select("doc_id", F.size("s").cast("long").alias("phrase_tf"),
                      "dl")


def phrase_score(matches: DataFrame, n_docs: int, avgdl: float,
                 cfg: EngineConfig | None = None) -> DataFrame:
    """BM25 over phrase frequencies: df = |matched docs| (exact, from the
    match set itself — ES/Lucene uses an approximation here; exact is
    strictly better and cheap because the matched set is small)."""
    cfg = cfg or EngineConfig()
    df_count = matches.count()
    if df_count == 0:
        return matches.sparkSession.createDataFrame(
            [], "doc_id long, score double")
    idf = math.log(1.0 + (n_docs - df_count + 0.5) / (df_count + 0.5))
    tf = F.col("phrase_tf").cast("double")
    norm = tf + cfg.k1 * ((1.0 - cfg.b)
                          + cfg.b * F.col("dl").cast("double") / avgdl)
    return matches.select(
        "doc_id",
        (F.lit(idf) * tf * F.lit(cfg.k1 + 1.0) / norm).alias("score"),
    )


def phrase_matches_batch(pos: DataFrame,
                         phrases: list[tuple[int, list[str]]]) -> DataFrame:
    """(query_id, doc_id, phrase_tf, dl) for EVERY phrase in ONE plan — no
    per-phrase driver loop, no eager actions (the round-2 path ran 2+ Spark
    jobs per phrase; a 10k-phrase evaluation batch must amortize).

    One broadcast join tags each (doc, term) positions row with every
    (query_id, idx) slot that wants the term; a doc matches a phrase iff it
    matched all n_tokens slots and the idx-shifted position sets intersect:
    start positions = ∩_i { p − i : p ∈ positions(t_i) }, |∩| = phrase tf.
    The fold is Catalyst ``aggregate``/``array_intersect`` over the per-doc
    collected slots — set algebra, order-insensitive, zero Python."""
    from dp_search_data_importer_spark.session import local_df

    spark = pos.sparkSession
    slot_rows = [(qid, i, t) for qid, toks in phrases for i, t in enumerate(toks)]
    len_rows = [(qid, len(toks)) for qid, toks in phrases]
    slots = local_df(spark, slot_rows, "query_id long, idx int, term string")
    qlens = local_df(spark, len_rows, "query_id long, n_tokens int")

    j = pos.join(F.broadcast(slots), "term")
    agg = (
        j.groupBy("query_id", "doc_id")
        .agg(F.first("dl").alias("dl"),
             F.count_distinct("idx").alias("n_idx"),
             F.collect_list(F.struct("idx", "positions")).alias("arr"))
        .join(F.broadcast(qlens), "query_id")
        .filter(F.col("n_idx") == F.col("n_tokens"))
    )
    shifted = F.transform(
        "arr", lambda x: F.transform(x["positions"], lambda p: p - x["idx"]))
    folded = F.aggregate(
        F.slice(shifted, F.lit(2), F.size(shifted) - F.lit(1)),
        F.element_at(shifted, 1),
        lambda acc, s: F.array_intersect(acc, s),
    )
    return (
        agg.select("query_id", "doc_id",
                   F.size(folded).cast("long").alias("phrase_tf"), "dl")
        .filter(F.col("phrase_tf") > 0)
    )


def phrase_matches_batch_slop(
        pos: DataFrame,
        phrases: list[tuple[int, list[str], int]]) -> DataFrame:
    """(query_id, doc_id, phrase_tf, dl) for sloppy phrases — the ES
    ``match_phrase`` ``slop`` parameter — ALL phrases in ONE plan.

    Semantics (ordered sloppy phrase, documented divergence): doc matches
    with slop s iff an INCREASING position chain p_1 < … < p_n exists with
    total extra gap Σ(gap−1) = p_n − p_1 − (n−1) ≤ s, i.e. span ≤
    n−1+s; ``phrase_tf`` = number of start positions beginning such a
    chain. At s=0 this is exactly the adjacency semantics of
    :func:`phrase_matches_batch` (kept as the fast path). Lucene
    additionally permits REORDERED matches once slop ≥ 2 and discounts
    sloppy occurrences by 1/(slop+1) in the frequency; the ordered
    span-budget form implemented here is the common simplification and is
    exactly expressible as a range join in SQL, which the contract oracle
    replays.

    Physical shape: same single broadcast slot join + one hash agg as the
    exact batch; the chain search is a Catalyst ``aggregate`` fold over
    idx-sorted slots where each step advances a (start, cur) state array —
    greedy earliest-next, which finds a chain iff one exists (exchange
    argument), so no backtracking and no Python on the data path."""
    from dp_search_data_importer_spark.session import local_df

    spark = pos.sparkSession
    slot_rows = [(qid, i, t)
                 for qid, toks, _ in phrases for i, t in enumerate(toks)]
    len_rows = [(qid, len(toks), int(slop)) for qid, toks, slop in phrases]
    slots = local_df(spark, slot_rows, "query_id long, idx int, term string")
    qlens = local_df(spark, len_rows,
                     "query_id long, n_tokens int, slop int")

    j = pos.join(F.broadcast(slots), "term")
    agg = (
        j.groupBy("query_id", "doc_id")
        .agg(F.first("dl").alias("dl"),
             F.count_distinct("idx").alias("n_idx"),
             F.collect_list(F.struct("idx", "positions")).alias("arr"))
        .join(F.broadcast(qlens), "query_id")
        .filter(F.col("n_idx") == F.col("n_tokens"))
    )
    span = F.col("n_tokens") - F.lit(1) + F.col("slop")
    arr = F.array_sort("arr")  # structs sort by leading field = idx
    init = F.transform(
        F.element_at(arr, 1)["positions"],
        lambda p: F.struct(p.alias("start"), p.alias("cur")),
    )
    folded = F.aggregate(
        F.slice(arr, F.lit(2), F.size(arr) - F.lit(1)),
        init,
        lambda acc, s: F.filter(
            F.transform(
                acc,
                lambda x: F.struct(
                    x["start"].alias("start"),
                    F.array_min(F.filter(
                        s["positions"],
                        lambda q: (q > x["cur"]) & (q <= x["start"] + span),
                    )).alias("cur"),
                ),
            ),
            lambda x: x["cur"].isNotNull(),
        ),
    )
    return (
        agg.select("query_id", "doc_id",
                   F.size(folded).cast("long").alias("phrase_tf"), "dl")
        .filter(F.col("phrase_tf") > 0)
    )


def phrase_score_batch(matches: DataFrame, n_docs: int | None = None,
                       avgdl: float | None = None,
                       cfg: EngineConfig | None = None,
                       stats: DataFrame | None = None) -> DataFrame:
    """BM25 over phrase frequencies with exact per-phrase df computed
    IN-PLAN as a window count over the matched set (replacing the round-2
    eager ``matches.count()`` per phrase). Same formula, same rounding
    discipline downstream.

    Corpus statistics come either as driver scalars (``n_docs``/``avgdl``)
    or as a 1-row ``stats`` frame (n_docs, avgdl) that broadcast-joins
    into the same plan — the frame form keeps the whole query ONE Spark
    job (no eager stats collect before the main action; guide §1.2
    job-count discipline). Same arithmetic either way."""
    from pyspark.sql.window import Window

    cfg = cfg or EngineConfig()
    if stats is not None:
        matches = matches.join(F.broadcast(stats))  # 1-row cross join
        nd, av = F.col("n_docs").cast("double"), F.col("avgdl")
    else:
        nd, av = F.lit(float(n_docs)), F.lit(avgdl)
    w = Window.partitionBy("query_id")
    dfq = F.count(F.lit(1)).over(w).cast("double")
    idf = F.log(F.lit(1.0)
                + (nd - dfq + F.lit(0.5)) / (dfq + F.lit(0.5)))
    tf = F.col("phrase_tf").cast("double")
    norm = tf + F.lit(cfg.k1) * (
        F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("dl").cast("double") / av)
    return matches.select(
        "query_id", "doc_id",
        (idf * tf * F.lit(cfg.k1 + 1.0) / norm).alias("score"),
    )


def phrase_topk(spark: SparkSession, out_dir: str,
                phrases: list[tuple[int, str]],
                cfg: EngineConfig | None = None,
                k: int = 10, slop: int = 0) -> DataFrame:
    """(query_id, doc_id, score) top-k per phrase over the index's
    positions; analyzer symmetry with the index (stats.json code_aware),
    rounded-score deterministic ranking like every other query path.

    ALL phrases evaluate in one plan (``phrase_matches_batch`` +
    ``phrase_score_batch``): the job count is bounded by a constant, not by
    |phrases| (regression-tested with a 50-phrase batch)."""
    from dp_search_data_importer_spark.checkpoint import read_stats_json
    from dp_search_data_importer_spark.operators.bm25 import topk
    from dp_search_data_importer_spark.session import local_df

    cfg = cfg or EngineConfig()
    stats = read_stats_json(out_dir)
    # tokenize each phrase through the same analyzer (driver-side literal)
    from dp_search_data_importer_spark.functions.tokenize import (
        _code_tokens_py,
        _simple_tokens_py,
    )

    tok_py = _code_tokens_py if stats.get("code_aware") else _simple_tokens_py
    qtoks = [(qid, tok_py(p)) for qid, p in phrases]
    qtoks = [(qid, toks) for qid, toks in qtoks if toks]
    if not qtoks:
        return local_df(spark, [], "query_id long, doc_id long, score double")
    all_terms = sorted({t for _, toks in qtoks for t in toks})
    pos = load_positions(spark, out_dir, terms=all_terms)
    if slop > 0:
        m = phrase_matches_batch_slop(
            pos, [(qid, toks, slop) for qid, toks in qtoks])
    else:
        m = phrase_matches_batch(pos, qtoks)  # exact adjacency fast path
    scored = phrase_score_batch(m, stats["n_docs"], stats["avgdl"], cfg)
    return topk(scored, k)


def load_positions(spark: SparkSession, out_dir: str,
                   terms: list[str] | None = None) -> DataFrame:
    """(doc_id, term, positions, dl) for phrase evaluation. Positional
    indexes (stats.json ``positions: true``) read positions straight
    from the postings rows (term filter pushed into the same scan the
    BM25 path uses — no sidecar, no duplicated keys); otherwise the
    round-2 ``positions/`` sidecar is read, kept as the oracle twin."""
    from dp_search_data_importer_spark.checkpoint import read_stats_json

    if (os.path.exists(os.path.join(out_dir, "stats.json"))
            and read_stats_json(out_dir).get("positions")):
        from dp_search_data_importer_spark.plans.query import (
            decompress_blocks,
            load_blocks,
        )

        return decompress_blocks(
            load_blocks(spark, out_dir, terms), include_positions=True,
        ).select("doc_id", "term", "positions", "dl")
    pos_dir = os.path.join(out_dir, "positions")
    if not os.path.exists(pos_dir):
        raise FileNotFoundError(
            f"index at {out_dir} stores no positions: build with "
            "positions=True (scripts/build_index.py --positions) or write "
            "the sidecar via build_positions() to enable phrase queries"
        )
    pos = spark.read.parquet(pos_dir)
    if terms is not None:
        pos = pos.filter(F.col("term").isin(terms))
    return pos


def term_snippets(docs: DataFrame, terms: list[str], window: int = 5,
                  *, code_aware: bool = False, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """ES ``highlight`` twin at token granularity: for each (doc, query
    term) present, the FIRST occurrence position and a ±window-token
    snippet around it — the fragment a search UI shows under each hit.

    One Catalyst projection per doc: ``array_position`` finds the first
    occurrence in the analyzed token array (same analyzer as the index —
    analyzer symmetry, or highlights would miss camelCase hits),
    ``slice``+``concat_ws`` cut the fragment. The terms frame is a
    broadcast literal array; docs with no occurrence produce no row.
    Output: (doc_id, term, pos, snippet), pos 0-based."""
    tok = tokenize_code_expr if code_aware else tokenize_expr
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tok(text_col).alias("toks"))
    hits = toks.select(
        "doc_id", "toks",
        F.explode(
            F.transform(
                F.array(*[F.lit(t) for t in terms]),
                lambda t: F.struct(
                    t.alias("term"),
                    F.array_position("toks", t).alias("pos1")),
            )
        ).alias("h"),
    ).filter(F.col("h.pos1") > 0)
    start = F.greatest(F.col("h.pos1") - window, F.lit(1))
    return hits.select(
        "doc_id",
        F.col("h.term").alias("term"),
        (F.col("h.pos1") - 1).cast("long").alias("pos"),
        F.concat_ws(
            " ", F.slice("toks", start, 2 * window + 1)).alias("snippet"),
    )


def expand_prefix_terms(term_dict: DataFrame, prefix: str,
                        max_expansions: int = 50,
                        term_col: str = "term") -> list[str]:
    """Expand a prefix against the term dictionary in TERM-DICTIONARY
    (lexicographic) order, capped at ``max_expansions`` — exactly how ES
    ``match_phrase_prefix`` selects expansions (its documented "first
    max_expansions terms in term order" behavior, the source of its
    famous can't-find-longer-terms caveat, which we reproduce
    faithfully rather than fix).

    Scale shape: the LIKE-prefix predicate prunes the dictionary scan
    (range predicate on a sorted/dictionary-encoded column), and
    ``orderBy().limit()`` is a TakeOrdered — the driver collects ≤
    max_expansions strings, bounded regardless of dictionary size."""
    rows = (term_dict.filter(F.col(term_col).startswith(prefix))
            .select(term_col).distinct()
            .orderBy(F.col(term_col).asc()).limit(max_expansions).collect())
    return [r[term_col] for r in rows]


def phrase_prefix_matches_batch(
        pos: DataFrame,
        phrases: list[tuple[int, list[str], list[str]]]) -> DataFrame:
    """ES ``match_phrase_prefix`` twin: (query_id, doc_id, phrase_tf, dl)
    where the LAST slot of each phrase matches ANY of its expansion
    terms — Lucene's MultiPhraseQuery: the last slot's position set is
    the UNION of the expansions' positions, then the same idx-shifted
    intersection as the exact batch. ``phrases`` is
    (query_id, leading_tokens, last_slot_expansions).

    Physical shape: the same single broadcast slot join as
    :func:`phrase_matches_batch`, except the slot table carries multiple
    term rows for the last idx, and a per-(query, doc, idx) pre-agg
    unions the position arrays before the Catalyst intersect fold —
    still one shuffle, zero Python."""
    from dp_search_data_importer_spark.session import local_df

    spark = pos.sparkSession
    slot_rows = []
    len_rows = []
    for qid, toks, expansions in phrases:
        for i, t in enumerate(toks):
            slot_rows.append((qid, i, t))
        for e in expansions:
            slot_rows.append((qid, len(toks), e))
        len_rows.append((qid, len(toks) + 1))
    slots = local_df(spark, slot_rows, "query_id long, idx int, term string")
    qlens = local_df(spark, len_rows, "query_id long, n_tokens int")

    j = pos.join(F.broadcast(slots), "term")
    # MultiPhrase pre-agg: union positions across the slot's terms
    per_slot = (
        j.groupBy("query_id", "doc_id", "idx")
        .agg(F.first("dl").alias("dl"),
             F.array_sort(F.array_distinct(
                 F.flatten(F.collect_list("positions")))).alias("positions"))
    )
    agg = (
        per_slot.groupBy("query_id", "doc_id")
        .agg(F.first("dl").alias("dl"),
             F.count(F.lit(1)).alias("n_idx"),
             F.collect_list(F.struct("idx", "positions")).alias("arr"))
        .join(F.broadcast(qlens), "query_id")
        .filter(F.col("n_idx") == F.col("n_tokens"))
    )
    shifted = F.transform(
        "arr", lambda x: F.transform(x["positions"], lambda p: p - x["idx"]))
    folded = F.aggregate(
        F.slice(shifted, F.lit(2), F.size(shifted) - F.lit(1)),
        F.element_at(shifted, 1),
        lambda acc, s: F.array_intersect(acc, s),
    )
    return (
        agg.select("query_id", "doc_id",
                   F.size(folded).cast("long").alias("phrase_tf"), "dl")
        .filter(F.col("phrase_tf") > 0)
    )
