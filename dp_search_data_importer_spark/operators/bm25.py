"""Exact BM25 scoring + top-k (SURVEY.md §2 B4/B5) — pure Catalyst.

The reference delegates scoring to Elasticsearch 7.10's Lucene
``BM25Similarity`` (``/root/reference/README.md:18``, ``go.mod:15``); defaults
k1=1.2, b=0.75:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    score   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

This exact path is the engine's one BM25 scorer, stored index included. It is
deliberately 100% Catalyst expressions — broadcast joins + whole-stage-codegen
arithmetic, zero Python on the data path.

Physical plan at scale (what ``.explain`` should show):
- query term set is tiny → its df rows broadcast: the postings side never
  shuffles for the join (BroadcastHashJoin). On the stored index the
  query terms, their df (a ``{term: df}`` map, :func:`df_lookup_sql`) and
  the corpus stats ride as plan literals (parameter markers), so the
  postings side joins nothing at all.
- the term formula and the round-then-rank top-k are SQL text here
  (``bm25_term_sql``, ``topk_sql``), used by the stored statements of
  ``plans/query.py`` and by the DataFrame operators alike.
- doc lengths ride inside the postings tuples (see ``operators/postings.py``)
  → no join against the docs table at query time.
- per-(query,doc) score sum is the only shuffle, over candidate docs only.
- top-k uses rounded-score ordering with doc_id tie-break: deterministic
  across engines and float-summation orders (SURVEY.md §7 hard part a).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.functions.tokenize import tokenize_expr


def sql_number(x) -> str:
    """A driver-side number (config constant or index statistic, never a
    request value) as a typed SQL literal: ``int`` → BIGINT, ``float`` →
    DOUBLE. ``repr`` round-trips a double exactly."""
    if isinstance(x, int) and not isinstance(x, bool):
        return f"{x}L"
    return f"{float(x)!r}D"


def sql_in(col: str, markers: str) -> str:
    """``col IN (markers)``; an empty marker list — a request with no
    terms — is ``FALSE``, as Spark's grammar has no ``IN ()``."""
    return f"{col} IN ({markers})" if markers else "FALSE"


def bm25_term_sql(cfg: EngineConfig, tf: str = "tf", dl: str = "dl",
                  df: str = "df", n_docs: str = "n_docs",
                  avgdl: str = "avgdl") -> str:
    """The per-(term, doc) BM25 contribution as SQL text over the named
    expressions — the one text of the formula, shared by the stored-index
    statements (``plans/query.py``) and the DataFrame operators."""
    return (f"ln(1.0D + ({n_docs} - {df} + 0.5D) / ({df} + 0.5D))"
            f" * CAST({tf} AS DOUBLE) * {sql_number(cfg.k1 + 1.0)}"
            f" / (CAST({tf} AS DOUBLE) + {sql_number(float(cfg.k1))}"
            f" * ({sql_number(1.0 - cfg.b)} + {sql_number(float(cfg.b))}"
            f" * CAST({dl} AS DOUBLE) / {avgdl}))")


def df_lookup_sql(dfs_json: str, term: str) -> str:
    """df of ``term`` looked up in a driver-side ``{term: df}`` JSON value
    (a parameter marker on the stored path), which constant-folds to one
    map literal: the scan side joins nothing to learn df."""
    return f"element_at(from_json({dfs_json}, 'map<string, bigint>'), {term})"


def bm25_term_score(tf: str, dl: str, df: str, n_docs: str, avgdl: str,
                    cfg: EngineConfig) -> Column:
    """Per-(term, doc) BM25 contribution as a Catalyst expression over the
    named columns or SQL expressions (:func:`bm25_term_sql`)."""
    return F.expr(bm25_term_sql(cfg, tf, dl, df, n_docs, avgdl))


def query_terms(queries: DataFrame, text_col: str = "query_text",
                code_aware: bool = False) -> DataFrame:
    """(query_id, term) — distinct query terms via the SAME analyzer as the
    index (analyzer symmetry, as ES enforces between index and search time:
    a code-aware index must code-tokenize queries or camelCase queries
    silently miss)."""
    from dp_search_data_importer_spark.functions.tokenize import tokenize_code_expr

    tok = tokenize_code_expr if code_aware else tokenize_expr
    return (
        queries.select("query_id", F.explode(tok(text_col)).alias("term"))
        .distinct()
    )


def _with_stats(rows: DataFrame, stats: DataFrame | dict) -> DataFrame:
    """Attach (n_docs, avgdl): literals from a stats.json dict, or a
    broadcast 1-row cross join of an in-plan stats frame."""
    if isinstance(stats, dict):
        return rows.withColumns({
            "n_docs": F.lit(int(stats["n_docs"])).cast("long"),
            "avgdl": F.lit(float(stats["avgdl"]))})
    return rows.join(F.broadcast(stats))


def bm25_scores(
    tf: DataFrame,
    qterms: DataFrame,
    dfs: DataFrame | None,
    stats: DataFrame | dict,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) for every candidate doc.

    ``tf``: (doc_id, term, tf, dl); ``qterms``: (query_id, term) frame;
    ``dfs``: (term, df); ``stats``: 1-row (n_docs, avgdl) frame or a dict
    of the two (literals).

    ``dfs=None`` computes df IN-PLAN as a window count over the tf frame
    (one row per (doc, term), so count-per-term ≡ df) — removing the
    separate dfs aggregation branch, which Catalyst cannot share with the
    tf branch (column pruning makes their exchanges non-identical, so the
    whole tokenize pipeline ran twice; measured in plans/r06). ONLY for
    term-PRUNED tf frames: a corpus-wide window by term funnels a hot
    term into one partition — ``doc_freqs``' partially aggregated count
    stays the general-path answer (guide §2.5). Terms absent from the
    corpus drop at the dfs join (or simply have no tf rows on the window
    path).
    """
    cfg = cfg or EngineConfig()
    if dfs is None:
        w = Window.partitionBy("term")
        cand = (tf.withColumn("df", F.count(F.lit(1)).over(w))
                .join(F.broadcast(qterms), "term", "inner"))
    else:
        qdf = qterms.join(dfs, "term", "inner")  # unseen terms drop here
        cand = tf.join(F.broadcast(qdf), "term", "inner")
    scored = _with_stats(cand, stats).withColumn(
        "term_score",
        bm25_term_score("tf", "dl", "df", "n_docs", "avgdl", cfg),
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score")
    )


# Scores (and every other ranked float) round to ROUND_DIGITS before they
# rank, so a rank is stable under float summation-order differences
# between engines and paths (SURVEY.md §7 hard part a).
ROUND_DIGITS = 4
# Fan-out of the salted pre-window in :func:`salted_topn`.
N_SALTS = 32


def salted_topn(df: DataFrame, part_cols: list[str], order, n: int,
                salt_col: Column, rank_col: str | None = None) -> DataFrame:
    """Top ``n`` rows per ``part_cols`` group by ``order``, in two phases:
    a pre-window keeps ≤ n rows per (group, hash(salt_col) mod N_SALTS)
    slice in parallel, and the group window ranks only the ≤ n·N_SALTS
    survivors, so a hot group never ranks all its rows in one task.
    ``rank_col`` keeps the final 1-based rank under that name."""
    w_pre = Window.partitionBy(
        *part_cols, F.pmod(F.xxhash64(salt_col), F.lit(N_SALTS))
    ).orderBy(*order)
    pruned = (df.withColumn("_prn", F.row_number().over(w_pre))
              .filter(F.col("_prn") <= n).drop("_prn"))
    rank = rank_col or "_rn"
    w = Window.partitionBy(*part_cols).orderBy(*order)
    ranked = (pruned.withColumn(rank, F.row_number().over(w))
              .filter(F.col(rank) <= n))
    return ranked if rank_col else ranked.drop(rank)


# The round-then-rank top-k as SQL text: the stored-index statements
# (plans/query.py) and :func:`topk` compose these same pieces.
RANK_SQL = ("row_number() OVER (PARTITION BY query_id "
            "ORDER BY score DESC, doc_id ASC)")
# a search_after cursor per query: (c_score, c_doc) looked up by query_id
# in a driver-side [(query_id, (c_score, c_doc))] list, null where absent
CURSOR_DDL = ("array<struct<query_id: bigint, "
              "page_end: struct<c_score: double, c_doc: bigint>>>")


def cursor_sql(cursor_json: str) -> str:
    """The per-row cursor lookup over a ``CURSOR_DDL`` JSON value."""
    return (f"try_element_at(map_from_entries(from_json({cursor_json}, "
            f"'{CURSOR_DDL}')), query_id)")


def after_sql(cursor: str) -> str:
    """Strict-after predicate on the total order (rounded score desc,
    doc_id asc) against the struct ``cursor`` (true where it is null)."""
    return (f"({cursor} IS NULL OR score < {cursor}.c_score OR "
            f"(score = {cursor}.c_score AND doc_id > {cursor}.c_doc))")


def cursor_rows(after: dict[int, tuple[float, int]]) -> list[dict]:
    """``after`` as ``CURSOR_DDL`` rows, scores rounded like the ranking."""
    return [{"query_id": int(q), "page_end": {
        "c_score": round(float(sc), ROUND_DIGITS), "c_doc": int(d)}}
        for q, (sc, d) in sorted(after.items())]


ROUND_SQL = f"round(score, {ROUND_DIGITS})"


def topk_sql(scores: str, k: str, cursor_json: str | None = None) -> str:
    """Per-query top-k as SQL text over the query ``scores`` (query_id,
    doc_id, score): round, drop what is not strictly after the cursor,
    rank, keep ``rn <= k``. ``k`` and ``cursor_json`` are SQL expressions
    (parameter markers on the stored path)."""
    cur = (f", {cursor_sql(cursor_json)} AS page_end"
           if cursor_json is not None else "")
    where = (f" WHERE {after_sql('page_end')}"
             if cursor_json is not None else "")
    return (f"SELECT query_id, doc_id, score FROM (SELECT query_id, doc_id, "
            f"score, {RANK_SQL} AS rn FROM (SELECT query_id, doc_id, "
            f"{ROUND_SQL} AS score{cur} "
            f"FROM ({scores})){where}) WHERE rn <= {k}")


def topk(scores: DataFrame, k: int,
         after: dict[int, tuple[float, int]] | None = None) -> DataFrame:
    """Per-query top-k, deterministically ordered by (round(score) desc,
    doc_id asc). Rounding before ranking makes rank stable under float
    summation-order differences between engines/paths. Other columns of
    ``scores`` pass through.

    ``after`` is the ES ``search_after`` cursor twin: per query_id, the
    (rounded score, doc_id) of the LAST hit of the previous page. The
    next page is the SAME plan plus one pushed strict-after predicate on
    the total order — because the ordering is total and deterministic
    (rounded score, then doc_id), cursor pagination is exact: page n+1 is
    precisely ranks nk+1..nk+k of the unpaginated ranking, with no
    skipped or duplicated hits, and unlike from+size the query never
    materializes earlier pages. The cursor is one constant-folded plan
    literal looked up per query_id; queries absent from ``after``
    paginate from the top. Same SQL text as :func:`topk_sql`."""
    rounded = scores.withColumn("score", F.expr(ROUND_SQL))
    if after:
        rounded = (
            rounded.withColumn("_cursor_json", F.lit(json.dumps(
                cursor_rows(after))))
            .withColumn("_cursor", F.expr(cursor_sql("_cursor_json")))
            .filter(F.expr(after_sql("_cursor")))
            .drop("_cursor_json", "_cursor"))
    return (rounded.withColumn("rn", F.expr(RANK_SQL))
            .filter(F.col("rn") <= k).drop("rn"))


def more_like_this_terms(tf: DataFrame, dfs: DataFrame, stats: DataFrame,
                         like_doc_id: int, max_query_terms: int = 25,
                         min_doc_freq: int = 1) -> DataFrame:
    """ES ``more_like_this`` term selection: the liked document's terms
    ranked by tf·idf, top ``max_query_terms`` kept (ES 7.10 default 25).
    The idf is the same BM25 idf the scorer uses; the weight is ROUNDED
    before ranking with a term tie-break, so the selected set is
    deterministic across engines (the oracle replays the selection in
    SQL). The liked doc's term list is tiny → it broadcasts into the df
    join; the single ordering window runs over that tiny set only."""
    doc_terms = tf.filter(F.col("doc_id") == like_doc_id).select("term", "tf")
    cand = (
        dfs.filter(F.col("df") >= min_doc_freq)
        .join(F.broadcast(doc_terms), "term")
        .join(F.broadcast(stats))
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    weighted = cand.withColumn(
        "w", F.round(idf * F.col("tf").cast("double"), ROUND_DIGITS))
    # deterministic top-N selection via TakeOrdered (orderBy().limit()),
    # not an unpartitioned row_number window — same total order, no
    # single-partition funnel (the set is one doc's vocabulary anyway)
    return (
        weighted.orderBy(F.col("w").desc(), F.col("term").asc())
        .limit(max_query_terms)
        .select("term")
    )


def more_like_this_topk(tf: DataFrame, dfs: DataFrame, stats: DataFrame,
                        like_doc_id: int, cfg: EngineConfig | None = None,
                        k: int = 10, max_query_terms: int = 25) -> DataFrame:
    """ES ``more_like_this`` query twin: select the liked doc's top tf·idf
    terms, run them as a standard OR BM25 query, and exclude the liked
    doc itself from the results (ES default ``include=false``). One plan:
    the selected term set is a broadcast-sized frame feeding the normal
    scorer."""
    cfg = cfg or EngineConfig()
    sel = more_like_this_terms(tf, dfs, stats, like_doc_id,
                               max_query_terms)
    qt = sel.select(F.lit(1).cast("long").alias("query_id"), "term")
    scores = bm25_scores(tf, qt, dfs, stats, cfg)
    # single-query ranking: the constant query_id would constant-fold
    # out of topk's window partition (one-task funnel over ALL
    # candidates of a 25-term OR query); TakeOrdered instead, query_id
    # re-attached after the limit
    ranked = (
        scores.filter(F.col("doc_id") != like_doc_id)
        .withColumn("score", F.round(F.col("score"), ROUND_DIGITS))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    return ranked.select(F.lit(1).cast("long").alias("query_id"),
                         "doc_id", "score")


def significant_terms(tf: DataFrame, fg_docs: DataFrame, dfs: DataFrame,
                      stats: DataFrame, min_fg_df: int = 3, top_n: int = 20,
                      broadcast_limit: int = 2_000_000) -> DataFrame:
    """ES ``significant_terms`` aggregation twin (JLH scoring, the ES
    default): terms over-represented in a FOREGROUND document set vs the
    whole corpus. JLH = (p_fg − p_bg) · (p_fg / p_bg) with p_fg =
    fg_df/fg_total and p_bg = df/N — public ES semantics. Scores round
    before the (score desc, term asc) ranking so the result is
    deterministic across engines.

    Plan shape: the foreground doc set semi-joins the tf table (fg term
    stats are one hash agg over fg-sized data); the per-term background
    df comes precomputed (``dfs``), broadcast-joined on the tiny
    surviving term set. Output: (term, fg_df, bg_df, jlh).

    The foreground broadcast is GATED on size: a web-scale foreground
    ("all docs matching query X") can be millions of ids, and
    force-broadcasting that OOMs the driver. JLH needs ``fg_total`` as a
    literal anyway, so the (unavoidable) count doubles as the gate —
    past ``broadcast_limit`` the hint is dropped and AQE picks the join
    strategy (shuffle semi-join with runtime stats)."""
    fg_ids = fg_docs.select("doc_id")
    fg_total = fg_ids.count()
    if fg_total == 0:
        from dp_search_data_importer_spark.session import local_df

        return local_df(tf.sparkSession, [],
                        "term string, fg_df long, bg_df long, jlh double")
    fg_side = F.broadcast(fg_ids) if fg_total <= broadcast_limit else fg_ids
    fg_stats = (
        tf.join(fg_side, "doc_id", "left_semi")
        .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("fg_df"))
        .filter(F.col("fg_df") >= min_fg_df)
    )
    j = fg_stats.join(dfs, "term").join(F.broadcast(stats))
    p_fg = F.col("fg_df").cast("double") / F.lit(float(fg_total))
    p_bg = F.col("df").cast("double") / F.col("n_docs").cast("double")
    scored = j.select(
        "term", "fg_df", F.col("df").alias("bg_df"),
        F.round((p_fg - p_bg) * (p_fg / p_bg), ROUND_DIGITS).alias("jlh"),
    )
    # top-N via orderBy+limit = TakeOrdered (per-partition heaps + driver
    # merge) — a global row_number window would funnel every surviving
    # term through ONE task, which a web-scale foreground can't afford
    return scored.orderBy(F.col("jlh").desc(), F.col("term").asc()).limit(top_n)


def page_cursor(rows) -> dict[int, tuple[float, int]]:
    """Build a ``search_after`` cursor from a collected page: per query,
    the LAST hit in the total order (lowest rounded score, then highest
    doc_id) — feed to ``topk(after=…)`` for the next page."""
    best: dict[int, tuple[float, int]] = {}
    for r in rows:
        qid = int(r["query_id"])
        cand = (float(r["score"]), int(r["doc_id"]))
        if qid not in best or (cand[0], -cand[1]) < (best[qid][0],
                                                     -best[qid][1]):
            best[qid] = cand
    return best


def sort_topk(hits: DataFrame, sort_col: str, k: int,
              ascending: bool = False,
              after: dict[int, tuple] | None = None) -> DataFrame:
    """ES sort-by-field twin (``"sort": [{field: desc}, {"_id": asc}]``):
    order a query's HIT SET by a metadata field instead of ``_score``
    (the reference's ES consumers sort on exactly such fields —
    ``release_date`` in ``/root/reference/models/elastic.go:13-14``; all
    querying is delegated at ``handler/handler.go:95``). ``hits`` carries
    (query_id, doc_id, <sort_col>); ties break on doc_id asc, so the
    order is total and deterministic.

    ``after`` composes exactly like the score cursor in :func:`topk` —
    per query the (sort value, doc_id) of the previous page's last hit,
    applied as a pushed strict-after predicate, so page n never
    materializes pages 1..n−1.

    Scale shape: the hit set of a broad query is unbounded, so the
    per-query rank is :func:`salted_topn` salted by doc_id."""
    v = F.col(sort_col)
    direction = (v.asc(), F.col("doc_id").asc()) if ascending else \
        (v.desc(), F.col("doc_id").asc())
    if after:
        # the cursors are one constant-folded map literal looked up per
        # query_id, as in :func:`topk`: no driver-built table to broadcast
        sort_type = hits.schema[sort_col].dataType
        cur = F.try_element_at(F.create_map(*[
            x for qid, (val, d) in sorted(after.items())
            for x in (F.lit(int(qid)).cast("long"), F.struct(
                F.lit(val).cast(sort_type).alias("c_v"),
                F.lit(int(d)).cast("long").alias("c_doc")))]),
            F.col("query_id").cast("long"))
        c_v, c_doc = cur.getField("c_v"), cur.getField("c_doc")
        strict = (v > c_v) if ascending else (v < c_v)
        hits = hits.filter(cur.isNull() | strict
                           | ((v == c_v) & (F.col("doc_id") > c_doc)))
    return salted_topn(hits, ["query_id"], direction, k,
                       salt_col=F.col("doc_id"))


def facet_terms(hits: DataFrame, docs_meta: DataFrame,
                facet_fields: list[str], top_n: int = 5) -> DataFrame:
    """ES query-scoped ``terms`` aggregation twin (faceted search): bucket
    counts of metadata fields over the HIT SET of each query — what
    nearly every ES search UI requests alongside the hits. ``hits`` is
    (query_id, doc_id); each facet field buckets by value with
    ``doc_count`` = hits holding it, top-N buckets per (query, facet) by
    (doc_count desc, key asc) — the ES ``terms`` agg default order.

    Scale shape: one shuffle — the hits⨝meta join keys on doc_id and the
    bucket counts are hash aggs with map-side partials; the per-facet
    top-N is :func:`salted_topn` salted by key, so a high-cardinality
    facet (millions of distinct keys) never funnels through one task."""
    joined = hits.join(docs_meta, "doc_id")
    per_field = []
    for f in facet_fields:
        per_field.append(
            joined.groupBy("query_id",
                           F.col(f).cast("string").alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
            .withColumn("facet", F.lit(f))
        )
    buckets = per_field[0]
    for other in per_field[1:]:
        buckets = buckets.unionByName(other)
    order = (F.col("doc_count").desc(), F.col("key").asc())
    return (salted_topn(buckets, ["query_id", "facet"], order, top_n,
                        salt_col=F.col("key"))
            .select("query_id", "facet", "key", "doc_count"))


def bm25_topk(
    tf: DataFrame,
    queries: DataFrame,
    cfg: EngineConfig | None = None,
    k: int | None = None,
    code_aware: bool = False,
    stats: DataFrame | None = None,
    after: dict[int, tuple[float, int]] | None = None,
    pruned_tf: bool = False,
) -> DataFrame:
    """End-to-end exact path: tf table + (query_id, query_text) → top-k.

    Computes df/stats from the tf table itself (one pass each; in the sharded
    production plan these come precomputed from the index manifest). Pass
    ``stats`` explicitly (e.g. ``corpus_stats_from_docs``) for
    Lucene-consistent N/avgdl on corpora containing zero-token docs.
    ``pruned_tf=True`` declares that ``tf`` is already restricted to the
    query vocabulary (``term_freqs_sql(..., terms=)``): df then computes
    in-plan as a window count (see :func:`bm25_scores`), saving the
    separate dfs aggregation branch and its duplicate tokenize pipeline.
    """
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats,
        doc_freqs,
    )

    cfg = cfg or EngineConfig()
    qt = query_terms(queries, code_aware=code_aware)
    dfs = None if pruned_tf else doc_freqs(tf)
    stats = corpus_stats(tf) if stats is None else stats
    scores = bm25_scores(tf, qt, dfs, stats, cfg)
    return topk(scores, k or cfg.k, after=after)


class BoolSpec:
    """One ES ``bool`` query: term clauses by occurrence type.

    ES 7.10 bool semantics (public docs; the reference delegates ALL
    querying to ES 7.10 — ``/root/reference/handler/handler.go:95`` — and
    ``bool`` is ES's primary compound query):

    - ``must``: every clause must match; matching clauses score.
    - ``should``: optional clauses that score when they match; at least
      ``minimum_should_match`` of them must match. ES defaults msm to 1
      when the query has no must AND no filter context, 0 otherwise —
      resolved at query assembly via :meth:`effective_msm` (the filter is
      only known where the full query composes, e.g.
      ``bool_topk_indexed(doc_filter=…)``).
    - ``must_not``: matching any of these excludes the doc; never scores.

    Clauses are ES clauses, not terms: each must/should entry is either a
    bare term or a ``(term, boost)`` pair (ES per-clause ``boost``), each
    gets its own clause id, and msm/must counting is CLAUSE-indexed — a
    term duplicated across two should clauses satisfies msm twice, as in
    ES, and scores twice (Lucene sums per-clause contributions).
    """

    def __init__(self, query_id: int, must: list | None = None,
                 should: list | None = None,
                 must_not: list[str] | None = None,
                 minimum_should_match: int | None = None):
        def _norm(cl):
            out = []
            for c in (cl or []):
                if isinstance(c, (tuple, list)):
                    out.append((str(c[0]), float(c[1])))
                else:
                    out.append((str(c), 1.0))
            return out

        self.query_id = int(query_id)
        self.must_clauses = _norm(must)
        self.should_clauses = _norm(should)
        self.must_not = [c[0] if isinstance(c, (tuple, list)) else str(c)
                         for c in (must_not or [])]
        self._explicit_msm = (None if minimum_should_match is None
                              else int(minimum_should_match))
        self.minimum_should_match = self.effective_msm(has_filter=False)
        if not self.must and not self.should:
            # a pure must_not query matches (almost) the whole corpus with
            # score 0 — that is a scan, not a ranked search; candidate
            # generation here is driven by the scoring clauses
            raise ValueError(
                "bool query needs at least one must or should clause "
                "(pure must_not is unbounded); compose with filtered_topk "
                "for pure filter-context queries"
            )

    @property
    def must(self) -> list[str]:
        return [t for t, _ in self.must_clauses]

    @property
    def should(self) -> list[str]:
        return [t for t, _ in self.should_clauses]

    def effective_msm(self, has_filter: bool = False) -> int:
        """ES 7.10 ``minimum_should_match`` default resolution: an explicit
        value wins; otherwise 0 when the bool query has a must OR filter
        clause, 1 when should clauses stand alone."""
        if self._explicit_msm is not None:
            return self._explicit_msm
        if self.must_clauses or has_filter:
            return 0
        return 1 if self.should_clauses else 0


def bool_topk(
    tf: DataFrame,
    specs: list[BoolSpec],
    dfs: DataFrame | None,
    stats: DataFrame | dict,
    cfg: EngineConfig | None = None,
    k: int = 10,
    has_filter: bool = False,
) -> DataFrame:
    """ES ``bool`` compound query twin — must (AND) + should with
    ``minimum_should_match`` + must_not, over a tf table, in ONE plan.

    Physical shape (the 100 TB shape): the clauses are one plan literal
    (a JSON parameter marker, ``bool_scores_sql``) — a
    term → clause-structs map each tf row fans out through, carrying the
    clause's query's must count and msm — so the postings-sized side
    never shuffles for a join and only the df rows broadcast; per-(query,
    doc) clause counts ride as conditional aggregates INSIDE the same
    single hash aggregation that sums the score — no second agg, no
    self-join, no sort-merge anywhere (plan-regression-tested). must_not
    needs no anti-join: a matched not-clause is just another conditional
    flag the HAVING filter rejects. ``stats`` is an in-plan (n_docs,
    avgdl) frame or the stats.json dict (see :func:`bm25_scores`).

    Scoring is exactly ES: matched must/should clauses sum their BM25
    contributions times their per-clause ``boost`` (a term listed in two
    clauses is two clauses — it satisfies clause counts twice and scores
    twice, as in Lucene); must_not and the clause-count gates never
    score. msm/must gates count matched CLAUSE IDS, not distinct terms —
    a plain count, as tf holds one row per (doc, term) and a clause id
    names one term. ``has_filter`` marks ES filter context for the msm
    default (:meth:`BoolSpec.effective_msm`).
    """
    cfg = cfg or EngineConfig()
    clauses = bool_clauses(specs, has_filter)
    args = {f"t{i}": t for i, t in enumerate(sorted(clauses))}
    args.update(clauses=json.dumps(clauses), k=int(k))
    frames = {"tf": tf}
    if dfs is not None:
        frames["dfs"] = dfs
    if isinstance(stats, dict):
        n_docs = sql_number(int(stats["n_docs"]))
        avgdl = sql_number(float(stats["avgdl"]))
    else:
        frames["stats"] = stats
        n_docs, avgdl = "s.n_docs", "s.avgdl"
    text = topk_sql(bool_scores_sql(
        cfg, "{tf}", "{dfs}" if dfs is not None else None,
        ", ".join(f":t{i}" for i in range(len(clauses))), ":clauses",
        n_docs, avgdl, "{stats}" if "stats" in frames else None), ":k")
    return tf.sparkSession.sql(text, args, **frames)


# one bool clause: the fan-out row each of its term's tf rows carries
CLAUSES_DDL = ("map<string, array<struct<query_id: bigint, clause_id: int, "
               "role: string, boost: double, n_must: int, msm: int>>>")


def bool_clauses(specs: list[BoolSpec],
                 has_filter: bool = False) -> dict[str, list[dict]]:
    """term → the clauses naming it (``CLAUSES_DDL``), with the clause's
    query's must count and effective msm."""
    clauses: dict[str, list[dict]] = {}
    for s in specs:
        roles = ([(t, "must", b) for t, b in s.must_clauses]
                 + [(t, "should", b) for t, b in s.should_clauses]
                 + [(t, "not", 0.0) for t in s.must_not])
        for cid, (t, role, b) in enumerate(roles):
            clauses.setdefault(t, []).append({
                "query_id": s.query_id, "clause_id": cid, "role": role,
                "boost": float(b), "n_must": len(s.must_clauses),
                "msm": s.effective_msm(has_filter)})
    return clauses


def bool_scores_sql(cfg: EngineConfig, tf: str, dfs: str | None,
                    terms: str, clauses: str, n_docs: str, avgdl: str,
                    stats: str | None = None,
                    df_map: str | None = None,
                    query_id: str = "c.query_id") -> str:
    """SQL text of :func:`bool_topk`'s kept (query_id, doc_id, score) rows
    before ranking, over the relations ``tf`` (doc_id, term, tf, dl) and
    ``dfs`` (term, df). With no ``dfs``, df is looked up in ``df_map``, a
    driver-side ``{term: df}`` JSON value (:func:`df_lookup_sql`; the
    stored path), or else counted in-plan by a window over the
    term-pruned tf. ``terms`` is the clause term list (empty: no rows),
    ``clauses`` a ``CLAUSES_DDL`` JSON value; ``stats`` an optional 1-row
    relation that ``n_docs``/``avgdl`` read as ``s``. ``query_id`` is the
    row's query id: the clause's by default, or one query's id as a
    literal, so that a single-query ranking needs no query-keyed
    exchange."""
    if df_map is not None:
        # ``terms`` holds only terms the dictionary has: an unseen
        # clause term has no postings, the same drop the dfs join makes
        src = f"(SELECT * FROM {tf} WHERE {sql_in('term', terms)}) t"
        df, hints = df_lookup_sql(df_map, "t.term"), []
    elif dfs is None:
        # df in-plan as a window count — ONLY for term-pruned tf (see
        # bm25_scores); unseen clause terms simply have no tf rows, the
        # same drop the dfs join performs
        src = (f"(SELECT doc_id, term, tf, dl, count(1) OVER (PARTITION BY "
               f"term) AS df FROM {tf} WHERE {sql_in('term', terms)}) t")
        df, hints = "t.df", []
    else:  # unseen terms drop at the df join, as in ES
        src = (f"(SELECT * FROM {tf} WHERE {sql_in('term', terms)}) t "
               f"JOIN (SELECT term, df FROM {dfs} "
               f"WHERE {sql_in('term', terms)}) d "
               f"ON t.term = d.term")
        df, hints = "d.df", ["BROADCAST(d)"]
    if stats is not None:
        src += f" CROSS JOIN {stats} s"
        hints.append("BROADCAST(s)")
    hint = f"/*+ {', '.join(hints)} */ " if hints else ""
    score = bm25_term_sql(cfg, "t.tf", "t.dl", df, n_docs, avgdl)
    return (
        "SELECT query_id, doc_id, score FROM (SELECT query_id, doc_id, "
        "sum(term_score) AS score, "
        "count(CASE WHEN role = 'must' THEN clause_id END) AS nm, "
        "count(CASE WHEN role = 'should' THEN clause_id END) AS ns, "
        "max(CAST(role = 'not' AS INT)) AS has_not, "
        "max(n_must) AS n_must, max(msm) AS msm FROM ("
        f"SELECT {hint}t.doc_id, {query_id} AS query_id, c.clause_id, "
        "c.role, c.n_must, c.msm, CASE WHEN c.role <> 'not' "
        f"THEN c.boost * ({score}) ELSE 0.0D END AS term_score "
        f"FROM {src} LATERAL VIEW inline(element_at(from_json({clauses}, "
        f"'{CLAUSES_DDL}'), t.term)) c) GROUP BY query_id, doc_id) "
        "WHERE nm = n_must AND ns >= msm AND has_not = 0")


def multi_match_topk(
    docs: DataFrame,
    field_boosts: dict[str, float],
    queries: DataFrame,
    cfg: EngineConfig | None = None,
    k: int | None = None,
    code_aware: bool = False,
    mode: str = "most_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES ``multi_match`` twin — the reference's ES index holds multiple
    searchable fields per document (title, summary, keywords:
    ``/root/reference/models/elastic.go:4-28``), and multi-field scoring
    is bread-and-butter ES usage this engine must cover. All three
    documented ES 7.10 modes:

    - ``most_fields``: each field scores as an independent BM25 index
      (its OWN df, dl, avgdl), document score = Σ_field boost_f·BM25_f.
    - ``best_fields``: the single best field wins; other matching fields
      contribute through ``tie_breaker``: score = max_f + tb·Σ(others)
      — Lucene's DisMax combination. tb=0 is pure dis-max, tb=1 equals
      most_fields.
    - ``cross_fields``: term statistics BLEND across fields — implemented
      as the BM25F-style combined field (ES exposes the same shape as the
      ``combined_fields`` query): tf' = Σ_f boost_f·tf_f, dl' = Σ_f
      boost_f·dl_f, df' = docs containing the term in ANY field, one BM25
      over the blended stats. Fixes most/best_fields' failure mode where
      a name split across fields ("first: John", "last: Smith") can't
      out-score one field containing both.

    Pure Catalyst throughout: per-field branches over the same scan union
    into one (query, doc) hash agg (most/best), or the weighted tf union
    feeds a single blended scorer (cross)."""
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )

    cfg = cfg or EngineConfig()
    qt = query_terms(queries, code_aware=code_aware)
    if mode == "cross_fields":
        return _cross_fields_topk(docs, field_boosts, qt, cfg, k,
                                  code_aware=code_aware)
    combined = multi_match_scores(docs, field_boosts, qt, cfg, mode=mode,
                                  tie_breaker=tie_breaker,
                                  code_aware=code_aware)
    return topk(combined, k or cfg.k)


def multi_match_scores(docs: DataFrame, field_boosts: dict[str, float],
                       qt: DataFrame, cfg: EngineConfig | None = None,
                       mode: str = "most_fields", tie_breaker: float = 0.0,
                       code_aware: bool = False) -> DataFrame:
    """Raw (unrounded, unranked) multi_match combination — the scoring
    core of :func:`multi_match_topk`, exposed so composers (the ES DSL
    planner, rescore, dis_max) can reuse it before their own ranking.
    ``qt`` is the analyzed (query_id, term) frame."""
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )

    cfg = cfg or EngineConfig()
    if mode not in ("most_fields", "best_fields"):
        raise ValueError(f"unknown multi_match mode {mode!r}")
    per_field = []
    for field, boost in field_boosts.items():
        tf = term_freqs_sql(docs, id_col="doc_id", text_col=field,
                            code_aware=code_aware)
        dfs = doc_freqs(tf)
        stats = corpus_stats_from_docs(docs, text_col=field,
                                       code_aware=code_aware)
        s = bm25_scores(tf, qt, dfs, stats, cfg).withColumn(
            "score", F.col("score") * F.lit(float(boost)))
        per_field.append(s)
    union = per_field[0]
    for s in per_field[1:]:
        union = union.unionByName(s)
    if mode == "most_fields":
        return union.groupBy("query_id", "doc_id").agg(
            F.sum("score").alias("score"))
    # best_fields: max + tie_breaker * (sum − max), one agg
    return union.groupBy("query_id", "doc_id").agg(
        (F.max("score")
         + F.lit(float(tie_breaker))
         * (F.sum("score") - F.max("score"))).alias("score"))


def _cross_fields_topk(docs, field_boosts, qt, cfg, k,
                       code_aware: bool = False) -> DataFrame:
    """Blended-statistics scorer behind multi_match(mode='cross_fields').

    Plan shape: per-field tf branches (weighted) union → one (doc, term)
    agg; candidates filter to query terms via the broadcast qt join BEFORE
    the per-doc blended-dl join, so the only docs-sized join input is the
    dl frame itself (content-free projection). At stored-index scale the
    fielded index keeps per-field dl in its postings and this join disappears —
    this is the dataflow form."""
    from dp_search_data_importer_spark.functions.tokenize import (
        tokenize_code_expr,
        tokenize_expr,
    )
    from dp_search_data_importer_spark.operators.postings import (
        term_freqs_sql,
    )

    tok = tokenize_code_expr if code_aware else tokenize_expr
    parts = []
    for field, boost in field_boosts.items():
        tf_f = term_freqs_sql(docs, id_col="doc_id", text_col=field,
                              code_aware=code_aware)
        parts.append(tf_f.select(
            "doc_id", "term",
            (F.col("tf").cast("double") * F.lit(float(boost))).alias("wtf")))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    combined = union.groupBy("doc_id", "term").agg(
        F.sum("wtf").alias("tf"))
    # blended per-doc length: Σ_f boost_f·|tokens_f| in ONE projection
    dl_expr = None
    for field, boost in field_boosts.items():
        piece = F.when(F.col(field).isNull(), F.lit(0.0)).otherwise(
            F.size(tok(field)).cast("double")) * F.lit(float(boost))
        dl_expr = piece if dl_expr is None else dl_expr + piece
    dld = docs.select("doc_id", dl_expr.alias("dl"))
    stats = dld.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"))
    dfs = combined.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    cand = (combined.join(F.broadcast(qt.join(dfs, "term")), "term")
            .join(dld, "doc_id")
            .join(F.broadcast(stats)))
    scored = cand.withColumn(
        "term_score",
        bm25_term_score("tf", "dl", "df", "n_docs", "avgdl", cfg))
    out = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score").alias("score"))
    return topk(out, k or cfg.k)


def dis_max_scores(branches: list[DataFrame],
                   tie_breaker: float = 0.0) -> DataFrame:
    """ES ``dis_max`` query twin over ARBITRARY subqueries — the general
    form of which ``multi_match(best_fields)`` is the per-field special
    case. Each branch is any scored frame (query_id, doc_id, score): a
    match query, a phrase query, a fielded query… Per (query, doc):
    score = max(branch scores) + tie_breaker · Σ(other branch scores) —
    Lucene's DisjunctionMaxQuery combination (tie_breaker=0 is pure
    dis-max, 1.0 degenerates to a plain should-sum).

    Scale shape: union of the branch plans into ONE hash agg with
    map-side partials — no join between branches, no window."""
    union = branches[0]
    for b in branches[1:]:
        union = union.unionByName(b)
    return union.groupBy("query_id", "doc_id").agg(
        (F.max("score")
         + F.lit(float(tie_breaker))
         * (F.sum("score") - F.max("score"))).alias("score"))


def rescore_topk(base: DataFrame, rescorer: DataFrame, window_size: int,
                 k: int, query_weight: float = 1.0,
                 rescore_weight: float = 1.0) -> DataFrame:
    """ES ``rescore`` twin: re-rank only the top ``window_size`` hits of
    a cheap first-pass query with an expensive second query — the
    standard ES pattern for phrase-boosting a match query without paying
    phrase cost on the full corpus. Final score (ES ``total`` score
    mode): query_weight·base + rescore_weight·rescore, docs outside the
    window keep their base ranking but can no longer enter the top-k
    ahead of rescored docs only if their base score ranks them there —
    exactly ES semantics: the window is selected by base order, then the
    whole window re-sorts by the combined score.

    ``base``/``rescorer``: (query_id, doc_id, score) frames. Rounding
    snaps BEFORE window selection (same determinism contract as
    :func:`topk`), and the rescore join is a left join so window docs
    the rescorer does not match keep score = qw·base.

    Scale shape: window selection is the existing top-k machinery (the
    per-query window over candidates); the rescore join then touches
    only |queries|·window_size rows — the whole point of rescoring. At
    stored-index scale the rescorer runs over ONLY the window doc set
    (pushed semi-join), never the corpus."""
    window = topk(base, window_size)
    joined = window.withColumnRenamed("score", "base_score").join(
        rescorer.withColumnRenamed("score", "re_score"),
        ["query_id", "doc_id"], "left")
    combined = joined.select(
        "query_id", "doc_id",
        (F.lit(float(query_weight)) * F.col("base_score")
         + F.lit(float(rescore_weight))
         * F.coalesce(F.col("re_score"), F.lit(0.0))).alias("score"))
    return topk(combined, k)
