"""Query engine over the built index (SURVEY.md §3.1 query lifecycle).

Every stored read goes through ONE postings reader, :func:`load_blocks`:
a parquet scan of ``postings/`` rows (term, doc_id, tf, dl[, positions])
with the known schema and the query's ``term IN (...)`` pushed down. Rows
are (term, doc_id)-sorted within each shard's file, but a shard file of a
few thousand docs is ONE row group whose ``term`` min/max spans nearly
the whole vocabulary, so statistics skip nothing at that size: the
dictionary filter drops a shard file holding none of the query terms,
and otherwise the pushed filter drops the other terms' rows after they
are read (a hot+rare ``match`` on a 4k-doc, 8-shard index read 318,311
of 342,194 postings rows; 16–64 KiB row groups left its warm execute
time unchanged). The shard-dir layout prunes nothing for queries (all
shards hold all terms) but gives the fan-out axis. Document frequencies
never enter a statement as a relation: :func:`term_dfs` looks them up
on the driver, so no request runs a job to fetch df.

Each stored request compiles to ONE parameterized Spark SQL statement
(:class:`_Statement`): the entry points ``search_indexed`` reaches
(:func:`exact_topk`, :func:`filtered_topk`, :func:`bool_topk_indexed`,
the prefix/wildcard/regexp/fuzzy expansions and :func:`_match_hits`)
write SQL text over the index's ``postings`` and ``docs`` readers
(``term_df`` only where the dictionary is scanned: the wildcard, regexp
and fuzzy expansions; a prefix is one term range, read on the driver),
which are registered as temp views once per index ``version`` under one
view name per index path (a new version replaces the view set, so the
catalog stays bounded across an ingest stream). No request value is
spliced into the text: terms, patterns, cursors, bool clause maps and
df maps (JSON) are named parameter markers, bound as literals
before optimization, so ``term IN (:t0, …)`` still pushes into the
postings scan (PushedFilters); a filter-context Column predicate enters
as a docs frame. Building a plan is then one parse and
one analysis on the JVM instead of ~20 eagerly analyzed DataFrame calls.
The BM25 term formula and the round-then-rank top-k are SQL text shared
with the DataFrame operators (``operators/bm25.py``). Scoring is Catalyst
expressions over the pruned rows → windowed top-k: no Python worker runs
on any stored read path. ``docs/`` is touched only for filter context and
to resolve the final ≤ k·|queries| winners back to (repo, path, commit) —
never joined against postings-sized data.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp_search_data_importer_spark.checkpoint import read_stats_json
from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.operators.bm25 import (
    bm25_term_sql,
    bool_clauses,
    bool_scores_sql,
    cursor_rows,
    df_lookup_sql,
    sql_in,
    sql_number,
    topk_sql,
)
from dp_search_data_importer_spark.plans.build_index import (
    POSTINGS_SCHEMA,
    TERM_DF_SCHEMA,
)
from dp_search_data_importer_spark.session import cached_plan
from dp_search_data_importer_spark.sources.tables import footer_schema

# a query batch: (query_id, query_text) rows, as a frame or held on the
# driver (the stored paths tokenize on the driver either way)
Queries = DataFrame | list[tuple[int, str]]


def load_blocks(spark: SparkSession, out_dir: str,
                terms: list[str] | None = None) -> DataFrame:
    """The one postings reader: ``POSTINGS_SCHEMA`` rows of the index at
    ``out_dir``, read with their known schema (no schema-inference job);
    ``terms`` pushes a ``term IN (...)`` filter into the scan. An index
    whose stats.json records no current postings format is refused
    (``read_stats_json``), which also rolls an interrupted upsert commit
    forward first, so the read path never serves a MIXED pre/post
    index."""
    read_stats_json(out_dir)
    df = spark.read.schema(POSTINGS_SCHEMA).parquet(
        os.path.join(out_dir, "postings"))
    if terms is not None:
        df = df.filter(F.col("term").isin(terms))
    return df


def load_term_df(spark: SparkSession, out_dir: str,
                 terms: list[str] | None = None) -> DataFrame:
    """The stored term dictionary (term, df), read with its known schema
    (no schema-inference job); ``terms`` pushes a term filter into the
    scan."""
    df = spark.read.schema(TERM_DF_SCHEMA).parquet(
        os.path.join(out_dir, "term_df"))
    if terms is not None:
        df = df.filter(F.col("term").isin(terms))
    return df


def _term_df_groups(out_dir: str, overlaps):
    """The stored dictionary's (term, df) row groups whose ``term``
    min/max range passes ``overlaps(min, max)``, read on the driver with
    pyarrow. ``term_df`` is written term-ordered with bounded row groups
    (``build_index.write_term_df``), so each file and row group holds a
    disjoint term range and a term lookup or a prefix reads only the row
    groups its range meets, however large the dictionary. Callers roll an
    interrupted commit forward first (``recover_for_read``)."""
    import glob

    import pyarrow.parquet as pq

    for path in sorted(glob.glob(os.path.join(out_dir, "term_df",
                                              "*.parquet"))):
        f = pq.ParquetFile(path)
        col = f.schema_arrow.get_field_index("term")
        for rg in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(rg).column(col).statistics
            # str order is code point order, which is the UTF-8 byte
            # order parquet's min/max statistics use
            if (st is None or not st.has_min_max
                    or overlaps(st.min, st.max)):
                yield f.read_row_group(rg, columns=["term", "df"])


def term_dfs(out_dir: str, terms: list[str]) -> dict[str, int]:
    """{term: df} of the ``terms`` the stored dictionary holds, read on
    the driver (:func:`_term_df_groups`) after any interrupted commit has
    rolled forward: at most one row group per distinct term."""
    import bisect

    import pyarrow.compute as pc

    from dp_search_data_importer_spark.plans.update_index import (
        recover_for_read,
    )

    recover_for_read(out_dir)
    want = sorted(set(terms))
    found: dict[str, int] = {}
    if not want:
        return found
    for t in _term_df_groups(out_dir, lambda lo, hi: bisect.bisect_left(
            want, lo) < bisect.bisect_right(want, hi)):
        t = t.filter(pc.field("term").isin(want))
        found.update(zip(t["term"].to_pylist(), t["df"].to_pylist()))
    return found


def _prefix_expansions(out_dir: str, prefix: str, n: int) -> list[str]:
    """The top ``n`` dictionary terms starting with ``prefix`` by (df
    desc, term asc), read on the driver (:func:`_term_df_groups`): a
    prefix is the one contiguous term range [prefix, prefix + U+10FFFF),
    so only the row groups it meets are read, and the running top ``n``
    is all that is kept between them."""
    import heapq

    import pyarrow.compute as pc

    end = prefix + "\U0010ffff"
    best: list[tuple[int, str]] = []
    for t in _term_df_groups(out_dir,
                             lambda lo, hi: hi >= prefix and lo < end):
        t = t.filter(pc.starts_with(t["term"], prefix))
        best = heapq.nsmallest(n, [*best, *zip(
            [-d for d in t["df"].to_pylist()], t["term"].to_pylist())])
    return [term for _, term in best]


def load_docs(spark: SparkSession, out_dir: str) -> DataFrame:
    """The stored docs table. Its columns follow the build's input, so
    the schema comes from one file's footer, where the writer recorded
    its Spark schema — read on the driver, not by a schema-inference
    job — plus the ``shard`` partition column."""
    import glob

    path = os.path.join(out_dir, "docs")
    if not glob.glob(os.path.join(path, "shard=*", "*.parquet")):
        return spark.read.parquet(path)
    return spark.read.schema(footer_schema(path).add("shard", "integer")) \
        .parquet(path)


def decompress_blocks(rows: DataFrame,
                      include_positions: bool = False) -> DataFrame:
    """Postings rows → (doc_id, term, tf, dl[, positions]): a projection,
    so the scan below it reads only these columns."""
    return rows.select("doc_id", "term", "tf", "dl",
                       *(["positions"] if include_positions else []))


def _query_term_pairs(queries: Queries,
                      code_aware: bool) -> list[tuple[int, str]]:
    """Distinct (query_id, term) pairs tokenized DRIVER-side with the
    property-tested Python twins of the analyzers (same discipline as
    ``phrase_topk``): the query batch is a driver-sized frame by contract
    (interactive query sets), so collecting it and tokenizing in Python
    replaces a Spark job (explode+distinct+collect) per request with
    driver work. The pairs enter the statement as parameter markers: the
    term list pushes into the postings scan, and query ids attach by a
    term → query ids map, so no query-term table is
    broadcast."""
    from dp_search_data_importer_spark.functions.tokenize import (
        _code_tokens_py,
        _simple_tokens_py,
    )

    tok = _code_tokens_py if code_aware else _simple_tokens_py
    if isinstance(queries, DataFrame):
        queries = queries.select("query_id", "query_text").collect()
    return sorted({(int(qid), t) for qid, text in queries
                   for t in tok(text or "")})


# ---------------------------------------------------------------------------
# the compiled statement

_READERS = {"postings": load_blocks, "term_df": load_term_df,
            "docs": load_docs}


def index_view(spark: SparkSession, out_dir: str, table: str,
               stats: dict) -> str:
    """The temp view over the ``table`` reader (postings, term_df, docs)
    of the index at ``out_dir``: one name per index path. The reader is a
    :func:`cached_plan` keyed on the index ``version`` and registers the
    view when it is built — once per version while it stays cached — so
    a new version replaces the view, and plans built on the old one keep
    their own analyzed reader."""
    path = os.path.abspath(out_dir)
    name = (f"fts_{hashlib.sha1(path.encode()).hexdigest()[:16]}"
            f"_{table}")

    def build():
        reader = _READERS[table](spark, out_dir)
        reader.createOrReplaceTempView(name)
        return reader

    cached_plan(spark, ("index_view", path, table, stats["version"]), build)
    return name


class _Statement:
    """One stored request's parameters: ``bind`` names a value as a
    marker, and ``run`` hands the finished SQL text and the markers to
    ``spark.sql`` in one call."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.args: dict = {}
        self.frames: dict[str, DataFrame] = {}

    def bind(self, prefix: str, value) -> str:
        name = f"{prefix}{len(self.args)}"
        self.args[name] = value
        return f":{name}"

    def terms(self, terms: list[str]) -> str:
        return ", ".join(self.bind("t", t) for t in terms)

    def run(self, text: str) -> DataFrame:
        return self.spark.sql(text, self.args, **self.frames)


def _query_id_sql(st: _Statement, pairs: list[tuple[int, str]],
                  term: str) -> str:
    """query_id of a ``term`` row: one query's id, or a batch's fan-out
    ``explode(<term → query ids map>[term])``."""
    qids = sorted({q for q, _ in pairs})
    if len(qids) <= 1:
        return (f"CAST({st.bind('q', qids[0])} AS BIGINT)" if qids
                else "CAST(NULL AS BIGINT)")
    by_term: dict[str, list[int]] = {}
    for q, t in sorted(pairs):
        by_term.setdefault(t, []).append(int(q))
    qmap = st.bind("qids", json.dumps(by_term))
    return (f"explode(element_at(from_json({qmap}, "
            f"'map<string, array<bigint>>'), {term}))")


def _postings_sql(st: _Statement, out_dir: str, stats: dict,
                  doc_filter=None, broadcast_limit: int = 2_000_000) -> str:
    """The postings relation of a statement: the index view, semi-joined
    to the docs matching the Column predicate ``doc_filter`` when one is
    given, which enters the statement as a frame. The broadcast hint is gated on size: |allowed| ≤ n_docs, so
    a small corpus needs no count job at all; only a big corpus pays one
    count over the pushed predicate on the content-free docs table."""
    postings = index_view(st.spark, out_dir, "postings", stats)
    if doc_filter is None:
        return postings
    st.frames["allowed"] = load_docs(st.spark, out_dir) \
        .filter(doc_filter).select("doc_id")
    allowed = "{allowed}"
    small = stats.get("n_docs", 0) <= broadcast_limit or st.run(
        f"SELECT count(1) FROM {allowed}").collect()[0][0] <= broadcast_limit
    hint = "/*+ BROADCAST(a) */ " if small else ""
    return (f"(SELECT {hint}p.* FROM {postings} p LEFT SEMI JOIN {allowed} "
            f"a ON p.doc_id = a.doc_id)")


def _scores_sql(st: _Statement, out_dir: str, stats: dict,
                pairs: list[tuple[int, str]], cfg: EngineConfig,
                postings: str | None = None) -> str:
    """SQL text of BM25 (query_id, doc_id, score) over the stored index
    for driver-side (query_id, term) pairs: the query terms' df come from
    :func:`term_dfs` and bind as one map marker, so the postings scan
    joins nothing; the terms the dictionary holds push into the postings
    scan (a term it lacks has no postings and drops here, as in ES), and
    the corpus stats are literals. ``postings`` is the candidate relation
    (:func:`_postings_sql`; default: the whole postings view)."""
    postings = postings or index_view(st.spark, out_dir, "postings", stats)
    dfs = term_dfs(out_dir, [t for _, t in pairs])
    pairs = [(q, t) for q, t in pairs if t in dfs]
    score = bm25_term_sql(
        cfg, "p.tf", "p.dl",
        df_lookup_sql(st.bind("dfs", json.dumps(dfs)), "p.term"),
        sql_number(int(stats["n_docs"])), sql_number(float(stats["avgdl"])))
    return (
        f"SELECT query_id, doc_id, sum(term_score) AS score FROM (SELECT "
        f"p.doc_id, {_query_id_sql(st, pairs, 'p.term')} AS query_id, "
        f"{score} AS term_score FROM {postings} p "
        f"WHERE {sql_in('p.term', st.terms(sorted(dfs)))}) "
        f"GROUP BY query_id, doc_id")


def _topk_statement(spark: SparkSession, out_dir: str, stats: dict,
                    pairs: list[tuple[int, str]], cfg: EngineConfig,
                    k: int, after: dict | None = None, doc_filter=None,
                    broadcast_limit: int = 2_000_000) -> DataFrame:
    """The statement behind the OR-scored entry points: BM25 scores →
    round-then-rank top-k, with an optional cursor and filter."""
    st = _Statement(spark)
    scores = _scores_sql(st, out_dir, stats, pairs, cfg, _postings_sql(
        st, out_dir, stats, doc_filter, broadcast_limit))
    cursor = (st.bind("after", json.dumps(cursor_rows(after)))
              if after else None)
    return st.run(topk_sql(scores, st.bind("k", int(k)),
                           cursor_json=cursor))


def exact_topk(spark: SparkSession, out_dir: str, queries: Queries,
               cfg: EngineConfig | None = None, k: int | None = None,
               after: dict[int, tuple[float, int]] | None = None) -> DataFrame:
    """Exact path over the stored index. The query analyzer follows the
    index's recorded analyzer (stats.json code_aware) — analyzer symmetry.
    ``after`` paginates (ES ``search_after`` twin — see
    ``operators.bm25.topk``): the cursor predicate applies before the
    window, so page n never re-materializes pages 1..n−1. The plan is
    cached on the index ``version``."""
    cfg = cfg or EngineConfig()
    k = k or cfg.k
    stats = read_stats_json(out_dir)
    pairs = _query_term_pairs(queries, stats.get("code_aware", False))

    def build():
        return _topk_statement(spark, out_dir, stats, pairs, cfg, k, after)

    return cached_plan(spark, ("exact_topk", out_dir, stats["version"],
                               tuple(pairs), repr(cfg), k,
                               repr(sorted((after or {}).items()))), build)


def wand_topk(spark: SparkSession, out_dir: str, queries: Queries,
              cfg: EngineConfig | None = None, k: int | None = None) -> DataFrame:
    """The former block-max WAND entry point, kept for its callers: the
    postings hold no blocks to skip, and the block-max kernel never beat
    the exact path it had to match, so this is :func:`exact_topk`."""
    return exact_topk(spark, out_dir, queries, cfg, k)


def expand_terms(spark: SparkSession, out_dir: str, pattern: str,
                 mode: str = "prefix", max_edits: int = 1,
                 max_expansions: int = 50) -> list[str]:
    """Expand a query token against the term dictionary — the ES
    prefix/fuzzy/wildcard/regexp query families. Expansion is capped like
    ES's ``max_expansions`` (highest-df terms win, then term order: most
    selective rankings need the common completions first). ``prefix`` is
    one term range of the term-ordered dictionary, read on the driver
    (:func:`_prefix_expansions`), so it runs no Spark job; the other
    modes scan the dictionary in one statement — ``fuzzy`` by Catalyst
    ``levenshtein`` with an early length-window prune, ``wildcard`` and
    ``regexp`` by Java regex ``RLIKE``."""
    from dp_search_data_importer_spark.plans.update_index import (
        recover_for_read,
    )

    recover_for_read(out_dir)  # never expand against a mid-commit term_df
    if mode == "prefix":
        return _prefix_expansions(out_dir, pattern, int(max_expansions))
    st = _Statement(spark)
    if mode == "fuzzy":
        pred = (f"length(term) >= {st.bind('lo', len(pattern) - max_edits)}"
                f" AND length(term) <= {st.bind('hi', len(pattern) + max_edits)}"
                f" AND levenshtein(term, {st.bind('p', pattern)})"
                f" <= {st.bind('e', max_edits)}")
    elif mode == "wildcard":
        # ES wildcard query: * = any run, ? = one char, anchored both ends
        pred = f"term RLIKE {st.bind('p', wildcard_to_regex(pattern))}"
    elif mode == "regexp":
        # ES regexp query is anchored (matches the WHOLE term)
        pred = f"term RLIKE {st.bind('p', f'^(?:{pattern})$')}"
    else:  # pragma: no cover
        raise ValueError(f"unknown expansion mode {mode!r}")
    tdf = index_view(spark, out_dir, "term_df", read_stats_json(out_dir))
    rows = st.run(f"SELECT term FROM {tdf} WHERE {pred} "
                  f"ORDER BY df DESC, term ASC "
                  f"LIMIT {st.bind('n', int(max_expansions))}").collect()
    return [r["term"] for r in rows]


def wildcard_to_regex(pattern: str) -> str:
    """ES wildcard pattern (``*`` any run, ``?`` one char) → an anchored
    regex using only constructs shared by Java regex and RE2, so the SQL
    oracle can apply the identical expression."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def _expanded_topk(spark: SparkSession, out_dir: str, tokens: list[str],
                   mode: str, cfg: EngineConfig | None, k: int | None,
                   max_edits: int = 1) -> DataFrame:
    cfg = cfg or EngineConfig()
    terms = sorted({
        t for tok in tokens
        for t in expand_terms(spark, out_dir, tok, mode, max_edits)
    })
    return _topk_statement(spark, out_dir, read_stats_json(out_dir),
                           [(1, t) for t in terms], cfg, k or cfg.k)


def expand_synonyms(tokens: list[str],
                    synonyms: dict[str, list[str]]) -> list[str]:
    """Query-time synonym expansion (ES analyzer synonym-filter twin):
    each analyzed query token expands to itself plus its dictionary
    synonyms; the result is the OR term set the scorer sees. Pure
    driver-side literal work — the dictionary is a broadcast-sized plan
    constant, exactly like the prefix/fuzzy expansions."""
    out: list[str] = []
    seen: set[str] = set()
    for t in tokens:
        for term in [t, *synonyms.get(t, [])]:
            if term not in seen:
                seen.add(term)
                out.append(term)
    return out


def synonym_topk(spark: SparkSession, out_dir: str,
                 queries: list[tuple[int, str]],
                 synonyms: dict[str, list[str]],
                 cfg: EngineConfig | None = None,
                 k: int | None = None) -> DataFrame:
    """ES query-time synonym search over the stored index: analyzer →
    per-token synonym expansion → standard OR-set BM25 (each synonym
    scores with its OWN df, the ES synonym-filter OR form). Same plan
    discipline as the other expansions: the expanded term set pushes into
    the postings scan, df binds as one map marker."""
    cfg = cfg or EngineConfig()
    stats = read_stats_json(out_dir)
    pairs = sorted({
        (qid, term)
        for qid, t in _query_term_pairs(queries,
                                        stats.get("code_aware", False))
        for term in expand_synonyms([t], synonyms)
    })
    return _topk_statement(spark, out_dir, stats, pairs, cfg, k or cfg.k)


def prefix_topk(spark: SparkSession, out_dir: str, prefixes: list[str],
                cfg: EngineConfig | None = None,
                k: int | None = None) -> DataFrame:
    """ES prefix-query twin: every dictionary term starting with any given
    prefix contributes BM25 mass; standard exact scoring over the expanded
    term set (term filter still pushed into the postings scan)."""
    return _expanded_topk(spark, out_dir, prefixes, "prefix", cfg, k)


def fuzzy_topk(spark: SparkSession, out_dir: str, tokens: list[str],
               cfg: EngineConfig | None = None, k: int | None = None,
               max_edits: int = 1) -> DataFrame:
    """ES fuzzy-query twin (edit distance ≤ max_edits via Catalyst
    levenshtein over the dictionary, length-window pruned)."""
    return _expanded_topk(spark, out_dir, tokens, "fuzzy", cfg, k, max_edits)


def wildcard_topk(spark: SparkSession, out_dir: str, patterns: list[str],
                  cfg: EngineConfig | None = None,
                  k: int | None = None) -> DataFrame:
    """ES wildcard-query twin: every dictionary term matching any ``*``/
    ``?`` pattern joins the OR set, scored with its own df (capped like
    ES ``max_expansions``, highest-df completions first). Dictionary scan
    only — the postings scan still receives the expanded literal term
    set as a pushed filter."""
    return _expanded_topk(spark, out_dir, patterns, "wildcard", cfg, k)


def regexp_topk(spark: SparkSession, out_dir: str, patterns: list[str],
                cfg: EngineConfig | None = None,
                k: int | None = None) -> DataFrame:
    """ES regexp-query twin (whole-term anchored, as ES documents)."""
    return _expanded_topk(spark, out_dir, patterns, "regexp", cfg, k)


def bool_topk_indexed(spark: SparkSession, out_dir: str, specs,
                      cfg: EngineConfig | None = None,
                      k: int | None = None, doc_filter=None,
                      broadcast_limit: int = 2_000_000) -> DataFrame:
    """ES ``bool`` query over the STORED index: same operator as
    :func:`operators.bm25.bool_topk`, fed from the stored postings
    with the clause terms (must + should + must_not — the not-clauses
    need their postings too, to flag exclusions) that the dictionary
    holds pushed into the scan as a term filter, and their df bound as
    one map marker (:func:`term_dfs`).

    ``doc_filter`` adds the bool query's FILTER clause (ES filter
    context): a metadata predicate on the docs table that gates
    candidates before scoring and never contributes to the score —
    composed exactly like :func:`filtered_topk` (size-gated broadcast
    semi-join before the agg), completing the full ES bool surface
    (must + should/msm + must_not + filter) in one call."""
    cfg = cfg or EngineConfig()
    stats = read_stats_json(out_dir)
    terms = sorted({
        t for s in specs for t in (s.must + s.should + s.must_not)
    })
    st = _Statement(spark)
    tf = _postings_sql(st, out_dir, stats, doc_filter, broadcast_limit)
    # filter context is known HERE, so the ES msm default resolves here:
    # a should-only spec under a filter defaults to msm=0 (ES 7.10), not 1
    clauses = bool_clauses(specs, has_filter=doc_filter is not None)
    dfs = term_dfs(out_dir, terms)
    # one query's id binds as a literal, as a match's does
    # (_query_id_sql): its ranking then needs no query-keyed exchange
    qids = sorted({s.query_id for s in specs})
    qid = (f"CAST({st.bind('q', qids[0])} AS BIGINT)" if len(qids) == 1
           else "c.query_id")
    scores = bool_scores_sql(
        cfg, tf, None, st.terms(sorted(dfs)),
        st.bind("clauses", json.dumps(clauses)),
        sql_number(int(stats["n_docs"])), sql_number(float(stats["avgdl"])),
        df_map=st.bind("dfs", json.dumps(dfs)), query_id=qid)
    return st.run(topk_sql(scores, st.bind("k", int(k or cfg.k))))


def resolve_docs(spark: SparkSession, out_dir: str, results: DataFrame) -> DataFrame:
    """Map winning doc_ids back to (repo, path, commit, lang) — the engine's
    analogue of the reference returning ES `_id`-keyed documents. Winner set
    is tiny → broadcast it against the docs table."""
    docs = load_docs(spark, out_dir)
    return F.broadcast(results).join(
        docs.select("doc_id", "repo", "path", "commit", "lang"), "doc_id", "inner"
    )


def build_fielded_index(spark: SparkSession, docs: DataFrame, out_dir: str,
                        field_boosts: dict[str, float],
                        cfg: EngineConfig | None = None,
                        **build_kwargs) -> dict:
    """Multi-field STORED index (ES parity: the reference's documents are
    multi-field — title/summary/keywords): one independent sub-index per
    field under ``<out>/fields/<name>/`` (own postings/df/avgdl, exactly
    Lucene's per-field statistics), boosts recorded alongside. ``docs``
    must carry ``doc_id`` plus one text column per field; rows where a
    field is empty simply index no terms there."""
    import json

    from dp_search_data_importer_spark.plans.build_index import build_index

    cfg = cfg or EngineConfig()
    stats = {}
    for field in field_boosts:
        stats[field] = build_index(
            spark, docs.select("doc_id", F.col(field).alias("content")),
            os.path.join(out_dir, "fields", field), cfg,
            already_normalized=True, **build_kwargs)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "fields.json"), "w") as f:
        json.dump({"boosts": {k: float(v) for k, v in field_boosts.items()}},
                  f, indent=2, sort_keys=True)
    return stats


def fielded_topk(spark: SparkSession, out_dir: str, queries: Queries,
                 cfg: EngineConfig | None = None,
                 k: int | None = None) -> DataFrame:
    """ES ``multi_match``/``most_fields`` over the stored fielded index:
    each field scores independently through the standard exact path (term
    filter pushed into ITS postings scan), boost-weighted scores sum per
    (query, doc), rounded-score deterministic top-k."""
    import json

    cfg = cfg or EngineConfig()
    with open(os.path.join(out_dir, "fields.json")) as f:
        boosts = json.load(f)["boosts"]
    st = _Statement(spark)
    per_field = []
    for field, boost in boosts.items():
        fdir = os.path.join(out_dir, "fields", field)
        stats = read_stats_json(fdir)
        pairs = _query_term_pairs(queries, stats.get("code_aware", False))
        per_field.append(
            f"SELECT query_id, doc_id, score * {sql_number(float(boost))} "
            f"AS score FROM ({_scores_sql(st, fdir, stats, pairs, cfg)})")
    summed = (f"SELECT query_id, doc_id, sum(score) AS score FROM "
              f"({' UNION ALL '.join(per_field)}) GROUP BY query_id, doc_id")
    return st.run(topk_sql(summed, st.bind("k", int(k or cfg.k))))


def filtered_topk(spark: SparkSession, out_dir: str, queries: Queries,
                  doc_filter, cfg: EngineConfig | None = None,
                  k: int | None = None,
                  broadcast_limit: int = 2_000_000) -> DataFrame:
    """ES bool-query ``filter`` twin: score only documents matching a
    metadata predicate (e.g. ``F.col("lang") == "py"``) — the filter does
    NOT contribute to the score, exactly like ES filter context.

    Plan shape at scale: the predicate evaluates on the docs table
    (content-free, column-pruned), the surviving doc_id set joins
    left-semi against the candidate postings BEFORE scoring — candidates
    are term-pruned already, so the semi-join input is small, and the
    window top-k runs on filtered rows only (a post-filter would
    under-fill k). The broadcast hint is GATED on size: a broad filter
    (e.g. a language matching most of a web corpus) can survive with
    millions of ids, and force-broadcasting that OOMs the driver — when
    the corpus (or, if needed, a count of the surviving set) exceeds
    ``broadcast_limit``, the hint is dropped and AQE picks the join
    strategy (shuffle semi-join with runtime stats)."""
    cfg = cfg or EngineConfig()
    stats = read_stats_json(out_dir)
    pairs = _query_term_pairs(queries, stats.get("code_aware", False))
    return _topk_statement(spark, out_dir, stats, pairs, cfg, k or cfg.k,
                           doc_filter=doc_filter,
                           broadcast_limit=broadcast_limit)


def filter_topk(spark: SparkSession, out_dir: str, doc_filter, *,
                k: int, must_not: list[str] | None = None) -> DataFrame:
    """ES ``bool`` with filter context only (no must or should clause):
    the docs matching the Column predicate ``doc_filter``, less those
    holding a ``must_not`` term, every one at score 0 — so the top ``k``
    are the lowest doc ids, as every ranked path breaks ties. An
    ``ORDER BY … LIMIT`` keeps a per-partition top-k, where a window over
    one score would put every filtered doc in one task."""
    stats = read_stats_json(out_dir)
    st = _Statement(spark)
    st.frames["allowed"] = load_docs(spark, out_dir) \
        .filter(doc_filter).select("doc_id")
    excluded = ""
    if must_not:
        excluded = (
            f" LEFT ANTI JOIN (SELECT doc_id FROM "
            f"{index_view(spark, out_dir, 'postings', stats)} WHERE "
            f"{sql_in('term', st.terms(sorted(set(must_not))))}) x "
            f"ON a.doc_id = x.doc_id")
    return st.run(
        f"SELECT CAST(0 AS BIGINT) AS query_id, a.doc_id, "
        f"CAST(0.0 AS DOUBLE) AS score FROM {{allowed}} a{excluded} "
        f"ORDER BY a.doc_id LIMIT {st.bind('k', int(k))}")


def _match_hits(spark: SparkSession, out_dir: str,
                queries: Queries) -> DataFrame:
    """Hit set of an ES ``match`` query over the stored index: distinct
    (query_id, doc_id) where the doc contains ≥1 query term — candidates
    come from the term-pruned postings scan, never a corpus scan. The
    query is tokenized on the driver, like every other stored path."""
    stats = read_stats_json(out_dir)
    pairs = _query_term_pairs(queries, stats.get("code_aware", False))
    st = _Statement(spark)
    tin = st.terms(sorted({t for _, t in pairs}))
    return st.run(
        f"SELECT DISTINCT query_id, doc_id FROM (SELECT doc_id, "
        f"{_query_id_sql(st, pairs, 'term')} AS query_id FROM "
        f"{index_view(spark, out_dir, 'postings', stats)} "
        f"WHERE {sql_in('term', tin)})")


def sorted_topk(spark: SparkSession, out_dir: str, queries: Queries,
                sort_field: str, ascending: bool = False,
                k: int = 10,
                after: dict[int, tuple] | None = None) -> DataFrame:
    """ES sort-by-field over the stored index (``"sort": [{field:
    desc}]``): the match hit set ordered by a docs-table metadata field
    with doc_id tie-break, composing with ``search_after`` pagination.

    Plan shape: term-pruned postings give the hits; the sort field comes
    from the content-free ``docs/`` table (column-pruned scan) via a
    doc_id-keyed join (AQE picks the strategy — the hit set of a broad
    query is NOT broadcastable); the ranking is the salted two-phase
    window in :func:`operators.bm25.sort_topk`."""
    from dp_search_data_importer_spark.operators.bm25 import sort_topk

    hits = _match_hits(spark, out_dir, queries)
    meta = load_docs(spark, out_dir).select(
        "doc_id", sort_field)
    return sort_topk(hits.join(meta, "doc_id"), sort_field, k,
                     ascending=ascending, after=after)


def facet_counts(spark: SparkSession, out_dir: str, queries: Queries,
                 facet_fields: list[str], top_n: int = 5) -> DataFrame:
    """ES query-scoped ``terms`` aggregations (facets) over the stored
    index: bucket counts of metadata fields across each query's full hit
    set — the aggregation side of faceted search. Hit set and metadata
    access follow the same pruned-scan discipline as :func:`sorted_topk`."""
    from dp_search_data_importer_spark.operators.bm25 import facet_terms

    hits = _match_hits(spark, out_dir, queries)
    meta = load_docs(spark, out_dir).select(
        "doc_id", *facet_fields)
    return facet_terms(hits, meta, facet_fields, top_n=top_n)


def sliced_scroll(spark: SparkSession, out_dir: str, text: str,
                  n_slices: int, *, operator: str = "or",
                  resolve: bool = True) -> DataFrame:
    """ES sliced scroll twin — the parallel-export path: the FULL match
    hit set (not top-k) split into ``n_slices`` independent slices by
    ``slice_id = pmod(doc_id, max)`` (ES slices a scroll by a hash of
    ``_id`` mod ``max``; pmod on the already-hashed doc_id is the same
    contract: disjoint, exhaustive, uniform). Each slice is internally
    ordered by doc_id, so a consumer can checkpoint/resume a slice with a
    strict-after cursor exactly like ``search_after``.

    This is the operator a 10^12-file export runs instead of deep
    pagination: slices are embarrassingly parallel (no coordination, no
    global sort, no window), the matching side is the same term-pruned
    postings scan every query uses, and ``resolve=True`` joins the winners
    to the content-free docs table for (repo, path, commit) — column
    pruned, AQE-planned. Contrast: ``search_after`` serializes the scan
    through one cursor chain; N slices divide the wall-clock by N."""
    from dp_search_data_importer_spark.plans.update_index import match_ids

    if n_slices < 1:
        raise ValueError("n_slices must be >= 1")
    ids = match_ids(spark, out_dir, text, operator=operator)
    if ids is None:
        raise ValueError(f"query tokenizes to nothing: {text!r}")
    out = ids.withColumn(
        "slice_id", F.pmod(F.col("doc_id"), F.lit(int(n_slices))).cast("int"))
    if resolve:
        # NOT resolve_docs: that broadcasts its input (right for a top-k
        # winner set, wrong for a full export hit set — a broad query's
        # hits are corpus-sized). Plain doc_id equi-join; AQE plans it.
        docs = load_docs(spark, out_dir).select(
            "doc_id", "repo", "path", "commit", "lang")
        out = out.join(docs, "doc_id")
    return out.repartition(n_slices, "slice_id") \
        .sortWithinPartitions("slice_id", "doc_id")


def explain_score(spark: SparkSession, out_dir: str, text: str,
                  doc_id: int, cfg: EngineConfig | None = None) -> DataFrame:
    """ES ``GET /index/_explain/{id}`` twin: the per-term BM25 breakdown
    of one document's score for one query — (term, tf, dl, df, idf,
    tf_norm, contribution), contributions summing to the document's
    ``exact_topk`` score (same formula, same statistics: df from
    :func:`term_dfs`, bound as one map marker). The plan is the standard
    term-pruned postings scan PLUS a doc_id pushdown, so the explain of
    one doc reads only that doc's rows of the query terms — never the
    hit set."""
    cfg = cfg or EngineConfig()
    stats = read_stats_json(out_dir)
    dfs = term_dfs(out_dir, [t for _, t in _query_term_pairs(
        [(0, text)], stats.get("code_aware", False))])
    st = _Statement(spark)
    n_docs = sql_number(int(stats["n_docs"]))
    avgdl = sql_number(float(stats["avgdl"]))
    idf = f"ln(1.0D + ({n_docs} - df + 0.5D) / (df + 0.5D))"
    tf_norm = (f"CAST(tf AS DOUBLE) * {sql_number(cfg.k1 + 1.0)} / "
               f"(CAST(tf AS DOUBLE) + {sql_number(float(cfg.k1))} * "
               f"({sql_number(1.0 - cfg.b)} + {sql_number(float(cfg.b))} "
               f"* CAST(dl AS DOUBLE) / {avgdl}))")
    score = bm25_term_sql(cfg, "tf", "dl", "df", n_docs, avgdl)
    return st.run(
        f"SELECT term, tf, dl, df, round({idf}, 6) AS idf, "
        f"round({tf_norm}, 6) AS tf_norm, round({score}, 6) AS contribution "
        f"FROM (SELECT term, tf, dl, "
        f"{df_lookup_sql(st.bind('dfs', json.dumps(dfs)), 'term')} AS df "
        f"FROM {index_view(spark, out_dir, 'postings', stats)} "
        f"WHERE {sql_in('term', st.terms(sorted(dfs)))} "
        f"AND doc_id = {st.bind('d', int(doc_id))}) ORDER BY term")
