"""ES ``_search`` request-body planner: JSON in, Spark plan out.

The reference service never interprets queries itself — every search
request its consumers send is ES 7.10 ``_search`` JSON, forwarded
verbatim (``/root/reference/handler/handler.go:95``; the indexed document
shape is ``models/elastic.go:4-28``). This module closes the loop on the
"a user of the reference could switch" goal: it accepts that SAME request
body and compiles it onto this engine's operators, so the query surface
is reachable through the interface consumers already speak, not only
through per-operator Python calls.

Supported body keys: ``query`` (match [+operator and/or,
minimum_should_match int/negative/percent — the distinct-matched-term
gate rides the score aggregation; fuzziness int/AUTO via per-token
dictionary expansion], match_all, match_phrase [+slop],
match_phrase_prefix, match_bool_prefix, multi_match [3 modes], term,
terms, ids, range, exists, script [filter-by-Painless-predicate, the
Kibana filter shape], prefix, wildcard, regexp, fuzzy, bool [must/should/
must_not/filter, minimum_should_match, per-clause boost], dis_max,
constant_score,
boosting, function_score [field_value_factor; functions array with
filter/weight/gauss/linear/exp decay, score_mode, boost_mode,
max_boost], script_score [restricted Painless subset compiled to one
Catalyst Column — ``plans/painless``], pinned), ``size``, ``min_score``,
``search_after``, ``sort`` (_score or single metadata field + _id
tie-break), ``rescore``, ``collapse``, ``_source`` / ``fields`` /
``docvalue_fields`` (response shaping: requested doc columns join onto
the hits frame — hits-sized broadcast join; default stays id+score,
the documented divergence), ``aggs`` (terms [+top_hits
sub-agg, `missing` param, null keys dropped by default], histogram,
date_histogram [calendar/fixed interval, empty buckets filled per
min_doc_count:0, metric sub-aggs], significant_terms [JLH over the hit
set], filters [named buckets, one
conditional-sum pass], global [escapes query scope], missing, range,
stats, extended_stats, percentiles, cardinality, composite [+after],
pipeline aggs [derivative, serial_diff, cumulative_sum, moving_fn,
bucket_sort, bucket_selector under date_histogram/histogram/terms;
sibling avg/sum/min/max/stats_bucket via buckets_path]), ``highlight`` (token-granularity
snippets over the HIT set for the query's scoring terms), ``suggest``
(completion + term suggesters over the field's term dictionary).
``EsSearchPlanner.msearch`` is the ``_msearch`` endpoint twin: plain
match bodies batch per field into one shared scoring job.

Documented divergences (each chosen for scale-sane Spark semantics):

- term/terms/range/exists/ids in SCORING context behave as if wrapped in
  ``constant_score`` (score = boost). ES additionally BM25-scores term
  queries on text fields; for metadata/keyword predicates — their actual
  use — constant_score is ES-equivalent practice.
- prefix/wildcard/regexp/fuzzy rewrite to the expanded OR-term set and
  BM25-score it (ES ``rewrite: scoring_boolean``), with the same
  df-desc/term-asc ``max_expansions`` cap as ``plans/query.expand_terms``.
- ``nested`` compiles in FILTER context to an ``F.exists`` higher-order
  element lambda (term/terms/range/exists + bool composition on element
  fields — no explode, no shuffle); scoring context applies the
  constant_score fallback (ES score_mode reductions over inner hits are
  not reproduced).

Scale shape: a request has a BOUNDED clause count, so the plan is a
bounded composition of scans the planner memoizes per field (one tf/dfs/
stats/positions build per field per request, shared across clauses). A
text clause over a literal term set scores in one statement that
tokenizes each row once and takes df from one keyless aggregate
(``EsSearchPlanner._score_terms``). Compound scoring is union → ONE
hash agg (map-side partials); filter
context applies as broadcast-or-shuffle semi-joins that never touch
scores; per-key ranking reuses ``operators/bm25.salted_topn``. Aggregations
run over the hit SET (doc_id frame), exactly the ES execution model. At
stored-index scale the same request compiles against ``plans/query``
(``load_blocks``) — this dataflow form is the semantics reference and
the streaming-ingest side's query twin."""
from __future__ import annotations

import re as _re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.operators.bm25 import (
    ROUND_DIGITS,
    salted_topn,
)


class EsDslError(ValueError):
    """Malformed or unsupported ES request body."""


@dataclass
class SearchResult:
    """Lazy result of a compiled ``_search`` request: DataFrames, not
    rows — callers choose when/where to materialize."""
    hits: DataFrame
    aggregations: dict[str, DataFrame] = dc_field(default_factory=dict)
    highlights: DataFrame | None = None
    suggestions: dict[str, DataFrame] = dc_field(default_factory=dict)
    #: collapse inner_hits: (group key col, doc_id, score, hit_rank)
    #: for the groups on the returned page; None unless requested
    inner_hits: DataFrame | None = None


def _as_list(x):
    return x if isinstance(x, list) else [x]


def _parse_msm(v, n_terms: int) -> int:
    """ES single-value ``minimum_should_match`` forms against ``n_terms``
    optional clauses: positive int (as-is), negative int (n − |v|),
    percentage (floor of pct·n, negative = n − floor(|pct|·n)). A value
    above ``n_terms`` is kept as-is — impossible to satisfy, so the query
    matches nothing, as in ES. Floors/clamps follow the ES docs
    (query-dsl-minimum-should-match, 7.10)."""
    s = str(v).strip()
    try:
        if s.endswith("%"):
            pct = float(s[:-1])
            k = int(n_terms * abs(pct) / 100.0)
            need = k if pct >= 0 else n_terms - k
        else:
            iv = int(s)
            need = iv if iv >= 0 else n_terms + iv
    except ValueError as e:
        raise EsDslError(f"bad minimum_should_match {v!r}") from e
    return max(need, 1)


def _bucket_metric_col(path: str, cols) -> str:
    """Resolve an ES ``buckets_path`` leaf against a bucket frame's
    columns: ``_count`` is the doc count, anything else must be a metric
    (or earlier pipeline) column already on the frame."""
    col = "doc_count" if path in ("_count", "doc_count") else path
    if col not in cols:
        raise EsDslError(
            f"buckets_path {path!r} does not resolve to a bucket column "
            f"(have {sorted(c for c in cols if c != 'key')})")
    return col


class EsSearchPlanner:
    """Compiles ES ``_search`` bodies over a documents DataFrame.

    ``docs`` must carry ``id_col``; text fields are analyzed with the
    standard tokenizer (``functions/tokenize.py``). One planner instance
    memoizes per-field statistics frames across clauses and requests —
    they are lazy plans, so nothing executes until the caller acts, with
    one exception: the first BM25-scored search on a field runs one job
    that collects its (n_docs, avgdl) row (:meth:`stats_row`), which every
    later scored plan on that field carries as literals.

    Every text clause that reduces to a literal term set — ``match``
    (operator and, minimum_should_match, fuzziness), ``match_bool_prefix``,
    ``query_string`` and the prefix/wildcard/regexp/fuzzy leaves, and so
    the bool/highlight/aggs requests built on them — scores through
    :meth:`_score_terms`: one statement that reads each row's per-term
    counts and one keyless df aggregate, never a (doc, term) table."""

    def __init__(self, spark: SparkSession, docs: DataFrame,
                 cfg: EngineConfig | None = None,
                 text_fields: tuple[str, ...] = ("text",),
                 id_col: str = "doc_id",
                 max_expansions: int = 50):
        self.spark = spark
        self.docs = docs
        self.cfg = cfg or EngineConfig()
        self.text_fields = tuple(text_fields)
        self.id_col = id_col
        self.max_expansions = max_expansions
        self._tf: dict[str, DataFrame] = {}
        self._dfs: dict[str, DataFrame] = {}
        self._stats: dict[str, DataFrame] = {}
        self._stats_row: dict[str, tuple[int, float]] = {}
        self._pos: dict[str, DataFrame] = {}
        self._toks: dict[str, DataFrame] = {}
        self._qid = 0

    # ---------------------------------------------------------------- stats

    def tf(self, field: str) -> DataFrame:
        from dp_search_data_importer_spark.operators.postings import (
            term_freqs_sql,
        )

        if field not in self._tf:
            self._tf[field] = term_freqs_sql(
                self.docs, id_col=self.id_col, text_col=field)
        return self._tf[field]

    def dfs(self, field: str) -> DataFrame:
        from dp_search_data_importer_spark.operators.postings import doc_freqs

        if field not in self._dfs:
            self._dfs[field] = doc_freqs(self.tf(field))
        return self._dfs[field]

    def stats(self, field: str) -> DataFrame:
        from dp_search_data_importer_spark.operators.postings import (
            corpus_stats_from_docs,
        )

        if field not in self._stats:
            self._stats[field] = corpus_stats_from_docs(
                self.docs, text_col=field)
        return self._stats[field]

    def stats_row(self, field: str) -> tuple[int, float]:
        if field not in self._stats_row:
            r = self.stats(field).collect()[0]
            self._stats_row[field] = (r["n_docs"], r["avgdl"])
        return self._stats_row[field]

    def pos(self, field: str,
            terms: list[str] | None = None) -> DataFrame:
        from dp_search_data_importer_spark.operators.phrase import (
            doc_positions,
        )

        if terms is not None:
            # term-pruned positions: the caller's slot set is a known
            # literal, so the collect_list agg runs over those terms'
            # postings only (guide §2.3). Not memoized — each term set is
            # its own (much smaller) frame.
            return doc_positions(self.docs, id_col=self.id_col,
                                 text_col=field, terms=terms)
        if field not in self._pos:
            self._pos[field] = doc_positions(
                self.docs, id_col=self.id_col, text_col=field)
        return self._pos[field]

    def _next_qid(self) -> int:
        self._qid += 1
        return self._qid

    def _tokens(self, text: str) -> list[str]:
        import re

        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    # -------------------------------------------------------------- scoring

    def _score_terms(self, field: str, terms: list[str],
                     boost: float = 1.0,
                     min_match: int | None = None) -> DataFrame:
        """BM25 OR-score a literal term set against one field, as one
        parameterized statement over the docs (a frame argument) with the
        terms as markers. Each row is tokenized once (``tokenize_expr``):
        ``dl`` is its token count and ``tf<i>`` the count of query term i
        in its token array, pruned to the query terms first; a row holding
        none of them emits nothing. The candidate rows pass ONE exchange
        that the scorer and the df aggregate both read (the second read
        is a ``ReusedExchange``): df is a single keyless aggregate,
        ``count_if(tf<i> > 0)`` per term, partial per task, bound into the
        score as a scalar subquery — no token explode, no (doc, term)
        aggregation, no term-keyed exchange, so a hot term has no key to
        skew. (n_docs, avgdl) are literals from the memoized
        :meth:`stats_row`. ``min_match`` (ES match operator=and /
        minimum_should_match) keeps rows with ≥ that many distinct matched
        terms; an unseen term has tf 0 on every row, so under
        operator=and nothing matches, as in ES.

        Both gates are one-row-or-none generators, not ``WHERE`` filters:
        Catalyst pushes a filter through the projections into the scan,
        re-tokenizing the text once per term, and a gate above the
        exchange would push below it and split the exchange the df side
        reads. ``dl`` rides in the exchange's key for the same reason:
        column pruning would drop it from the df side's copy."""
        from dp_search_data_importer_spark.functions.tokenize import (
            tokenize_expr,
        )
        from dp_search_data_importer_spark.operators.bm25 import (
            bm25_term_sql,
            sql_number,
        )
        from dp_search_data_importer_spark.plans.query import _Statement
        from dp_search_data_importer_spark.session import local_df

        if not terms:
            return local_df(self.spark, [], "doc_id long, score double")
        terms = sorted(set(terms))
        n_docs, avgdl = self.stats_row(field)
        if field not in self._toks:
            self._toks[field] = self.docs.select(
                F.col(self.id_col).alias("doc_id"),
                tokenize_expr(field).alias("toks"))
        st = _Statement(self.spark)
        st.frames["docs"] = self._toks[field]
        marks = [st.bind("t", t) for t in terms]
        tfs = [f"tf{i}" for i in range(len(terms))]
        # an empty table's avgdl is null, and it has no rows to score
        n, avg = sql_number(int(n_docs)), sql_number(float(avgdl or 0.0))
        score = " + ".join(
            f"IF({tf} > 0, "
            f"{bm25_term_sql(self.cfg, tf, 'dl', 'd.' + tf, n, avg)}, 0.0D)"
            for tf in tfs)
        if boost != 1.0:
            score = f"({score}) * {sql_number(float(boost))}"
        text = (
            f"WITH cand AS (SELECT doc_id, dl, "
            + ", ".join(f"size(filter(q, x -> x = {m})) AS {tf}"
                        for m, tf in zip(marks, tfs))
            + f" FROM (SELECT doc_id, toks, filter(toks, x -> x IN "
            f"({', '.join(marks)})) AS q FROM {{docs}}) LATERAL VIEW "
            f"explode(IF(size(q) > 0, array(size(toks)), array())) AS dl "
            f"DISTRIBUTE BY doc_id, dl), "
            f"scored AS (SELECT doc_id, {score} AS score, "
            + " + ".join(f"CAST({tf} > 0 AS INT)" for tf in tfs)
            + " AS matched FROM (SELECT *, (SELECT named_struct("
            + ", ".join(f"'{tf}', count_if({tf} > 0)" for tf in tfs)
            + ") FROM cand) AS d FROM cand)) ")
        if min_match is None or min_match <= 1:
            return st.run(text + "SELECT doc_id, score FROM scored")
        return st.run(
            text + f"SELECT doc_id, s AS score FROM scored LATERAL VIEW "
            f"explode(IF(matched >= {st.bind('need', int(min_match))}, "
            f"array(score), array())) AS s")

    def _expand(self, field: str, pattern: str, mode: str,
                max_edits: int = 1) -> list[str]:
        """Dictionary expansion with the ES max_expansions cap, df desc /
        term asc (the expand_terms order) — the dataflow-form twin of
        ``plans/query.expand_terms``."""
        from dp_search_data_importer_spark.plans.query import (
            wildcard_to_regex,
        )

        tdf = self.dfs(field)
        if mode == "prefix":
            hits = tdf.filter(F.col("term").startswith(pattern))
        elif mode == "wildcard":
            hits = tdf.filter(F.col("term").rlike(wildcard_to_regex(pattern)))
        elif mode == "regexp":
            hits = tdf.filter(F.col("term").rlike(f"^(?:{pattern})$"))
        elif mode == "fuzzy":
            hits = tdf.filter(
                (F.length("term") >= F.lit(len(pattern) - max_edits))
                & (F.length("term") <= F.lit(len(pattern) + max_edits))
                & (F.levenshtein(F.col("term"), F.lit(pattern)) <= max_edits))
        else:  # pragma: no cover
            raise EsDslError(f"unknown expansion mode {mode!r}")
        rows = (hits.orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(self.max_expansions).collect())
        return [r["term"] for r in rows]

    @staticmethod
    def _field_spec(node: dict, *keys: str):
        """Unpack the {field: value-or-dict} leaf shape shared by most ES
        leaf queries; returns (field, value, params-dict)."""
        pairs = [(k, v) for k, v in node.items() if k != "boost"]
        if len(pairs) != 1:
            raise EsDslError(f"leaf query needs exactly one field: {node}")
        field, spec = pairs[0]
        if isinstance(spec, dict):
            main = None
            for k in keys:
                if k in spec:
                    main = spec[k]
                    break
            return field, main, spec
        return field, spec, {}

    def score(self, node: dict) -> DataFrame:
        """Compile a query node in SCORING context → (doc_id, score),
        raw/unrounded — matched docs only."""
        if not isinstance(node, dict) or len(node) != 1:
            raise EsDslError(f"query node must have exactly one key: {node}")
        (kind, spec), = node.items()
        h = getattr(self, f"_score_{kind}", None)
        if h is None:
            if getattr(self, f"_match_{kind}", None) is not None:
                # filter-family leaf in scoring context: constant_score
                boost = float(spec.get("boost", 1.0)) \
                    if isinstance(spec, dict) else 1.0
                return self.filter(node).withColumn(
                    "score", F.lit(boost))
            raise EsDslError(f"unsupported query type {kind!r}")
        return h(spec)

    def filter(self, node: dict) -> DataFrame:
        """Compile a query node in FILTER context → distinct (doc_id);
        scores are discarded (ES filter context: no score, cacheable)."""
        if not isinstance(node, dict) or len(node) != 1:
            raise EsDslError(f"query node must have exactly one key: {node}")
        (kind, spec), = node.items()
        h = getattr(self, f"_match_{kind}", None)
        if h is not None:
            return h(spec)
        return self.score(node).select("doc_id").distinct()

    # scoring leaves ---------------------------------------------------

    def _score_match_all(self, spec: dict) -> DataFrame:
        boost = float((spec or {}).get("boost", 1.0))
        return self.docs.select(F.col(self.id_col).alias("doc_id"),
                                F.lit(boost).alias("score"))

    def _score_match(self, spec: dict) -> DataFrame:
        """ES ``match``: OR-sum BM25 by default; ``operator: "and"``
        requires every distinct query term present;
        ``minimum_should_match`` (int / negative int / percentage,
        the ES single-value forms) requires ≥ that many distinct terms.
        The gate is one count column on the existing score aggregation —
        no extra join. ES applies msm only when operator is "or"."""
        field, text, params = self._field_spec(spec, "query")
        boost = float(params.get("boost", spec.get("boost", 1.0))
                      if isinstance(params, dict) else 1.0)
        toks = self._tokens(str(text))
        n = len(set(toks))
        need: int | None = None
        op = str(params.get("operator", "or")).lower() \
            if isinstance(params, dict) else "or"
        if op == "and":
            need = n
        elif op != "or":
            raise EsDslError(f"match operator must be and/or: {op!r}")
        elif isinstance(params, dict) \
                and params.get("minimum_should_match") is not None:
            need = _parse_msm(params["minimum_should_match"], n)
        fz = params.get("fuzziness") if isinstance(params, dict) else None
        if fz is not None:
            # ES match fuzziness: each token rewrites to its fuzzy
            # dictionary expansion (AUTO: <3 chars exact, 3-5 one edit,
            # ≥6 two — the documented AUTO:3,6 breakpoints), all
            # expansions OR-scored as themselves (our scoring_boolean
            # divergence). The matched-term gate counts expansions, not
            # source tokens, so operator=and / msm compose ambiguously
            # with fuzziness — rejected loudly rather than silently
            # miscounted.
            if need is not None:
                raise EsDslError("fuzziness with operator=and / "
                                 "minimum_should_match is unsupported")

            def edits(t: str) -> int:
                if str(fz).upper() == "AUTO":
                    return 0 if len(t) < 3 else (1 if len(t) < 6 else 2)
                return int(fz)

            terms: list[str] = []
            for t in toks:
                e = edits(t)
                terms += [t] if e == 0 else self._expand(
                    field, t, "fuzzy", e)
            return self._score_terms(field, terms, boost)
        return self._score_terms(field, toks, boost, min_match=need)

    def _score_multi_match(self, spec: dict) -> DataFrame:
        from dp_search_data_importer_spark.operators.bm25 import (
            _cross_fields_topk,
            multi_match_scores,
            query_terms,
        )
        from dp_search_data_importer_spark.session import local_df

        text = spec["query"]
        mode = spec.get("type", "best_fields")
        tb = float(spec.get("tie_breaker", 0.0))
        fb: dict[str, float] = {}
        for f_ in spec.get("fields", list(self.text_fields)):
            if "^" in f_:
                name, b = f_.split("^", 1)
                fb[name] = float(b)
            else:
                fb[f_] = 1.0
        qid = self._next_qid()
        qdf = local_df(self.spark, [(qid, str(text))],
                       "query_id long, query_text string")
        qt = query_terms(qdf)
        if mode == "cross_fields":
            # _cross_fields_topk ranks; strip its rounding-free top-k by
            # requesting a huge k, then drop qid (request-bounded sizes)
            return _cross_fields_topk(
                self.docs, fb, qt, self.cfg, 2 ** 31 - 1).drop("query_id")
        return multi_match_scores(self.docs, fb, qt, self.cfg, mode=mode,
                                  tie_breaker=tb).drop("query_id")

    def _phrase_frame(self, spec: dict, prefix: bool) -> DataFrame:
        from dp_search_data_importer_spark.operators.phrase import (
            expand_prefix_terms,
            phrase_matches_batch,
            phrase_matches_batch_slop,
            phrase_prefix_matches_batch,
            phrase_score_batch,
        )

        field, text, params = self._field_spec(spec, "query")
        toks = self._tokens(str(text))
        if not toks:
            raise EsDslError(f"empty phrase: {spec}")
        qid = self._next_qid()
        # exact/slop phrases know their vocabulary up front → term-pruned
        # positions; the prefix form needs the term dictionary to expand
        # first, so it keeps the full frame
        pos = self.pos(field) if prefix else self.pos(
            field, terms=sorted(set(toks)))
        if prefix:
            expansions = expand_prefix_terms(
                self.tf(field).select("term").distinct(), toks[-1],
                max_expansions=int(params.get("max_expansions",
                                              self.max_expansions)))
            m = phrase_prefix_matches_batch(
                pos, [(qid, toks[:-1], expansions)])
        else:
            slop = int(params.get("slop", 0))
            if slop:
                m = phrase_matches_batch_slop(pos, [(qid, toks, slop)])
            else:
                m = phrase_matches_batch(pos, [(qid, toks)])
        # stats as a broadcast 1-row frame: no eager collect per request
        out = phrase_score_batch(m, cfg=self.cfg,
                                 stats=self.stats(field)).drop("query_id")
        boost = float(params.get("boost", 1.0))
        if boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(boost))
        return out

    def _score_match_phrase(self, spec: dict) -> DataFrame:
        return self._phrase_frame(spec, prefix=False)

    def _score_match_phrase_prefix(self, spec: dict) -> DataFrame:
        return self._phrase_frame(spec, prefix=True)

    def _score_match_bool_prefix(self, spec: dict) -> DataFrame:
        """ES ``match_bool_prefix`` (search-as-you-type): every token but
        the last as plain OR terms, the last expanded as a prefix —
        one union term set through the SAME single scoring aggregation
        (our documented scoring_boolean rewrite for expansions). No
        position constraint — that is ``match_phrase_prefix``."""
        field, text, params = self._field_spec(spec, "query")
        toks = self._tokens(str(text))
        if not toks:
            raise EsDslError(f"empty match_bool_prefix: {spec}")
        terms = toks[:-1] + self._expand(field, toks[-1], "prefix")
        return self._score_terms(field, terms,
                                 float(params.get("boost", 1.0)))

    # span family -----------------------------------------------------

    def _span_slot(self, node: dict) -> tuple[str, list[str]]:
        """A span leaf → (field, term-set): ``span_term`` is a singleton
        slot, ``span_or`` of span_terms the union slot. Values pass
        through the analyzer (one token — analyzer symmetry with the
        indexed terms; raw-byte term-level values would silently miss)."""
        (kind, spec), = node.items()
        if kind == "span_term":
            field, val, _ = self._field_spec(spec, "value", "term")
            toks = self._tokens(str(val))
            if len(toks) != 1:
                raise EsDslError(
                    f"span_term value must analyze to one token: {val!r}")
            return field, toks
        if kind == "span_or":
            fields, terms = set(), []
            for c in _as_list(spec["clauses"]):
                f_, ts = self._span_slot(c)
                fields.add(f_)
                terms += ts
            if len(fields) != 1:
                raise EsDslError("span_or clauses must share one field")
            return fields.pop(), sorted(set(terms))
        raise EsDslError(
            f"span clauses must be span_term or span_or, got {kind!r}")

    def _span_tree(self, node: dict) -> tuple[str, list, int, int | None]:
        """A span node → (field, slots, slop, end_limit); span_near
        nests span_term/span_or clauses, span_first wraps any of them."""
        (kind, spec), = node.items()
        if kind == "span_near":
            if not bool(spec.get("in_order", True)):
                raise EsDslError(
                    "unordered span_near routes through "
                    "_score_span_near, not the ordered tree")
            fields, slots = set(), []
            for c in _as_list(spec["clauses"]):
                f_, ts = self._span_slot(c)
                fields.add(f_)
                slots.append(ts)
            if len(fields) != 1:
                raise EsDslError("span_near clauses must share one field")
            return fields.pop(), slots, int(spec.get("slop", 0)), None
        if kind == "span_first":
            field, slots, slop, _ = self._span_tree(spec["match"])
            return field, slots, slop, int(spec["end"])
        field, terms = self._span_slot(node)
        return field, [terms], 0, None

    def _span_score(self, matches: DataFrame, field: str,
                    boost: float) -> DataFrame:
        from dp_search_data_importer_spark.operators.phrase import (
            phrase_score_batch,
        )

        # stats as a broadcast 1-row frame: no eager collect per request
        out = phrase_score_batch(
            matches.withColumnRenamed("span_tf", "phrase_tf"),
            cfg=self.cfg, stats=self.stats(field)).drop("query_id")
        if boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(boost))
        return out

    def _score_span(self, node_kind: str, spec: dict) -> DataFrame:
        from dp_search_data_importer_spark.operators.spans import (
            span_matches_batch,
        )

        field, slots, slop, end = self._span_tree({node_kind: spec})
        # slot vocabulary is literal → term-pruned positions (§2.3)
        vocab = sorted({t for slot in slots for t in slot})
        m = span_matches_batch(self.pos(field, terms=vocab),
                               [(self._next_qid(), slots, slop, end)])
        return self._span_score(m, field,
                                float(spec.get("boost", 1.0))
                                if isinstance(spec, dict) else 1.0)

    def _score_span_term(self, spec: dict) -> DataFrame:
        return self._score_span("span_term", spec)

    def _score_span_or(self, spec: dict) -> DataFrame:
        return self._score_span("span_or", spec)

    def _score_span_near(self, spec: dict) -> DataFrame:
        if not bool(spec.get("in_order", True)):
            # unordered: window-cover semantics (all clauses inside a
            # length n+slop window; tf = covering window ends — stated
            # exactly in operators/spans, oracle-replayed)
            from dp_search_data_importer_spark.operators.spans import (
                span_unordered_matches_batch,
            )

            fields, slots = set(), []
            for c in _as_list(spec["clauses"]):
                f_, ts = self._span_slot(c)
                fields.add(f_)
                slots.append(ts)
            if len(fields) != 1:
                raise EsDslError("span_near clauses must share one field")
            field = fields.pop()
            m = span_unordered_matches_batch(
                self.pos(field,
                         terms=sorted({t for s in slots for t in s})),
                [(self._next_qid(), slots, int(spec.get("slop", 0)))])
            return self._span_score(m, field,
                                    float(spec.get("boost", 1.0)))
        return self._score_span("span_near", spec)

    def _score_span_first(self, spec: dict) -> DataFrame:
        return self._score_span("span_first", spec)

    def _intervals_slots(self, node: dict) -> tuple[list, int]:
        """An intervals RULE → (slots, max_gaps). Supported: ``match``
        (ordered: true for multi-token queries — unordered interval
        matching is the same unimplemented minimal-window problem as
        unordered span_near), ``any_of`` of single-slot rules (the
        union slot), ``all_of`` (ordered: true) of single-slot rules.
        ``max_gaps`` −1 (the ES default) = unbounded."""
        (kind, spec), = node.items()
        if kind == "match":
            toks = self._tokens(str(spec["query"]))
            if not toks:
                raise EsDslError("empty intervals match")
            return [[t] for t in toks], int(spec.get("max_gaps", -1))
        if kind == "any_of":
            terms = []
            for child in _as_list(spec["intervals"]):
                slots, _ = self._intervals_slots(child)
                if len(slots) != 1:
                    raise EsDslError(
                        "any_of children must be single-position rules")
                terms += slots[0]
            return [sorted(set(terms))], -1
        if kind == "all_of":
            slots = []
            for child in _as_list(spec["intervals"]):
                cs, cg = self._intervals_slots(child)
                if cg not in (-1, 0) and len(cs) > 1:
                    raise EsDslError(
                        "nested max_gaps inside all_of is not "
                        "supported — set it on the all_of")
                slots += cs
            return slots, int(spec.get("max_gaps", -1))
        raise EsDslError(f"unsupported intervals rule {kind!r}")

    def _score_intervals(self, spec: dict) -> DataFrame:
        """ES ``intervals`` query (the modern span surface) routed onto
        the same batch span machinery: ordered rules (``ordered: true``,
        the ES ``match`` default is UNordered) use the greedy (start,
        cur) chain fold (tf = minimal-interval starts); unordered
        multi-token rules use the window-cover matcher
        (``span_unordered_matches_batch`` — match/no-match agrees with
        Lucene, frequency definition stated there). One broadcast slot
        join + one agg either way; BM25 over interval frequencies."""
        from dp_search_data_importer_spark.operators.spans import (
            span_matches_batch,
            span_unordered_matches_batch,
        )

        (field, rule), = [(k, v) for k, v in spec.items() if k != "boost"]
        slots, gaps = self._intervals_slots(rule)
        (rkind, rspec), = rule.items()
        ordered = bool(rspec.get("ordered", False)) \
            if rkind in ("match", "all_of") else True
        slop = (1 << 30) if gaps < 0 else int(gaps)
        # interval vocabulary is literal → term-pruned positions (§2.3)
        ipos = self.pos(field,
                        terms=sorted({t for s in slots for t in s}))
        if len(slots) == 1:
            m = span_matches_batch(ipos,
                                   [(self._next_qid(), slots, 0, None)])
        elif ordered:
            m = span_matches_batch(
                ipos,
                [(self._next_qid(), slots, slop, None)])
        else:
            m = span_unordered_matches_batch(
                ipos,
                [(self._next_qid(), slots,
                  min(slop, (1 << 30) - len(slots)))])
        return self._span_score(m, field, float(spec.get("boost", 1.0)))

    def _score_span_not(self, spec: dict) -> DataFrame:
        from dp_search_data_importer_spark.operators.spans import (
            span_not_matches_batch,
        )

        fi, inc = self._span_slot(spec["include"])
        fe, exc = self._span_slot(spec["exclude"])
        if fi != fe:
            raise EsDslError("span_not include/exclude must share a field")
        m = span_not_matches_batch(
            self.pos(fi, terms=sorted({*inc, *exc})),
            [(self._next_qid(), inc, exc,
              int(spec.get("pre", spec.get("dist", 0))),
              int(spec.get("post", spec.get("dist", 0))))])
        return self._span_score(m, fi, float(spec.get("boost", 1.0)))

    def _score_rank_feature(self, spec: dict) -> DataFrame:
        """ES ``rank_feature`` query over a numeric doc field (the
        rank_feature field type): ``saturation`` S/(S+pivot) (pivot
        omitted → the ES default, an approximation of the geometric
        mean, computed here EXACTLY as exp(avg(ln S)) in one single-row
        agg), ``log`` ln(1 + scaling_factor·S), ``sigmoid``
        S^e/(S^e + pivot^e). Only docs where the feature is present and
        positive match (the ES contract). One projection over the docs
        frame — no shuffle, no join."""
        field = spec["field"]
        if field not in self.docs.columns or field in self.text_fields:
            raise EsDslError(
                f"rank_feature needs a numeric doc field, got {field!r}")
        boost = float(spec.get("boost", 1.0))
        s = F.col(field).cast("double")
        base = self.docs.select(
            F.col(self.id_col).alias("doc_id"), s.alias("_s")) \
            .filter(F.col("_s") > 0)
        if "log" in spec:
            sf = float(spec["log"]["scaling_factor"])
            score = F.log(F.lit(1.0) + F.lit(sf) * F.col("_s"))
        elif "sigmoid" in spec:
            pv = float(spec["sigmoid"]["pivot"])
            ex = float(spec["sigmoid"]["exponent"])
            num = F.pow(F.col("_s"), F.lit(ex))
            score = num / (num + F.lit(pv ** ex))
        else:
            sat = spec.get("saturation") or {}
            if "pivot" in sat:
                pv = F.lit(float(sat["pivot"]))
            else:
                row = base.agg(
                    F.exp(F.avg(F.log("_s"))).alias("p")).collect()[0]
                pv = F.lit(float(row["p"]))
            score = F.col("_s") / (F.col("_s") + pv)
        return base.select(
            "doc_id", (F.lit(boost) * score).alias("score"))

    def _score_distance_feature(self, spec: dict) -> DataFrame:
        """ES ``distance_feature``: boost · pivot / (pivot + |value −
        origin|) — recency/proximity boosting. Numeric fields take
        numeric origin/pivot; date fields take an ISO date origin and a
        duration pivot (``7d``/``12h``/``30m``/``45s``), computed in
        seconds. One projection, no shuffle."""
        import re as _re

        field = spec["field"]
        boost = float(spec.get("boost", 1.0))
        if field not in self.docs.columns or field in self.text_fields:
            raise EsDslError(
                f"distance_feature needs a doc field, got {field!r}")
        origin, pivot = spec["origin"], spec["pivot"]
        base = self.docs.select(F.col(self.id_col).alias("doc_id"),
                                F.col(field).alias("_v")) \
            .filter(F.col("_v").isNotNull())
        if isinstance(origin, (int, float)):
            dist = F.abs(F.col("_v").cast("double") - F.lit(float(origin)))
            pv = float(pivot)
        else:
            m = _re.fullmatch(r"(\d+)([dhms])", str(pivot))
            if not m:
                raise EsDslError(
                    f"unsupported duration pivot {pivot!r} (use Nd/Nh/"
                    f"Nm/Ns)")
            pv = int(m.group(1)) * {"d": 86400, "h": 3600,
                                    "m": 60, "s": 1}[m.group(2)]
            dist = F.abs(
                F.unix_timestamp(F.col("_v").cast("timestamp"))
                - F.unix_timestamp(F.to_timestamp(F.lit(str(origin)))))
        score = F.lit(float(pv)) / (F.lit(float(pv)) + dist.cast("double"))
        return base.select("doc_id",
                           (F.lit(boost) * score).alias("score"))

    def _score_terms_set(self, spec: dict) -> DataFrame:
        """ES ``terms_set``: a term-set OR where the per-doc required
        match count comes from ``minimum_should_match_field`` (a doc
        column) or ``minimum_should_match_script`` (Painless subset with
        ``params.num_terms`` bound — compiles to a literal, the ES
        script's only input). Scores like bool/should: BM25 sum over
        the matched terms. One tf-pruned agg produces BOTH the score
        and the distinct-match count; the msm join carries only the
        field the spec names."""
        (field, body), = [(k, v) for k, v in spec.items() if k != "boost"]
        terms = sorted({str(t).lower() for t in body["terms"]})
        if not terms:
            raise EsDslError("terms_set requires terms")
        from dp_search_data_importer_spark.operators.bm25 import bm25_scores
        from dp_search_data_importer_spark.session import local_df

        qid = self._next_qid()
        qt = local_df(self.spark, [(qid, t) for t in terms],
                      "query_id long, term string")
        tf = self.tf(field)
        scores = bm25_scores(tf, qt, self.dfs(field), self.stats(field),
                             self.cfg).drop("query_id")
        nm = (tf.filter(F.col("term").isin(terms))
              .groupBy("doc_id")
              .agg(F.count_distinct("term").alias("_nm")))
        j = scores.join(nm, "doc_id")
        if "minimum_should_match_field" in body:
            mf = body["minimum_should_match_field"]
            if mf not in self.docs.columns or mf in self.text_fields:
                raise EsDslError(
                    f"minimum_should_match_field {mf!r} is not a doc "
                    f"field")
            meta = self.docs.select(F.col(self.id_col).alias("doc_id"),
                                    F.col(mf).cast("long").alias("_msm"))
            j = j.join(meta, "doc_id")
        elif "minimum_should_match_script" in body:
            from dp_search_data_importer_spark.plans.painless import (
                compile_script,
            )

            script = body["minimum_should_match_script"]
            src = (script["source"] if isinstance(script, dict)
                   else str(script))

            def _no_doc(fname: str):
                raise EsDslError(
                    "minimum_should_match_script sees only "
                    "params.num_terms")

            col, _ = compile_script(src, {"num_terms": len(terms)},
                                    F.lit(0.0), _no_doc)
            j = j.withColumn("_msm", col.cast("long"))
        else:
            raise EsDslError(
                "terms_set requires minimum_should_match_field or "
                "minimum_should_match_script")
        boost = float(spec.get("boost", 1.0))
        return (j.filter(F.col("_nm") >= F.col("_msm"))
                .select("doc_id",
                        (F.col("score") * F.lit(boost)).alias("score")))

    def _score_prefix(self, spec: dict) -> DataFrame:
        field, pat, params = self._field_spec(spec, "value", "prefix")
        return self._score_terms(
            field, self._expand(field, str(pat), "prefix"),
            float(params.get("boost", 1.0)))

    def _score_wildcard(self, spec: dict) -> DataFrame:
        field, pat, params = self._field_spec(spec, "value", "wildcard")
        return self._score_terms(
            field, self._expand(field, str(pat), "wildcard"),
            float(params.get("boost", 1.0)))

    def _score_regexp(self, spec: dict) -> DataFrame:
        field, pat, params = self._field_spec(spec, "value")
        return self._score_terms(
            field, self._expand(field, str(pat), "regexp"),
            float(params.get("boost", 1.0)))

    def _score_fuzzy(self, spec: dict) -> DataFrame:
        field, pat, params = self._field_spec(spec, "value")
        fuzziness = params.get("fuzziness", 1)
        max_edits = 2 if fuzziness in ("AUTO", 2, "2") else int(fuzziness)
        return self._score_terms(
            field, self._expand(field, str(pat), "fuzzy", max_edits),
            float(params.get("boost", 1.0)))

    def _score_query_string(self, spec: dict) -> DataFrame:
        """Lucene-syntax ``query_string``: parsed by
        ``plans/query_string.parse_query_string`` into the node tree this
        planner already executes — stats memoization and ranking shared."""
        from dp_search_data_importer_spark.plans.query_string import (
            parse_query_string,
        )

        fields = _as_list(spec.get("fields", []))
        if len(fields) > 1:
            raise EsDslError("query_string: multi-field not supported; "
                             "use multi_match")
        default_field = (fields[0] if fields
                         else spec.get("default_field", self.text_fields[0]))
        node = parse_query_string(
            str(spec["query"]), default_field=default_field,
            default_operator=str(spec.get("default_operator", "OR")),
            is_meta=self._meta_col)
        out = self.score(node)
        boost = float(spec.get("boost", 1.0))
        if boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(boost))
        return out

    def _score_simple_query_string(self, spec: dict) -> DataFrame:
        """``simple_query_string``: the reduced never-raising dialect —
        malformed input degrades to literal terms (the ES contract)."""
        from dp_search_data_importer_spark.plans.query_string import (
            parse_simple_query_string,
        )

        fields = _as_list(spec.get("fields", []))
        if len(fields) > 1:
            raise EsDslError("simple_query_string: multi-field not "
                             "supported; use multi_match")
        default_field = fields[0] if fields else self.text_fields[0]
        node = parse_simple_query_string(
            str(spec["query"]), default_field=default_field,
            default_operator=str(spec.get("default_operator", "OR")),
            is_meta=self._meta_col)
        out = self.score(node)
        boost = float(spec.get("boost", 1.0))
        if boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(boost))
        return out

    def _score_constant_score(self, spec: dict) -> DataFrame:
        boost = float(spec.get("boost", 1.0))
        return self.filter(spec["filter"]).withColumn(
            "score", F.lit(boost))

    def _score_script_score(self, spec: dict) -> DataFrame:
        """ES ``script_score`` query: the wrapped query's hits re-scored
        by a script. The script compiles ON THE DRIVER into one Catalyst
        Column via the restricted Painless subset (``plans/painless``) —
        ``_score``, ``doc['field'].value``, ``params``, arithmetic,
        ``Math.*``, ``saturation``/``sigmoid`` — so execution is a single
        JVM-side projection after one doc_id join that carries ONLY the
        fields the script references (exact column pruning at the parquet
        scan). ``min_score`` prunes hits below the threshold (the ES
        parameter on this query)."""
        from dp_search_data_importer_spark.plans.painless import (
            compile_script,
        )

        base = self.score(spec["query"])
        script = spec["script"]
        src = script["source"] if isinstance(script, dict) else str(script)
        params = (script.get("params") or {}) \
            if isinstance(script, dict) else {}
        col, fields = compile_script(src, params, F.col("score"),
                                     lambda f: F.col(f))
        bad = [f for f in fields if f not in self.docs.columns
               or f in self.text_fields]
        if bad:
            raise EsDslError(f"script references non-doc-value fields "
                             f"{sorted(bad)}")
        scored = base
        if fields:
            meta = self.docs.select(
                F.col(self.id_col).alias("doc_id"), *sorted(fields))
            scored = base.join(meta, "doc_id")
        boost = float(spec.get("boost", 1.0))
        out = scored.select(
            "doc_id", (col * F.lit(boost)).alias("score"))
        if "min_score" in spec:
            out = out.filter(
                F.col("score") >= F.lit(float(spec["min_score"])))
        return out

    def _score_pinned(self, spec: dict) -> DataFrame:
        """ES ``pinned`` query: the listed ids rank first IN LIST ORDER,
        organic hits follow by their own score. ES implements this by
        assigning pinned docs descending scores above any float the
        organic query can produce; the twin uses 1e9 − list_index (the
        same order, a deterministic value for the oracle). Pinned ids
        must exist in the corpus to surface (semi-join — ES behavior);
        organic duplicates of a pinned id are dropped (anti-join on the
        tiny broadcast id list)."""
        ids = [int(i) for i in _as_list(spec["ids"])]
        if not ids:
            raise EsDslError("pinned requires ids")
        from dp_search_data_importer_spark.session import local_df

        pins = local_df(self.spark,
                        [(d, 1e9 - i) for i, d in enumerate(ids)],
                        "doc_id long, score double")
        existing = pins.join(
            self.docs.select(F.col(self.id_col).alias("doc_id")),
            "doc_id", "semi")
        organic = self.score(spec["organic"]).join(
            F.broadcast(pins.select("doc_id")), "doc_id", "anti")
        return existing.unionByName(organic)

    def _score_dis_max(self, spec: dict) -> DataFrame:
        from dp_search_data_importer_spark.operators.bm25 import (
            dis_max_scores,
        )

        branches = [
            self.score(q).select("doc_id", "score")
            .withColumn("query_id", F.lit(0))
            for q in spec["queries"]]
        return dis_max_scores(
            branches, float(spec.get("tie_breaker", 0.0))).drop("query_id")

    def _score_boosting(self, spec: dict) -> DataFrame:
        pos_scores = self.score(spec["positive"])
        neg = self.filter(spec["negative"]).withColumn("neg", F.lit(1))
        nb = float(spec.get("negative_boost", 0.5))
        return (pos_scores.join(F.broadcast(neg), "doc_id", "left")
                .select("doc_id",
                        (F.col("score")
                         * F.when(F.col("neg").isNotNull(), F.lit(nb))
                         .otherwise(F.lit(1.0))).alias("score")))

    def _fvf_col(self, fvf: dict):
        v = F.col(fvf["field"]).cast("double") * F.lit(
            float(fvf.get("factor", 1.0)))
        modifier = fvf.get("modifier", "none")
        if modifier == "log1p":
            v = F.log1p(v)
            if fvf.get("plus_one", True):
                v = F.lit(1.0) + v
        elif modifier == "sqrt":
            v = F.sqrt(v)
        elif modifier != "none":
            raise EsDslError(f"unsupported modifier {modifier!r}")
        return v

    _DECAY_KINDS = ("gauss", "linear", "exp")

    def _decay_col(self, kind: str, body: dict):
        """ES numeric decay function → Column in (0, 1]. Distance is
        ``max(0, |value − origin| − offset)``; the curve passes through
        ``decay`` at distance ``scale`` (the published ES 7.10 decay
        equations, numeric fields)."""
        import math

        (field, params), = body.items()
        origin = float(params["origin"])
        scale = float(params["scale"])
        offset = float(params.get("offset", 0.0))
        decay = float(params.get("decay", 0.5))
        if scale <= 0 or not (0.0 < decay < 1.0):
            raise EsDslError("decay requires scale > 0 and 0 < decay < 1")
        dist = F.greatest(
            F.lit(0.0),
            F.abs(F.col(field).cast("double") - F.lit(origin))
            - F.lit(offset))
        if kind == "gauss":
            sigma2 = -scale * scale / (2.0 * math.log(decay))
            return F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
        if kind == "exp":
            lam = math.log(decay) / scale
            return F.exp(F.lit(lam) * dist)
        s = scale / (1.0 - decay)
        return F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))

    def _score_function_score(self, spec: dict) -> DataFrame:
        """``function_score``: single ``field_value_factor`` (legacy
        shape) or a ``functions`` array — per-entry filter-context
        ``filter`` (meta predicate), ``weight``, ``field_value_factor``,
        or a numeric decay (``gauss``/``linear``/``exp``). All function
        columns evaluate in ONE projection over docs (zero extra joins,
        zero Python); ``score_mode`` combines the APPLIED functions
        (multiply/sum/avg/max/min, identity when none apply — ES
        semantics), ``max_boost`` caps the combined factor, and
        ``boost_mode`` merges with the query score
        (multiply/sum/replace/avg/max/min)."""
        base = self.score(spec.get("query", {"match_all": {}}))
        fns = _as_list(spec.get("functions", []))
        fvf = spec.get("field_value_factor")
        if fvf is not None and not fns:
            fns = [{"field_value_factor": fvf}]
        if not fns:
            raise EsDslError("function_score requires functions or "
                             "field_value_factor")
        applied, factors = [], []
        for fn in fns:
            weight = float(fn.get("weight", 1.0))
            kinds = set(fn) - {"filter", "weight"}
            if not kinds:
                col = F.lit(1.0)
            elif kinds == {"field_value_factor"}:
                col = self._fvf_col(fn["field_value_factor"])
            elif len(kinds) == 1 and next(iter(kinds)) in self._DECAY_KINDS:
                k_ = next(iter(kinds))
                col = self._decay_col(k_, fn[k_])
            else:
                raise EsDslError(
                    f"unsupported function_score entry {sorted(kinds)}")
            col = col * F.lit(weight)
            cond = (_meta_predicate(fn["filter"]) if "filter" in fn
                    else F.lit(True))
            applied.append(cond)
            factors.append(col)
        score_mode = spec.get("score_mode", "multiply")
        n_app = sum((a.cast("int") for a in applied), F.lit(0))
        gated = [F.when(a, c) for a, c in zip(applied, factors)]
        if score_mode == "multiply":
            prod = F.lit(1.0)
            for g in gated:
                prod = prod * F.coalesce(g, F.lit(1.0))
            combined = prod
        elif score_mode in ("sum", "avg"):
            tot = F.lit(0.0)
            for g in gated:
                tot = tot + F.coalesce(g, F.lit(0.0))
            combined = (tot / n_app.cast("double")
                        if score_mode == "avg" else tot)
        elif score_mode == "max":
            combined = F.greatest(*gated) if len(gated) > 1 else gated[0]
        elif score_mode == "min":
            combined = F.least(*gated) if len(gated) > 1 else gated[0]
        else:
            raise EsDslError(f"unsupported score_mode {score_mode!r}")
        combined = F.when(n_app == 0, F.lit(1.0)) \
            .otherwise(F.coalesce(combined, F.lit(1.0)))
        if "max_boost" in spec:
            combined = F.least(combined,
                               F.lit(float(spec["max_boost"])))
        factor = self.docs.select(
            F.col(self.id_col).alias("doc_id"), combined.alias("factor"))
        j = base.join(factor, "doc_id")
        boost_mode = spec.get("boost_mode", "multiply")
        if boost_mode == "multiply":
            expr = F.col("score") * F.col("factor")
        elif boost_mode == "sum":
            expr = F.col("score") + F.col("factor")
        elif boost_mode == "replace":
            expr = F.col("factor")
        elif boost_mode == "avg":
            expr = (F.col("score") + F.col("factor")) / F.lit(2.0)
        elif boost_mode == "max":
            expr = F.greatest(F.col("score"), F.col("factor"))
        elif boost_mode == "min":
            expr = F.least(F.col("score"), F.col("factor"))
        else:
            raise EsDslError(f"unsupported boost_mode {boost_mode!r}")
        return j.select("doc_id", expr.alias("score"))

    def _score_bool(self, spec: dict) -> DataFrame:
        must = _as_list(spec.get("must", []))
        should = _as_list(spec.get("should", []))
        must_not = _as_list(spec.get("must_not", []))
        filters = _as_list(spec.get("filter", []))
        msm = spec.get("minimum_should_match")
        if msm is None:
            # ES 7.x default: 1 iff there are should clauses and no
            # must/filter, else 0
            msm = 1 if should and not must and not filters else 0
        msm = int(msm)

        parts = []
        for i, n in enumerate(must):
            parts.append(self.score(n).select(
                "doc_id", "score", F.lit("must").alias("role"),
                F.lit(i).alias("cid")))
        for i, n in enumerate(should):
            parts.append(self.score(n).select(
                "doc_id", "score", F.lit("should").alias("role"),
                F.lit(i).alias("cid")))
        if not parts and not filters:
            raise EsDslError("empty bool query")
        if parts:
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            agg = u.groupBy("doc_id").agg(
                F.sum("score").alias("score"),
                F.count_distinct(
                    F.when(F.col("role") == "must", F.col("cid"))
                ).alias("nm"),
                F.count_distinct(
                    F.when(F.col("role") == "should", F.col("cid"))
                ).alias("ns"),
            )
            out = (agg.filter((F.col("nm") == F.lit(len(must)))
                              & (F.col("ns") >= F.lit(msm)))
                   .select("doc_id", "score"))
        else:
            out = None
        if not must and msm == 0 and filters:
            # msm=0 with no must: the FILTER set defines the matches;
            # should clauses only boost (docs matching zero should
            # clauses still match with score 0) — exact ES semantics.
            base = None
            for n in filters:
                s = self.filter(n)
                base = s if base is None else base.join(s, "doc_id",
                                                        "left_semi")
            boost = (out.select("doc_id", "score") if out is not None
                     else None)
            if boost is None:
                out = base.withColumn("score", F.lit(0.0))
            else:
                out = (base.join(boost, "doc_id", "left")
                       .select("doc_id",
                               F.coalesce(F.col("score"), F.lit(0.0))
                               .alias("score")))
        else:
            if out is None:
                raise EsDslError("bool query matches nothing: should-less "
                                 "filter-less body with msm > 0")
            for n in filters:
                out = out.join(self.filter(n), "doc_id", "left_semi")
        for n in must_not:
            out = out.join(self.filter(n), "doc_id", "left_anti")
        boost = float(spec.get("boost", 1.0))
        if boost != 1.0:
            out = out.withColumn("score", F.col("score") * F.lit(boost))
        return out

    # filter leaves ----------------------------------------------------

    def _meta_col(self, field: str) -> bool:
        return field in self.docs.columns and field not in self.text_fields

    def _is_array(self, field: str) -> bool:
        """ES keyword-array fields (the reference model's ``keywords``/
        ``topics``, models/elastic.go:13,17): a term matches if ANY
        element equals, a terms agg buckets per element."""
        t = dict(self.docs.dtypes).get(field, "")
        return t.startswith("array")

    def _match_term(self, spec: dict) -> DataFrame:
        field, value, _ = self._field_spec(spec, "value")
        if self._meta_col(field):
            pred = (F.array_contains(F.col(field), F.lit(value))
                    if self._is_array(field)
                    else F.col(field) == F.lit(value))
            return (self.docs.filter(pred)
                    .select(F.col(self.id_col).alias("doc_id")))
        return (self.tf(field).filter(F.col("term") == F.lit(str(value)))
                .select("doc_id").distinct())

    def _match_terms(self, spec: dict) -> DataFrame:
        field, values, _ = self._field_spec(spec, "value")
        values = _as_list(values)
        if self._meta_col(field):
            pred = (F.arrays_overlap(
                        F.col(field),
                        F.array(*[F.lit(v) for v in values]))
                    if self._is_array(field)
                    else F.col(field).isin(values))
            return (self.docs.filter(pred)
                    .select(F.col(self.id_col).alias("doc_id")))
        return (self.tf(field)
                .filter(F.col("term").isin([str(v) for v in values]))
                .select("doc_id").distinct())

    def _match_ids(self, spec: dict) -> DataFrame:
        values = [int(v) for v in spec["values"]]
        return (self.docs.filter(F.col(self.id_col).isin(values))
                .select(F.col(self.id_col).alias("doc_id")))

    def _match_range(self, spec: dict) -> DataFrame:
        field, _, params = self._field_spec(spec)
        c = F.col(field)
        pred = F.lit(True)
        for op, fn in (("gte", c.__ge__), ("gt", c.__gt__),
                       ("lte", c.__le__), ("lt", c.__lt__)):
            if op in params:
                pred = pred & fn(F.lit(params[op]))
        return (self.docs.filter(pred)
                .select(F.col(self.id_col).alias("doc_id")))

    def _match_exists(self, spec: dict) -> DataFrame:
        field = spec["field"]
        pred = F.col(field).isNotNull()
        if self._is_array(field):
            # ES: an empty array is a missing value
            pred = pred & (F.size(F.col(field)) > 0)
        return (self.docs.filter(pred)
                .select(F.col(self.id_col).alias("doc_id")))

    def _nested_elem_pred(self, path: str, node: dict, x):
        """Element-level predicate for a ``nested`` query: compile the
        inner query node against ONE array element ``x`` (term / terms /
        range / exists on ``path.field`` names, composed with bool
        must/filter=AND, should=OR [minimum_should_match int],
        must_not=NOT). Runs as a Catalyst higher-order lambda — no
        explode, no shuffle."""
        (kind, spec), = node.items()

        def strip(f: str):
            return f[len(path) + 1:] if f.startswith(path + ".") else f

        if kind == "bool":
            clauses = [
                self._nested_elem_pred(path, n, x)
                for n in (_as_list(spec.get("must", []))
                          + _as_list(spec.get("filter", [])))]
            pred = F.lit(True)
            for c in clauses:
                pred = pred & c
            shoulds = [self._nested_elem_pred(path, n, x)
                       for n in _as_list(spec.get("should", []))]
            if shoulds:
                msm = int(spec.get("minimum_should_match",
                                   0 if clauses else 1))
                if msm <= 1:
                    s_or = F.lit(False)
                    for c in shoulds:
                        s_or = s_or | c
                    pred = pred & s_or if msm == 1 else pred
                else:
                    n_match = None
                    for c in shoulds:
                        t = c.cast("int")
                        n_match = t if n_match is None else n_match + t
                    pred = pred & (n_match >= F.lit(msm))
            for n in _as_list(spec.get("must_not", [])):
                pred = pred & ~self._nested_elem_pred(path, n, x)
            return pred
        if kind in ("term", "terms"):
            (field, v), = [(k_, v_) for k_, v_ in spec.items()
                           if k_ != "boost"]
            if isinstance(v, dict):
                v = v.get("value")
            if kind == "terms":
                return x[strip(field)].isin(list(_as_list(v)))
            return x[strip(field)] == F.lit(v)
        if kind == "range":
            (field, params), = [(k_, v_) for k_, v_ in spec.items()
                                if k_ != "boost"]
            c = x[strip(field)]
            pred = F.lit(True)
            for op, fn in (("gte", c.__ge__), ("gt", c.__gt__),
                           ("lte", c.__le__), ("lt", c.__lt__)):
                if op in params:
                    pred = pred & fn(F.lit(params[op]))
            return pred
        if kind == "exists":
            return x[strip(spec["field"])].isNotNull()
        raise EsDslError(f"unsupported nested inner query {kind!r}")

    def _match_nested(self, spec: dict) -> DataFrame:
        """ES ``nested`` query over an array-of-struct column (the
        reference's ``dimensions``, models/elastic.go / schema/
        schema.go:41-51): a doc matches when SOME element satisfies the
        inner compound predicate on the ELEMENT's own fields — never a
        cross-element AND, the defining nested semantics. Compiled to
        ``F.exists`` with a higher-order element lambda: no explode, no
        shuffle, one scan. Scoring context takes the constant_score
        fallback (ES score_mode reductions over inner hits are not
        reproduced — documented)."""
        path = spec["path"]
        t = dict(self.docs.dtypes).get(path, "")
        if not t.startswith("array<struct"):
            raise EsDslError(
                f"nested path {path!r} is not an array-of-struct "
                f"column (got {t or 'missing'})")
        pred = F.exists(
            F.col(path),
            lambda x: self._nested_elem_pred(path, spec["query"], x))
        return (self.docs.filter(pred)
                .select(F.col(self.id_col).alias("doc_id")))

    def _match_script(self, spec: dict) -> DataFrame:
        """ES ``script`` query (the Kibana filter-by-script shape,
        query-dsl-script-query): a boolean Painless predicate over doc
        values decides membership. The script compiles ON THE DRIVER
        (``plans/painless``) to one Catalyst predicate applied directly
        to the docs scan — zero Python at execution, only the referenced
        columns read, and Catalyst pushes any foldable conjuncts into
        the parquet scan. ``_score`` does not exist in filter context
        (faithful to ES); text fields have no doc values. In scoring
        context the generic constant_score fallback applies (ES scores
        the script query 1.0 · boost)."""
        from dp_search_data_importer_spark.plans.painless import (
            compile_script,
        )

        script = spec["script"]
        src = script["source"] if isinstance(script, dict) else str(script)
        params = (script.get("params") or {}) \
            if isinstance(script, dict) else {}

        import re as _re

        if _re.search(r"\b_score\b", src):
            raise EsDslError("_score does not exist in filter context")
        col, fields = compile_script(src, params, F.lit(0.0),
                                     lambda f: F.col(f))
        bad = [f for f in fields if f not in self.docs.columns
               or f in self.text_fields]
        if bad:
            raise EsDslError(f"script filter references non-doc-value "
                             f"fields {sorted(bad)}")
        return (self.docs.filter(col.cast("boolean"))
                .select(F.col(self.id_col).alias("doc_id")))

    # ----------------------------------------------------------------- aggs

    def _agg(self, spec: dict, hits: DataFrame) -> DataFrame:
        from dp_search_data_importer_spark.operators import aggs as agg_ops

        sub = spec.get("aggs") or spec.get("aggregations") or {}
        (kind, body), = [(k, v) for k, v in spec.items()
                         if k not in ("aggs", "aggregations")]
        qhits = hits.select(F.lit(0).cast("long").alias("query_id"),
                            "doc_id")
        meta_cols = [c for c in self.docs.columns
                     if c not in self.text_fields]
        meta = self.docs.select(
            F.col(self.id_col).alias("doc_id"),
            *[c for c in meta_cols if c != self.id_col])
        if kind == "global":
            # ES global agg: escapes the query scope — sub-agg over ALL
            # docs. One sub-agg supported (one frame per agg name).
            if len(sub) != 1:
                raise EsDslError("global agg requires exactly one "
                                 "sub-aggregation")
            (sname, sspec), = sub.items()
            all_hits = self.docs.select(
                F.col(self.id_col).alias("doc_id"))
            return self._agg(sspec, all_hits)
        if kind == "missing":
            fld = body["field"]
            j = qhits.join(meta, "doc_id")
            return j.agg(
                F.sum(F.when(F.col(fld).isNull(), 1).otherwise(0))
                .cast("long").alias("doc_count"))
        if kind == "filter":
            # ES single-filter agg: narrow the hit set by a filter-
            # context predicate, then run ONE sub-agg over the subset
            # (or just count it) — the "facet within a facet" shape
            sub_hits = (qhits.join(meta, "doc_id")
                        .filter(_meta_predicate(body))
                        .select("doc_id"))
            if not sub:
                return sub_hits.agg(
                    F.count(F.lit(1)).cast("long").alias("doc_count"))
            if len(sub) != 1:
                raise EsDslError(
                    "filter agg supports one sub-aggregation")
            (sname, sspec), = sub.items()
            return self._agg(sspec, sub_hits)
        if kind == "percentile_ranks":
            # ES percentile_ranks (TDigest there): exact CDF here —
            # percent of hit values ≤ v, one conditional-sum pass
            fld = body["field"]
            vals = [float(v) for v in body["values"]]
            j = qhits.join(meta, "doc_id")
            c = F.col(fld).cast("double")
            n = F.count(c)
            return j.agg(*[
                (F.sum(F.when(c <= F.lit(v), 1).otherwise(0))
                 .cast("double") * 100.0 / n.cast("double"))
                .alias(f"p{str(v).replace('.', '_')}")
                for v in vals])
        if kind == "terms":
            fld, size = body["field"], int(body.get("size", 10))
            if self._is_array(fld):
                # keyword-array field: one bucket per DISTINCT element
                # per doc (ES doc values are a set — a duplicate element
                # never double-counts its doc)
                meta = meta.withColumn(
                    fld, F.explode(F.array_distinct(F.col(fld))))
            if "missing" in body:
                # ES terms `missing` param: null keys bucket under the
                # given literal instead of dropping
                meta = meta.withColumn(
                    fld, F.coalesce(F.col(fld), F.lit(body["missing"])))
            # ES include/exclude: value lists or an anchored regex —
            # pushed BEFORE the bucket agg (prunes the shuffle)
            inc, exc = body.get("include"), body.get("exclude")
            key_s = F.col(fld).cast("string")
            if isinstance(inc, list):
                meta = meta.filter(key_s.isin([str(v) for v in inc]))
            elif inc is not None:
                meta = meta.filter(key_s.rlike(f"^(?:{inc})$"))
            if isinstance(exc, list):
                meta = meta.filter(~key_s.isin([str(v) for v in exc]))
            elif exc is not None:
                meta = meta.filter(~key_s.rlike(f"^(?:{exc})$"))
            if sub and len(sub) == 1 \
                    and next(iter(next(iter(sub.values())))) == "top_hits":
                (sname, sspec), = sub.items()
                (skind, sbody), = sspec.items()
                sort_spec = _as_list(sbody.get("sort", []))
                if not sort_spec:
                    raise EsDslError("top_hits requires a sort field")
                if isinstance(sort_spec[0], dict):
                    (sfield, sdir), = sort_spec[0].items()
                else:
                    sfield, sdir = sort_spec[0], "asc"
                asc = (sdir.get("order", "asc") if isinstance(sdir, dict)
                       else str(sdir)) == "asc"
                return agg_ops.top_hits_agg(
                    qhits, meta, fld, sfield,
                    hits_per_bucket=int(sbody.get("size", 3)),
                    ascending=asc).drop("query_id")
            if sub:
                return self._terms_with_subaggs(body, sub, qhits, meta)
            j = qhits.join(meta, "doc_id").filter(F.col(fld).isNotNull())
            buckets = (j.groupBy(F.col(fld).cast("string").alias("key"))
                       .agg(F.count(F.lit(1)).cast("long")
                            .alias("doc_count")))
            # ES terms min_doc_count (default 1): prune BEFORE the
            # ordered size-truncation, at bucket cardinality
            mdc = int(body.get("min_doc_count", 1))
            if mdc > 1:
                buckets = buckets.filter(F.col("doc_count") >= mdc)
            return self._order_buckets(buckets, body, size)
        if kind == "histogram":
            fld = body["field"]
            interval = float(body["interval"])
            metrics, pipes = self._split_subaggs(sub, "histogram")
            j = qhits.join(meta, "doc_id")
            buckets = (j.groupBy(
                (F.floor(F.col(fld) / interval) * interval)
                .cast("double").alias("key"))
                .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
                     *self._metric_exprs(metrics)))
            mdc = int(body.get("min_doc_count", 1))
            if mdc > 1:
                buckets = buckets.filter(F.col("doc_count") >= mdc)
            if pipes:
                return self._apply_bucket_pipelines(buckets, pipes)
            return buckets
        if kind == "date_histogram":
            return self._date_histogram(body, sub, qhits, meta)
        if kind in ("significant_terms", "significant_text"):
            # the hit set IS the foreground; the planner's memoized
            # per-field tf/dfs/stats are the background — one fg-sized
            # hash agg + a broadcast join on the surviving term set
            # (size-gated inside the operator). significant_text is the
            # same computation here: our tf frames ARE the re-analyzed
            # source text (filter_duplicate_text not reproduced — the
            # dedup suite is the engine-level answer)
            from dp_search_data_importer_spark.operators.bm25 import (
                significant_terms,
            )

            fld = body["field"]
            if fld not in self.text_fields:
                raise EsDslError(
                    f"significant_terms runs over text fields, "
                    f"got {fld!r}")
            return significant_terms(
                self.tf(fld), hits.select("doc_id"), self.dfs(fld),
                self.stats(fld),
                min_fg_df=int(body.get("min_doc_count", 3)),
                top_n=int(body.get("size", 10)))
        if kind == "filters":
            named = body["filters"]
            if not isinstance(named, dict) or not named:
                raise EsDslError("filters agg requires named filters")
            j = qhits.join(meta, "doc_id")
            # ONE pass over the hit set: every named bucket is a
            # conditional sum in the same aggregation (map-side
            # partials), then a width-n → n-row stack — no per-filter
            # jobs, no repeated scans
            row = j.agg(*[
                F.sum(F.when(_meta_predicate(node), 1).otherwise(0))
                .cast("long").alias(f"__f{i}")
                for i, node in enumerate(named.values())])
            stack = ", ".join(
                "'{}', `__f{}`".format(name.replace("'", "''"), i)
                for i, name in enumerate(named))
            return row.selectExpr(
                f"stack({len(named)}, {stack}) AS (key, doc_count)")
        if kind == "range":
            ranges = [(r.get("from"), r.get("to"))
                      for r in body["ranges"]]
            return agg_ops.range_agg(qhits, meta, body["field"],
                                     ranges).drop("query_id")
        if kind == "stats":
            j = qhits.join(meta, "doc_id")
            v = F.col(body["field"]).cast("long")
            return j.agg(
                F.count(F.lit(1)).cast("long").alias("count"),
                F.min(v).cast("long").alias("min"),
                F.max(v).cast("long").alias("max"),
                F.sum(v).cast("long").alias("sum"))
        if kind == "extended_stats":
            return agg_ops.extended_stats_agg(
                qhits, meta, body["field"]).drop("query_id")
        if kind == "matrix_stats":
            # ES matrix_stats: multi-field numeric matrix — per-field
            # moment stats (count/mean/variance/skewness/kurtosis) plus
            # the covariance/correlation matrix. ES streams running
            # higher-order moments per shard and merges
            # (MatrixStatsResults); the Spark form is ONE map-side-
            # combinable hash agg of raw power sums Σx..Σx⁴ + pairwise
            # Σxy over the hit set, then the O(F²) matrix assembles as
            # an explode over the single result row — one scan, one
            # agg, no second pass. Docs missing ANY requested field
            # leave the whole matrix (the ES default missing
            # treatment). Moment definitions match ES RunningStats:
            # sample variance/covariance (n−1), population skewness
            # g1 = m3/m2^{3/2}, population non-excess kurtosis m4/m2².
            flds = [str(f) for f in _as_list(body["fields"])]
            if len(flds) != len(set(flds)) or not flds:
                raise EsDslError("matrix_stats needs distinct fields")
            for f_ in flds:
                if f_ not in meta.columns:
                    raise EsDslError(
                        f"matrix_stats field {f_!r} is not a doc-value "
                        f"column")
            j = qhits.join(meta, "doc_id")
            for f_ in flds:
                j = j.filter(F.col(f_).isNotNull())
            exprs = [F.count(F.lit(1)).cast("double").alias("n")]
            for f_ in flds:
                v = F.col(f_).cast("double")
                exprs += [F.sum(v).alias(f"s1_{f_}"),
                          F.sum(v * v).alias(f"s2_{f_}"),
                          F.sum(v * v * v).alias(f"s3_{f_}"),
                          F.sum(v * v * v * v).alias(f"s4_{f_}")]
            for i_, a_ in enumerate(flds):
                for b_ in flds[i_ + 1:]:
                    exprs.append(
                        F.sum(F.col(a_).cast("double")
                              * F.col(b_).cast("double"))
                        .alias(f"sxy_{a_}_{b_}"))
            sums = j.agg(*exprs)
            n = F.col("n")
            pairs = []
            for i_, a_ in enumerate(flds):
                ma = F.col(f"s1_{a_}") / n
                m2 = F.col(f"s2_{a_}") / n - ma * ma
                m3 = (F.col(f"s3_{a_}") / n
                      - F.lit(3.0) * ma * F.col(f"s2_{a_}") / n
                      + F.lit(2.0) * ma * ma * ma)
                m4 = (F.col(f"s4_{a_}") / n
                      - F.lit(4.0) * ma * F.col(f"s3_{a_}") / n
                      + F.lit(6.0) * ma * ma * F.col(f"s2_{a_}") / n
                      - F.lit(3.0) * ma * ma * ma * ma)
                var_a = (F.col(f"s2_{a_}") - n * ma * ma) / (n - 1)
                for k_, b_ in enumerate(flds):
                    mb = F.col(f"s1_{b_}") / n
                    var_b = (F.col(f"s2_{b_}") - n * mb * mb) / (n - 1)
                    if a_ == b_:
                        sxy = F.col(f"s2_{a_}")
                    else:
                        lo, hi = (a_, b_) if i_ < k_ else (b_, a_)
                        sxy = F.col(f"sxy_{lo}_{hi}")
                    cov = (sxy - n * ma * mb) / (n - 1)
                    pairs.append(F.struct(
                        F.lit(a_).alias("field"),
                        F.lit(b_).alias("other_field"),
                        n.cast("long").alias("count"),
                        F.round(ma, 4).alias("mean"),
                        F.round(var_a, 4).alias("variance"),
                        F.round(m3 / F.pow(m2, F.lit(1.5)), 4)
                        .alias("skewness"),
                        F.round(m4 / (m2 * m2), 4).alias("kurtosis"),
                        F.round(cov, 4).alias("covariance"),
                        F.round(cov / F.sqrt(var_a * var_b), 4)
                        .alias("correlation")))
            return (sums.select(F.explode(F.array(*pairs)).alias("p"))
                    .select("p.*"))
        if kind == "t_test":
            # ES t_test agg (7.8+ analytics): Student's t between two
            # populations of the hit set. ONE conditional hash agg
            # collects both populations' count/Σx/Σx² (map-side
            # combinable — the whole test is a single pass at any
            # corpus size); the statistic assembles on the 1-row
            # result. Divergence, documented: ES returns the p-value;
            # the Student CDF is a scalar driver-side lookup with no
            # distributed component, so this twin returns the
            # (t_stat, df, n_a, n_b) tuple the CDF consumes.
            # ``paired`` runs over docs carrying BOTH fields (per-doc
            # difference, one agg); ``homoscedastic`` pools variance
            # (df = n1+n2−2); ``heteroscedastic`` (the ES default) is
            # Welch's t with the Welch–Satterthwaite df.
            ttype = str(body.get("type", "heteroscedastic"))
            a_spec, b_spec = body["a"], body["b"]
            va = F.col(str(a_spec["field"])).cast("double")
            vb = F.col(str(b_spec["field"])).cast("double")
            j = qhits.join(meta, "doc_id")
            if ttype == "paired":
                if "filter" in a_spec or "filter" in b_spec:
                    raise EsDslError("paired t_test takes no filters — "
                                     "both fields read from each doc")
                d = va - vb
                row = (j.filter(va.isNotNull() & vb.isNotNull())
                       .agg(F.count(F.lit(1)).cast("double").alias("n"),
                            F.sum(d).alias("s1"),
                            F.sum(d * d).alias("s2")))
                n = F.col("n")
                mean_d = F.col("s1") / n
                var_d = (F.col("s2") - n * mean_d * mean_d) / (n - 1)
                return row.select(
                    F.lit("paired").alias("type"),
                    F.round(mean_d / F.sqrt(var_d / n), 4)
                    .alias("t_stat"),
                    F.round(n - 1, 4).alias("df"),
                    n.cast("long").alias("n_a"),
                    n.cast("long").alias("n_b"))
            if ttype not in ("homoscedastic", "heteroscedastic"):
                raise EsDslError(f"unsupported t_test type {ttype!r}")
            pa = _meta_predicate(a_spec["filter"]) if "filter" in a_spec \
                else F.lit(True)
            pb = _meta_predicate(b_spec["filter"]) if "filter" in b_spec \
                else F.lit(True)
            ca = pa & va.isNotNull()
            cb = pb & vb.isNotNull()
            row = j.agg(
                F.sum(F.when(ca, 1.0).otherwise(0.0)).alias("na"),
                F.sum(F.when(ca, va).otherwise(0.0)).alias("sa1"),
                F.sum(F.when(ca, va * va).otherwise(0.0)).alias("sa2"),
                F.sum(F.when(cb, 1.0).otherwise(0.0)).alias("nb"),
                F.sum(F.when(cb, vb).otherwise(0.0)).alias("sb1"),
                F.sum(F.when(cb, vb * vb).otherwise(0.0)).alias("sb2"))
            na, nb = F.col("na"), F.col("nb")
            m1, m2 = F.col("sa1") / na, F.col("sb1") / nb
            v1 = (F.col("sa2") - na * m1 * m1) / (na - 1)
            v2 = (F.col("sb2") - nb * m2 * m2) / (nb - 1)
            if ttype == "homoscedastic":
                sp2 = ((na - 1) * v1 + (nb - 1) * v2) / (na + nb - 2)
                t = (m1 - m2) / F.sqrt(sp2 * (1.0 / na + 1.0 / nb))
                dof = na + nb - 2
            else:
                se1, se2 = v1 / na, v2 / nb
                t = (m1 - m2) / F.sqrt(se1 + se2)
                dof = ((se1 + se2) * (se1 + se2)
                       / (se1 * se1 / (na - 1) + se2 * se2 / (nb - 1)))
            return row.select(
                F.lit(ttype).alias("type"),
                F.round(t, 4).alias("t_stat"),
                F.round(dof, 4).alias("df"),
                na.cast("long").alias("n_a"),
                nb.cast("long").alias("n_b"))
        if kind == "scripted_metric":
            # ES scripted_metric: init/map/combine/reduce scripts. The
            # ONLY shape that is correct under distribution is the
            # associative-accumulator pattern (state.v += expr, or
            # min/max folds) with the canonical states-merge reduce —
            # exactly Spark's partial aggregation contract — so that is
            # what compiles: the map expression becomes ONE Catalyst
            # column (Painless subset, zero Python per row) under a
            # map-side-combinable sum/min/max. Everything else (list
            # appends, order-dependent state, mismatched merge ops)
            # is refused at compile time rather than silently computed
            # wrong across partitions. A nonzero += init is refused
            # too: ES runs init once PER SHARD, making the result
            # shard-count-dependent — the anti-pattern has no
            # deterministic meaning at any scale.
            return self._scripted_metric(body, qhits, meta)
        if kind == "percentiles":
            return agg_ops.percentiles_agg(
                qhits, meta, body["field"],
                [float(p) for p in body.get(
                    "percents", [1, 5, 25, 50, 75, 95, 99])]
            ).drop("query_id")
        if kind == "cardinality":
            return agg_ops.cardinality_agg(
                qhits, meta, [body["field"]]).drop("query_id")
        if kind == "nested":
            # ES nested agg: sub-agg runs over the array ELEMENTS of
            # the path (doc_count = element count, the nested-doc
            # contract) — one explode over the hit set's arrays
            path = body["path"]
            if path not in self.docs.columns:
                raise EsDslError(f"nested path {path!r} is not a column")
            if len(sub) != 1:
                raise EsDslError(
                    "nested agg requires exactly one sub-aggregation")
            (sname, sspec), = sub.items()
            (skind, sbody), = sspec.items()
            if skind != "terms":
                raise EsDslError("nested sub-agg supports terms")
            fld = str(sbody["field"])
            leaf = fld[len(path) + 1:] if fld.startswith(path + ".") \
                else fld
            j = qhits.join(
                self.docs.select(F.col(self.id_col).alias("doc_id"),
                                 path), "doc_id")
            ex = j.select(F.explode(path).alias("_e"))
            buckets = (ex.groupBy(F.col(f"_e.{leaf}").cast("string")
                                  .alias("key"))
                       .agg(F.count(F.lit(1)).cast("long")
                            .alias("doc_count")))
            return self._order_buckets(buckets, sbody,
                                       int(sbody.get("size", 10)))
        if kind == "rare_terms":
            # ES rare_terms: the long tail — buckets with doc_count ≤
            # max_doc_count, count asc (ES uses a CuckooFilter
            # approximation at scale; exact here, the oracle-friendly
            # form — the hash agg is the same shape as terms)
            fld = body["field"]
            mdc = int(body.get("max_doc_count", 1))
            j = qhits.join(meta, "doc_id")
            return (j.filter(F.col(fld).isNotNull())
                    .groupBy(F.col(fld).cast("string").alias("key"))
                    .agg(F.count(F.lit(1)).cast("long")
                         .alias("doc_count"))
                    .filter(F.col("doc_count") <= mdc)
                    .orderBy(F.col("doc_count").asc(),
                             F.col("key").asc()))
        if kind == "boxplot":
            # ES boxplot (TDigest-approximate there; exact linear-
            # interpolated percentiles here): min/q1/q2/q3/max in ONE
            # single-row agg
            v = F.col(body["field"]).cast("double")
            j = qhits.join(meta, "doc_id")
            q = F.expr(f"percentile({body['field']}, "
                       f"array(0.25D, 0.5D, 0.75D))")
            return j.agg(
                F.min(v).alias("min"),
                F.element_at(q, 1).cast("double").alias("q1"),
                F.element_at(q, 2).cast("double").alias("q2"),
                F.element_at(q, 3).cast("double").alias("q3"),
                F.max(v).alias("max"))
        if kind == "string_stats":
            # ES string_stats over a string field: count + length
            # stats (the x-pack agg; show_distribution's character
            # entropy is not reproduced — documented)
            fld = body["field"]
            j = qhits.join(
                self.docs.select(F.col(self.id_col).alias("doc_id"),
                                 fld), "doc_id")
            ln = F.length(F.col(fld))
            return j.filter(F.col(fld).isNotNull()).agg(
                F.count(F.lit(1)).cast("long").alias("count"),
                F.min(ln).cast("long").alias("min_length"),
                F.max(ln).cast("long").alias("max_length"),
                (F.sum(ln).cast("double")
                 / F.count(F.lit(1)).cast("double")).alias("avg_length"))
        if kind == "weighted_avg":
            vf = body["value"]["field"]
            wf = body["weight"]["field"]
            j = qhits.join(meta, "doc_id")
            v = F.col(vf).cast("double")
            w = F.col(wf).cast("double")
            return j.agg(
                (F.sum(v * w) / F.sum(w)).alias("value"))
        if kind == "top_metrics":
            # the ES top_metrics agg: metric values of the top `size`
            # docs by a sort field — a TakeOrdered over the joined hit
            # set, never a window
            mfields = [m["field"] for m in _as_list(body["metrics"])]
            (sfld, sdir), = body["sort"].items() \
                if isinstance(body["sort"], dict) \
                else next(iter(_as_list(body["sort"]))).items()
            sord = (sdir.get("order", "asc") if isinstance(sdir, dict)
                    else str(sdir))
            j = qhits.join(meta, "doc_id")
            lead = (F.col(sfld).desc() if sord == "desc"
                    else F.col(sfld).asc())
            return (j.select("doc_id", sfld,
                             *[f for f in mfields if f != sfld])
                    .orderBy(lead, F.col("doc_id").asc())
                    .limit(int(body.get("size", 1))))
        if kind == "median_absolute_deviation":
            # ES computes this approximately (TDigest); here: exact
            # median via percentile in TWO bounded single-row aggs
            # (median first, then median of absolute deviations) — two
            # tiny jobs; swap percentile → percentile_approx if exact
            # per-group state ever matters at extreme hit counts
            fld = body["field"]
            j = qhits.join(meta, "doc_id")
            v = F.col(fld).cast("double")
            med = j.agg(F.expr(
                f"percentile({fld}, 0.5)").alias("m")).collect()[0]["m"]
            if med is None:
                return j.agg(F.lit(None).cast("double").alias("value"))
            return j.agg(F.expr(
                f"percentile(abs({fld} - {float(med)}), 0.5)")
                .cast("double").alias("value"))
        if kind == "adjacency_matrix":
            named = body["filters"]
            if not isinstance(named, dict) or not named:
                raise EsDslError(
                    "adjacency_matrix requires named filters")
            # ONE pass over the hit set: every singleton and pairwise
            # intersection bucket is a conditional sum in the same
            # aggregation (map-side partials) — never n² scans
            names = list(named)
            preds = {n: _meta_predicate(named[n]) for n in names}
            j = qhits.join(meta, "doc_id")
            exprs, labels = [], []
            for i, n in enumerate(names):
                exprs.append(F.sum(F.when(preds[n], 1).otherwise(0))
                             .cast("long").alias(f"__c{i}"))
                labels.append(n)
            for i in range(len(names)):
                for k_ in range(i + 1, len(names)):
                    exprs.append(
                        F.sum(F.when(preds[names[i]] & preds[names[k_]],
                                     1).otherwise(0))
                        .cast("long").alias(f"__c{len(labels)}"))
                    # ES keys intersections "a&b" in filter order
                    labels.append(f"{names[i]}&{names[k_]}")
            row = j.agg(*exprs)
            stack = ", ".join(
                "'{}', `__c{}`".format(lab.replace("'", "''"), i)
                for i, lab in enumerate(labels))
            return row.selectExpr(
                f"stack({len(labels)}, {stack}) AS (key, doc_count)"
            ).filter(F.col("doc_count") > 0)  # ES omits empty buckets
        if kind == "date_range":
            fld = body["field"]
            ts = F.col(fld).cast("timestamp")
            j = qhits.join(meta, "doc_id")
            exprs, labels = [], []
            for i, r in enumerate(body["ranges"]):
                pred = F.lit(True)
                if r.get("from") is not None:
                    pred = pred & (ts >= F.to_timestamp(
                        F.lit(str(r["from"]))))
                if r.get("to") is not None:
                    pred = pred & (ts < F.to_timestamp(
                        F.lit(str(r["to"]))))
                exprs.append(F.sum(F.when(pred, 1).otherwise(0))
                             .cast("long").alias(f"__r{i}"))
                labels.append(str(r.get("key") or
                                  f"{r.get('from', '*')}-"
                                  f"{r.get('to', '*')}"))
            row = j.agg(*exprs)
            stack = ", ".join(
                "'{}', `__r{}`".format(lab.replace("'", "''"), i)
                for i, lab in enumerate(labels))
            return row.selectExpr(
                f"stack({len(labels)}, {stack}) AS (key, doc_count)")
        if kind == "auto_date_histogram":
            return self._auto_date_histogram(body, sub, qhits, meta)
        if kind in ("sampler", "diversified_sampler"):
            if "score" not in hits.columns:
                raise EsDslError(
                    f"{kind} needs scored hits (search-body context)")
            if len(sub) != 1:
                raise EsDslError(
                    f"{kind} requires exactly one sub-aggregation")
            (sname, sspec), = sub.items()
            shard_size = int(body.get("shard_size", 100))
            pool = hits
            if kind == "diversified_sampler":
                # de-duplicate by the field BEFORE sampling: at most
                # max_docs_per_value per key, ranked by score — the
                # window partitions by the dedup field (distributed),
                # only the final take is a TakeOrdered
                fld = body["field"]
                dmax = int(body.get("max_docs_per_value", 1))
                pool = (hits.join(meta.select("doc_id", fld), "doc_id")
                        .withColumn("_rk", F.row_number().over(
                            Window.partitionBy(fld)
                            .orderBy(F.col("score").desc(),
                                     F.col("doc_id").asc())))
                        .filter(F.col("_rk") <= dmax))
            top = (pool.orderBy(F.col("score").desc(),
                                F.col("doc_id").asc())
                   .limit(shard_size).select("doc_id"))
            return self._agg(sspec, top)
        if kind == "composite":
            # sources: terms (raw column), histogram (floored numeric),
            # date_histogram (calendar/fixed truncation) — each source
            # becomes a computed key expression; the after-cursor tuple
            # predicate applies to the COMPUTED keys, pushed before the
            # bucket agg (page n never re-materializes pages 1..n−1)
            names, exprs = [], []
            for src in body["sources"]:
                (sname, sdef), = src.items()
                (skind, scfg), = sdef.items()
                fld = scfg["field"]
                if skind == "terms":
                    e = F.col(fld)
                elif skind == "histogram":
                    iv = float(scfg["interval"])
                    e = (F.floor(F.col(fld) / iv) * iv).cast("double")
                elif skind == "date_histogram":
                    ts = F.col(fld).cast("timestamp")
                    cal = scfg.get("calendar_interval")
                    if cal is not None:
                        unit_ = self._CALENDAR_UNITS.get(str(cal))
                        if unit_ is None:
                            raise EsDslError(
                                f"unsupported calendar_interval {cal!r}")
                        e = F.date_trunc(unit_, ts)
                    else:
                        import re as _re2

                        m = _re2.fullmatch(
                            r"(\d+)(s|m|h|d)",
                            str(scfg.get("fixed_interval")))
                        if not m:
                            raise EsDslError(
                                "date_histogram source needs "
                                "calendar_interval or fixed_interval")
                        secs_ = int(m.group(1)) * {
                            "s": 1, "m": 60, "h": 3600,
                            "d": 86400}[m.group(2)]
                        e = F.timestamp_seconds(
                            F.floor(F.unix_timestamp(ts) / secs_)
                            * secs_)
                else:
                    raise EsDslError(
                        f"unsupported composite source {skind!r}")
                names.append(sname)
                exprs.append(e.alias(sname))
            after = body.get("after")
            j = qhits.join(meta, "doc_id").select("doc_id", *exprs)
            if after:
                # the ES after_key is keyed by SOURCE name; push the
                # strict-greater tuple predicate BEFORE the bucket agg
                vals = [after[n] for n in names]
                gt = F.lit(False)
                for i in range(len(names) - 1, -1, -1):
                    head = F.lit(True)
                    for k_, v_ in zip(names[:i], vals[:i]):
                        head = head & (F.col(k_) == F.lit(v_))
                    gt = gt | (head & (F.col(names[i]) > F.lit(vals[i])))
                j = j.filter(gt)
            buckets = j.groupBy(*names).agg(
                F.count(F.lit(1)).cast("long").alias("doc_count"))
            # single request: TakeOrdered over buckets (batch callers
            # with real query_id columns use aggs.composite_page)
            return buckets.orderBy(
                *[F.col(n).asc() for n in names]).limit(
                int(body.get("size", 10)))
        if kind in self._METRIC_KINDS:
            # bare metric agg at the top level — one-row ES shape
            j = qhits.join(meta, "doc_id")
            return j.agg(*self._metric_exprs({"value": {kind: body}}))
        raise EsDslError(f"unsupported aggregation {kind!r}")

    _METRIC_KINDS = ("avg", "sum", "min", "max", "value_count",
                     "cardinality")
    # parent pipeline aggs: run over a multi-bucket agg's OWN buckets
    _PIPELINE_KINDS = ("derivative", "cumulative_sum", "serial_diff",
                       "moving_fn", "bucket_sort", "bucket_selector",
                       "bucket_script", "normalize")
    # sibling pipeline aggs: reduce a NAMED sibling agg's bucket frame
    _SIBLING_PIPELINES = ("avg_bucket", "sum_bucket", "min_bucket",
                          "max_bucket", "stats_bucket")
    _MOVING_FNS = {
        "MovingFunctions.unweightedAvg": F.avg,
        "MovingFunctions.min": F.min,
        "MovingFunctions.max": F.max,
        "MovingFunctions.sum": F.sum,
    }

    _SM_MAP_SUM = _re.compile(
        r"^state\.(\w+)\s*\+=\s*(.+)$", _re.S)
    _SM_MAP_FOLD = _re.compile(
        r"^state\.(\w+)\s*=\s*Math\.(max|min)\(\s*state\.\1\s*,\s*(.+)\)$",
        _re.S)
    _SM_REDUCE_SUM = _re.compile(
        r"^(?:double\s+|def\s+)?(\w+)\s*=\s*0(?:\.0)?\s*;\s*"
        r"for\s*\(\s*(?:\w+\s+)?(\w+)\s+in\s+states\s*\)\s*\{?\s*"
        r"\1\s*\+=\s*\2(?:\.(\w+))?\s*;?\s*\}?\s*return\s+\1\s*;?$", _re.S)
    _SM_REDUCE_FOLD = _re.compile(
        r"^(?:double\s+|def\s+)?(\w+)\s*=\s*(-?(?:\d+(?:\.\d+)?|"
        r"Double\.MAX_VALUE))\s*;\s*"
        r"for\s*\(\s*(?:\w+\s+)?(\w+)\s+in\s+states\s*\)\s*\{?\s*"
        r"\1\s*=\s*Math\.(max|min)\(\s*\1\s*,\s*\3(?:\.(\w+))?\s*\)"
        r"\s*;?\s*\}?\s*return\s+\1\s*;?$", _re.S)

    def _scripted_metric(self, body: dict, qhits: DataFrame,
                         meta: DataFrame) -> DataFrame:
        """Compile the associative scripted_metric pattern (see the
        dispatch comment in :meth:`_agg`) to one hash agg."""
        from dp_search_data_importer_spark.plans.painless import (
            PainlessError,
            compile_script,
        )

        def _norm(s) -> str:
            return str(s or "").strip().rstrip(";").strip()

        map_s = _norm(body["map_script"])
        reduce_s = str(body["reduce_script"]).strip()  # ES: required
        init_s = _norm(body.get("init_script"))
        combine_s = _norm(body.get("combine_script", "return state"))
        if "_score" in map_s:
            raise EsDslError("scripted_metric map_script cannot read "
                             "_score (map runs over the hit set)")

        m = self._SM_MAP_SUM.match(map_s)
        fold = None
        if m:
            var, expr_src = m.group(1), m.group(2)
            op = "sum"
        else:
            m = self._SM_MAP_FOLD.match(map_s)
            if not m:
                raise EsDslError(
                    "scripted_metric compiles only the associative "
                    "accumulator pattern (state.v += expr, or "
                    "state.v = Math.max/min(state.v, expr)) — "
                    "order-dependent state is not distributable")
            var, fold, expr_src = m.group(1), m.group(2), m.group(3)
            op = fold

        init_val = None
        if init_s:
            im = _re.match(r"^state\.(\w+)\s*=\s*(-?\d+(?:\.\d+)?)$",
                           init_s)
            if not im or im.group(1) != var:
                raise EsDslError(
                    f"scripted_metric init_script must initialize "
                    f"state.{var} to a numeric literal")
            init_val = float(im.group(2))
            if op == "sum" and init_val != 0.0:
                raise EsDslError(
                    "scripted_metric += with nonzero init is "
                    "shard-count-dependent in ES (init runs once per "
                    "shard) — refuse rather than pick a shard count")
        if combine_s not in ("return state", f"return state.{var}"):
            raise EsDslError(
                "scripted_metric combine_script must be 'return state' "
                f"or 'return state.{var}' — partial states merge in "
                "the aggregation itself")
        rm = self._SM_REDUCE_SUM.match(reduce_s)
        if rm:
            red_op, red_var = "sum", rm.group(3)
        else:
            rm = self._SM_REDUCE_FOLD.match(reduce_s)
            if not rm:
                raise EsDslError(
                    "scripted_metric reduce_script must be the "
                    "canonical states merge loop (acc = init; for (s "
                    "in states) { acc += s } return acc, or the "
                    "Math.max/min fold)")
            red_op, red_var = rm.group(4), rm.group(5)
            red_init_s = rm.group(2)
        if red_op != op or (red_var is not None and red_var != var):
            raise EsDslError(
                f"scripted_metric reduce op {red_op!r} does not match "
                f"map op {op!r} — a mismatched merge is not "
                f"associative and has no distributed meaning")
        if red_op in ("max", "min"):
            # the reduce loop's own init PARTICIPATES in the ES fold
            # (reduce runs once over the per-shard states): accept only
            # the op's identity or the map init — anything else (e.g.
            # 'm = 0' over all-negative data for max) would make the twin
            # silently return a different value than ES for a script it
            # accepted, against this module's refuse-don't-guess contract
            import sys as _sys

            red_init = (
                _sys.float_info.max if red_init_s == "Double.MAX_VALUE"
                else -_sys.float_info.max
                if red_init_s == "-Double.MAX_VALUE"
                else float(red_init_s))
            ident = (-_sys.float_info.max if red_op == "max"
                     else _sys.float_info.max)
            if red_init != ident and (init_val is None
                                      or red_init != init_val):
                raise EsDslError(
                    f"scripted_metric reduce init {red_init_s!r} "
                    f"participates in the ES fold; only the "
                    f"Math.{red_op} identity "
                    f"({'-' if red_op == 'max' else ''}Double.MAX_VALUE) "
                    "or the map init_script value is supported — any "
                    "other init would silently change the result vs ES")

        try:
            expr, flds = compile_script(expr_src, body.get("params"),
                                        F.lit(0.0), F.col)
        except PainlessError as e:
            raise EsDslError(f"scripted_metric map expression: {e}") \
                from e
        bad = [f_ for f_ in flds if f_ not in meta.columns]
        if bad:
            raise EsDslError(f"scripted_metric reads non-doc-value "
                             f"fields {bad}")
        j = qhits.join(meta.select("doc_id", *sorted(flds)), "doc_id") \
            if flds else qhits
        agg = {"sum": F.sum, "max": F.max, "min": F.min}[op](expr)
        if op == "sum":
            out = F.coalesce(agg, F.lit(0.0))
        elif init_val is not None:
            pick = F.greatest if op == "max" else F.least
            out = pick(F.lit(init_val), agg)
            out = F.coalesce(out, F.lit(init_val))
        else:
            out = agg
        return j.agg(out.cast("double").alias("value"))

    def _split_subaggs(self, sub: dict, parent: str,
                       pipeline_ok: tuple | None = None) -> tuple:
        """Partition a sub-agg dict into metric and pipeline specs;
        anything else is an error naming the parent."""
        allowed = (self._PIPELINE_KINDS if pipeline_ok is None
                   else pipeline_ok)
        metrics, pipes = {}, {}
        for n, s in (sub or {}).items():
            k = next(iter(s))
            if k in self._METRIC_KINDS:
                metrics[n] = s
            elif k in allowed:
                pipes[n] = s
            else:
                raise EsDslError(
                    f"{parent} sub-aggs must be metrics or pipeline "
                    f"aggregations, got {n!r} ({k!r})")
        return metrics, pipes

    def _apply_bucket_pipelines(self, buckets: DataFrame,
                                pipes: dict) -> DataFrame:
        """ES parent pipeline aggregations (public 7.10 pipeline-agg
        docs), applied to the bucket frame in request order:
        ``derivative``, ``serial_diff`` (lag n), ``cumulative_sum``,
        ``moving_fn`` (window w, shift s → the w buckets ending at
        s−1 relative to current, the ES default shift=0 excludes the
        current bucket), ``bucket_selector`` (Painless-subset predicate
        over params bound to bucket columns), ``bucket_sort``
        (sort/from/size truncation). The windows are deliberately
        UNPARTITIONED: they run over BUCKETS — cardinality bounded by
        time-span ÷ interval (or the terms ``size``) AFTER aggregation,
        thousands of rows at any corpus size — never over the hit set,
        so the single-task window is bucket-scale by construction."""
        import re as _re

        from pyspark.sql import Window

        w = Window.orderBy("key")
        sorted_last = False
        for name, spec in pipes.items():
            (kind, body), = spec.items()
            sorted_last = False
            if kind == "bucket_sort":
                cols = []
                for s in _as_list(body.get("sort", [])):
                    if isinstance(s, dict):
                        (f_, d_), = s.items()
                        od = (d_.get("order", "asc")
                              if isinstance(d_, dict) else str(d_))
                    else:
                        f_, od = s, "asc"
                    c = F.col(_bucket_metric_col(f_, buckets.columns))
                    cols.append(c.desc() if od == "desc" else c.asc())
                if cols:
                    buckets = buckets.orderBy(*cols, F.col("key").asc())
                    sorted_last = True
                frm = int(body.get("from", 0))
                if frm:
                    buckets = buckets.offset(frm)
                if "size" in body:
                    buckets = buckets.limit(int(body["size"]))
                continue
            if kind in ("bucket_selector", "bucket_script"):
                from dp_search_data_importer_spark.plans.painless import (
                    compile_script,
                )

                script = body["script"]
                src = (script["source"] if isinstance(script, dict)
                       else str(script))
                params = {
                    p: F.col(_bucket_metric_col(v, buckets.columns))
                    .cast("double")
                    for p, v in body["buckets_path"].items()}

                def _no_doc(fname: str):
                    raise EsDslError(
                        f"{kind} scripts reference params, "
                        f"not doc values (doc[{fname!r}])")

                col, _ = compile_script(src, params, F.lit(0.0), _no_doc)
                if kind == "bucket_selector":
                    buckets = buckets.filter(col)
                else:
                    # bucket_script: a derived per-bucket metric (the
                    # dashboard ratio column), usable by later pipelines
                    buckets = buckets.withColumn(name,
                                                 col.cast("double"))
                continue
            if kind == "normalize":
                # ES normalize pipeline: rescale the metric across the
                # bucket frame — the stats come from an unpartitioned
                # window over BUCKETS (bucket-scale by construction)
                p_ = _bucket_metric_col(str(body["buckets_path"]),
                                        buckets.columns)
                v_ = F.col(p_).cast("double")
                wall = Window.orderBy("key").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing)
                method = str(body.get("method", "rescale_0_1"))
                if method == "rescale_0_1":
                    lo, hi = F.min(v_).over(wall), F.max(v_).over(wall)
                    e2 = F.when(hi == lo, F.lit(0.0)) \
                        .otherwise((v_ - lo) / (hi - lo))
                elif method == "percent_of_sum":
                    e2 = v_ / F.sum(v_).over(wall)
                elif method == "mean":
                    lo, hi = F.min(v_).over(wall), F.max(v_).over(wall)
                    e2 = F.when(hi == lo, F.lit(0.0)).otherwise(
                        (v_ - F.avg(v_).over(wall)) / (hi - lo))
                else:
                    raise EsDslError(
                        f"unsupported normalize method {method!r}")
                buckets = buckets.withColumn(name, e2.cast("double"))
                continue
            p = _bucket_metric_col(str(body["buckets_path"]),
                                   buckets.columns)
            v = F.col(p).cast("double")
            if kind == "derivative":
                e = v - F.lag(v, 1).over(w)
            elif kind == "serial_diff":
                e = v - F.lag(v, int(body.get("lag", 1))).over(w)
            elif kind == "cumulative_sum":
                e = F.sum(v).over(w.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow))
            elif kind == "moving_fn":
                m = _re.fullmatch(r"(MovingFunctions\.\w+)\(values\)",
                                  str(body["script"]).strip())
                fn = self._MOVING_FNS.get(m.group(1)) if m else None
                if fn is None:
                    raise EsDslError(
                        f"unsupported moving_fn script "
                        f"{body.get('script')!r} — supported: "
                        f"{sorted(self._MOVING_FNS)}")
                wsize = int(body["window"])
                shift = int(body.get("shift", 0))
                e = fn(v).over(w.rowsBetween(-wsize + shift, shift - 1))
            else:  # pragma: no cover — _split_subaggs gates kinds
                raise EsDslError(f"unsupported pipeline agg {kind!r}")
            buckets = buckets.withColumn(name, e.cast("double"))
        return buckets if sorted_last else buckets.orderBy("key")

    def assemble_aggs(self, aggs: dict, hits: DataFrame) -> dict:
        """Run every named top-level aggregation over the hit set.
        Sibling pipeline aggs (``avg_bucket``/``sum_bucket``/
        ``min_bucket``/``max_bucket``/``stats_bucket``) resolve AFTER
        their targets: each reduces an already-aggregated sibling bucket
        frame through ``buckets_path`` (``sibling>metric``, ``_count``
        for doc counts) — bucket-scale input, one tiny agg job, nulls
        (gap policy ``skip``) ignored by the aggregate itself."""
        out: dict[str, DataFrame] = {}
        siblings: dict[str, dict] = {}
        for name, spec in aggs.items():
            kind = next(k for k in spec
                        if k not in ("aggs", "aggregations"))
            if kind in self._SIBLING_PIPELINES:
                siblings[name] = spec
            else:
                out[name] = self._agg(spec, hits)
        for name, spec in siblings.items():
            (kind, body), = spec.items()
            sib, _, metric = str(body["buckets_path"]).partition(">")
            if sib not in out:
                raise EsDslError(
                    f"buckets_path target {sib!r} is not a sibling "
                    f"aggregation")
            frame = out[sib]
            col = _bucket_metric_col(metric or "_count", frame.columns)
            v = F.col(col).cast("double")
            if kind == "stats_bucket":
                out[name] = frame.agg(
                    F.count(v).cast("long").alias("count"),
                    F.min(v).alias("min"), F.max(v).alias("max"),
                    F.avg(v).alias("avg"), F.sum(v).alias("sum"))
            else:
                fn = {"avg_bucket": F.avg, "sum_bucket": F.sum,
                      "min_bucket": F.min, "max_bucket": F.max}[kind]
                out[name] = frame.agg(fn(v).alias("value"))
        return out

    def _metric_exprs(self, metrics: dict) -> list:
        """Aggregate expressions for metric sub-aggs — evaluated in the
        SAME groupBy as the bucket counts (one shuffle, map-side
        partials). avg/sum/min/max surface as double (the ES JSON shape),
        value_count/cardinality as long."""
        exprs = []
        for name, sspec in metrics.items():
            (skind, sbody), = sspec.items()
            c = F.col(sbody["field"])
            # avg/sum accumulate in the column's native type (exact for
            # integers — no double-associativity drift across partition
            # orders) and surface as double, the ES JSON shape
            if skind == "avg":
                e = F.sum(c).cast("double") / F.count(c).cast("double")
            elif skind == "sum":
                e = F.sum(c).cast("double")
            elif skind == "min":
                e = F.min(c.cast("double"))
            elif skind == "max":
                e = F.max(c.cast("double"))
            elif skind == "value_count":
                e = F.count(c).cast("long")
            elif skind == "cardinality":
                e = F.count_distinct(c).cast("long")
            else:  # pragma: no cover
                raise EsDslError(f"unsupported metric sub-agg {skind!r}")
            exprs.append(e.alias(name))
        return exprs

    _CALENDAR_UNITS = {
        "minute": "minute", "1m": "minute", "hour": "hour", "1h": "hour",
        "day": "day", "1d": "day", "week": "week", "1w": "week",
        "month": "month", "1M": "month", "quarter": "quarter",
        "1q": "quarter", "year": "year", "1y": "year",
    }

    def _date_histogram(self, body: dict, sub: dict, qhits: DataFrame,
                        meta: DataFrame) -> DataFrame:
        """ES ``date_histogram`` over the hit set: ``calendar_interval``
        truncates with ``date_trunc`` (week = ISO Monday, matching ES);
        ``fixed_interval`` (``ms/s/m/h/d``) floors epoch seconds. Key
        surfaces as timestamp (ES returns epoch millis + key_as_string —
        same instant, Spark-native type). ``min_doc_count: 0`` (the ES
        default) fills EMPTY buckets between the first and last populated
        key via one single-row bounds agg + ``sequence`` explode — no
        driver collect, bucket count bounded by the data's time span.
        Metric sub-aggs evaluate in the SAME groupBy (one shuffle);
        sum/value_count fill 0 on empty buckets, the ES shape."""
        import re as _re

        fld = body["field"]
        mdc = int(body.get("min_doc_count", 0))
        metrics, pipes = self._split_subaggs(sub, "date_histogram")
        cal = body.get("calendar_interval")
        fixed = body.get("fixed_interval", body.get("interval"))
        ts = F.col(fld).cast("timestamp")
        if cal is not None:
            unit = self._CALENDAR_UNITS.get(str(cal))
            if unit is None:
                raise EsDslError(
                    f"unsupported calendar_interval {cal!r}")
            key = F.date_trunc(unit, ts)
            step = f"interval 1 {unit}"
        elif fixed is not None:
            m = _re.fullmatch(r"(\d+)(ms|s|m|h|d)", str(fixed))
            if not m:
                raise EsDslError(
                    f"unsupported fixed_interval {fixed!r}")
            n, u = int(m.group(1)), m.group(2)
            secs = {"ms": 0.001, "s": 1, "m": 60,
                    "h": 3600, "d": 86400}[u] * n
            if secs < 1 or secs != int(secs):
                raise EsDslError("fixed_interval must be >= 1s here")
            secs = int(secs)
            key = F.timestamp_seconds(
                F.floor(F.unix_timestamp(ts) / secs) * secs)
            step = f"interval {secs} second"
        else:
            raise EsDslError("date_histogram requires calendar_interval "
                             "or fixed_interval")
        j = qhits.join(meta, "doc_id")
        buckets = (j.groupBy(key.alias("key"))
                   .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
                        *self._metric_exprs(metrics)))
        if mdc == 0:
            lo_c, hi_c = F.min("key"), F.max("key")
            eb = body.get("extended_bounds")
            if eb:
                # ES extended_bounds: widen the fill beyond the data's
                # own span (dashboards want fixed axes); keys align to
                # the same truncation as the data buckets
                if "min" in eb:
                    lo_c = F.least(lo_c, F.date_trunc(
                        unit, F.to_timestamp(F.lit(str(eb["min"]))))
                        if cal is not None else F.timestamp_seconds(
                            F.floor(F.unix_timestamp(F.to_timestamp(
                                F.lit(str(eb["min"])))) / secs) * secs))
                if "max" in eb:
                    hi_c = F.greatest(hi_c, F.date_trunc(
                        unit, F.to_timestamp(F.lit(str(eb["max"]))))
                        if cal is not None else F.timestamp_seconds(
                            F.floor(F.unix_timestamp(F.to_timestamp(
                                F.lit(str(eb["max"])))) / secs) * secs))
            bounds = buckets.agg(lo_c.alias("lo"), hi_c.alias("hi"))
            keys = bounds.select(
                F.explode(F.sequence("lo", "hi", F.expr(step)))
                .alias("key"))
            # both sides are bucket-scale (bounded by time span ÷
            # interval, post-aggregation); broadcast the aggregated side
            # so the fill never sort-merge-shuffles
            buckets = keys.join(F.broadcast(buckets), "key", "left")
            fills: dict = {"doc_count": 0}
            for n_, s_ in metrics.items():
                if next(iter(s_)) in ("sum", "value_count"):
                    fills[n_] = 0
            buckets = buckets.na.fill(fills)
        else:
            buckets = buckets.filter(F.col("doc_count") >= mdc)
        if pipes:
            return self._apply_bucket_pipelines(buckets, pipes)
        return buckets.orderBy("key")

    # (seconds, ES-style label); month+ rungs are fixed-day
    # approximations (30d/90d/365d) — a documented divergence from the
    # ES calendar rungs, which need calendar arithmetic per bucket
    _AUTO_LADDER = [
        (1, "1s"), (5, "5s"), (10, "10s"), (30, "30s"),
        (60, "1m"), (300, "5m"), (600, "10m"), (1800, "30m"),
        (3600, "1h"), (10800, "3h"), (43200, "12h"),
        (86400, "1d"), (7 * 86400, "7d"), (30 * 86400, "30d"),
        (90 * 86400, "90d"), (365 * 86400, "365d"),
        (5 * 365 * 86400, "1825d"),
    ]

    def _auto_date_histogram(self, body: dict, sub: dict,
                             qhits: DataFrame,
                             meta: DataFrame) -> DataFrame:
        """ES ``auto_date_histogram``: pick the smallest ladder interval
        producing at most ``buckets`` buckets over the hit set's time
        span, then bucket exactly like ``fixed_interval``. The span
        comes from ONE single-row bounds agg (a bounded driver collect —
        two timestamps, independent of corpus size); the chosen interval
        surfaces as a literal column (the ES response's ``interval``
        field). Metric sub-aggs fold into the same groupBy."""
        fld = body["field"]
        target = max(1, int(body.get("buckets", 10)))
        metrics, pipes = self._split_subaggs(sub, "auto_date_histogram")
        ts = F.col(fld).cast("timestamp")
        j = qhits.join(meta, "doc_id")
        row = j.agg(
            F.min(F.unix_timestamp(ts)).alias("lo"),
            F.max(F.unix_timestamp(ts)).alias("hi")).collect()[0]
        if row["lo"] is None:
            return self.spark.createDataFrame(
                [], "key timestamp, doc_count long, interval string")
        span = int(row["hi"]) - int(row["lo"])
        secs, label = self._AUTO_LADDER[-1]
        for s_, lab in self._AUTO_LADDER:
            if span // s_ + 1 <= target:
                secs, label = s_, lab
                break
        key = F.timestamp_seconds(
            F.floor(F.unix_timestamp(ts) / secs) * secs)
        buckets = (j.groupBy(key.alias("key"))
                   .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
                        *self._metric_exprs(metrics))
                   .withColumn("interval", F.lit(label)))
        if pipes:
            return self._apply_bucket_pipelines(buckets, pipes)
        return buckets.orderBy("key")

    def _order_buckets(self, buckets: DataFrame, body: dict,
                       size: int) -> DataFrame:
        """ES terms-agg bucket ordering: ``order`` on ``_count`` (the
        default, desc), ``_key``, or a metric sub-agg name; key asc always
        breaks ties. TakeOrdered (orderBy().limit()), never a window."""
        order = body.get("order") or {"_count": "desc"}
        (okey, odir), = order.items()
        col = {"_count": "doc_count", "_key": "key"}.get(okey, okey)
        if col not in buckets.columns:
            raise EsDslError(f"order target {okey!r} is not a sub-agg")
        lead = (F.col(col).desc() if str(odir) == "desc"
                else F.col(col).asc())
        return buckets.orderBy(lead, F.col("key").asc()).limit(size)

    def _terms_with_subaggs(self, body: dict, sub: dict, qhits: DataFrame,
                            meta: DataFrame) -> DataFrame:
        """``terms`` with sub-aggregations. Metric children fold into the
        parent's single hash aggregation; ONE nested ``terms`` child (with
        optional metric children of its own) runs as a single doc-level
        groupBy(parent, child) — parent doc_counts re-derive from the
        child partials at bucket scale, so the hit set shuffles once
        regardless of nesting. Flattened child shape: ``key, doc_count,
        sub_key, sub_count[, metric…]`` rows, parents ordered per the ES
        bucket order, children by (count desc, key asc) within each."""
        fld, size = body["field"], int(body.get("size", 10))
        nested = {n: s for n, s in sub.items() if "terms" in s}
        # terms buckets are unordered, so only the order-free pipeline
        # aggs apply (ES rejects derivative & co under terms too)
        metrics, pipes = self._split_subaggs(
            {n: s for n, s in sub.items() if n not in nested}, "terms",
            pipeline_ok=("bucket_sort", "bucket_selector"))
        if len(nested) > 1:
            raise EsDslError("at most one nested terms sub-agg")
        if nested and (metrics or pipes):
            raise EsDslError("metric sub-aggs must sit under the nested "
                             "terms child, not alongside it")
        j = qhits.join(meta, "doc_id")
        if not nested:
            buckets = (j.groupBy(F.col(fld).cast("string").alias("key"))
                       .agg(F.count(F.lit(1)).cast("long")
                            .alias("doc_count"),
                            *self._metric_exprs(metrics)))
            mdc = int(body.get("min_doc_count", 1))
            if mdc > 1:
                buckets = buckets.filter(F.col("doc_count") >= mdc)
            # pipelines run over the FINAL (ordered, size-truncated)
            # bucket response — the ES reduce-phase contract
            out = self._order_buckets(buckets, body, size)
            if pipes:
                out = self._apply_bucket_pipelines(out, pipes)
            return out
        (cname, cspec), = nested.items()
        cbody = cspec["terms"]
        csub = cspec.get("aggs") or cspec.get("aggregations") or {}
        if any("terms" in s for s in csub.values()):
            raise EsDslError("terms nesting deeper than two levels")
        cfld, csize = cbody["field"], int(cbody.get("size", 10))
        # ONE doc-level shuffle: child buckets keyed (parent, child); the
        # child key keeps nulls so parent doc_counts stay exact, null-key
        # child rows drop from the output (the ES terms-agg contract)
        cb = (j.groupBy(F.col(fld).cast("string").alias("key"),
                        F.col(cfld).cast("string").alias("sub_key"))
              .agg(F.count(F.lit(1)).cast("long").alias("sub_count"),
                   *self._metric_exprs(csub)))
        parents = (cb.groupBy("key")
                   .agg(F.sum("sub_count").cast("long").alias("doc_count")))
        top = self._order_buckets(parents, body, size)
        ranked = (cb.filter(F.col("sub_key").isNotNull())
                  .join(F.broadcast(top), "key")
                  .withColumn("_rk", F.row_number().over(
                      Window.partitionBy("key")
                      .orderBy(F.col("sub_count").desc(),
                               F.col("sub_key").asc())))
                  .filter(F.col("_rk") <= F.lit(csize)).drop("_rk"))
        return ranked.select("key", "doc_count", "sub_key", "sub_count",
                             *list(csub))

    # --------------------------------------------- highlight / suggest

    def _collect_terms(self, node: dict) -> list[str]:
        """Analyzed scoring terms of a query tree — what ES's highlighter
        marks up: match-family texts and text-field term/terms values
        from SCORING context (must/should/positive/queries branches);
        filter context and must_not are never highlighted."""
        (kind, spec), = node.items()
        if kind in ("match", "match_phrase", "match_phrase_prefix"):
            _, text, _ = self._field_spec(spec, "query")
            return self._tokens(str(text))
        if kind == "multi_match":
            return self._tokens(str(spec["query"]))
        if kind in ("term", "terms"):
            field, value, _ = self._field_spec(spec, "value")
            if not self._meta_col(field):
                return [str(v) for v in _as_list(value)]
            return []
        if kind == "bool":
            out: list[str] = []
            for n in _as_list(spec.get("must", [])) \
                    + _as_list(spec.get("should", [])):
                out += self._collect_terms(n)
            return out
        if kind == "dis_max":
            return [t for q in spec["queries"]
                    for t in self._collect_terms(q)]
        if kind == "boosting":
            return self._collect_terms(spec["positive"])
        if kind == "function_score":
            return self._collect_terms(spec["query"])
        return []  # match_all / expansion families / filter leaves

    def _highlight(self, hl: dict, query: dict,
                   hits: DataFrame) -> DataFrame:
        """``highlight`` section: first-occurrence ±window-token snippet
        per (hit doc, scoring term, field) — ``operators/phrase.
        term_snippets`` restricted to the hit set by a semi-join (only
        returned docs are re-analyzed, the ES execution shape). Token
        granularity; the per-field ``fragment_token_window`` option (ES
        custom per-field options passthrough) sizes the fragment,
        default ±5 tokens."""
        from dp_search_data_importer_spark.operators.phrase import (
            term_snippets,
        )

        terms = sorted(set(self._collect_terms(query)))
        if not terms:
            raise EsDslError("highlight requires a query with scoring "
                             "terms (match/term families)")
        fields = hl.get("fields") or {"text": {}}
        hit_docs = self.docs.join(
            hits.select(F.col("doc_id").alias(self.id_col)),
            self.id_col, "left_semi")
        parts = []
        for fld, opts in fields.items():
            win = int((opts or {}).get("fragment_token_window", 5))
            parts.append(
                term_snippets(hit_docs, terms, window=win,
                              id_col=self.id_col, text_col=fld)
                .withColumn("field", F.lit(fld)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _suggest(self, spec: dict) -> dict[str, DataFrame]:
        """``suggest`` section: completion (prefix → dictionary terms by
        popularity) and term (did-you-mean: bounded-edit-distance
        dictionary corrections) suggesters. Both are one distributed
        pass over the field's term dictionary with TakeOrdered ranking;
        the term suggester applies the length-window and char-set
        prunes before the levenshtein kernel."""
        out: dict[str, DataFrame] = {}
        for name, s in spec.items():
            if "completion" in s:
                c = s["completion"]
                d = self.dfs(c.get("field", self.text_fields[0]))
                out[name] = (
                    d.filter(F.col("term").startswith(str(s["prefix"])))
                    .orderBy(F.col("df").desc(), F.col("term").asc())
                    .limit(int(c.get("size", 5)))
                    .select("term", "df"))
            elif "term" in s:
                t = s["term"]
                token = str(s["text"])
                max_edits = int(t.get("max_edits", 2))
                d = self.dfs(t.get("field", self.text_fields[0]))

                def chars(c):
                    return F.array_distinct(F.split(c, ""))

                cand = d.filter(
                    (F.length("term") >= F.lit(len(token) - max_edits))
                    & (F.length("term") <= F.lit(len(token) + max_edits))
                    & (F.size(F.array_except(
                        chars(F.col("term")), chars(F.lit(token))))
                       <= max_edits)
                    & (F.size(F.array_except(
                        chars(F.lit(token)), chars(F.col("term"))))
                       <= max_edits)
                ).withColumn(
                    "dist",
                    F.levenshtein(F.col("term"), F.lit(token)))
                out[name] = (
                    cand.filter(F.col("dist") <= max_edits)
                    .orderBy(F.col("dist").asc(), F.col("df").desc(),
                             F.col("term").asc())
                    .limit(int(t.get("size", 5)))
                    .select("term", F.col("dist").cast("long")
                            .alias("dist"), "df"))
            elif "phrase" in s:
                out[name] = self._phrase_suggest(s)
            else:
                raise EsDslError(
                    f"suggester {name!r}: need 'completion', 'term' or "
                    f"'phrase'")
        return out

    def _phrase_suggest(self, s: dict) -> DataFrame:
        """ES ``phrase`` suggester (whole-phrase did-you-mean), the
        scale-sane twin: per-token candidates come from ONE distributed
        batch pass over the field's term dictionary (the same
        length-window + char-set prunes as the term suggester, all
        tokens in one join), then combinations are enumerated and
        scored on the driver — bounded by request parameters
        (≤ num_candidates^n_tokens, capped), never by data size.

        Scoring (documented divergence — ES uses a shard-local
        stupid-backoff LM with separate error likelihoods): each
        candidate contributes ``log10(df + 1) − edit_distance``; a
        token with no in-dictionary candidate survives unchanged at
        df = 0. Phrases rank by (score desc, phrase asc), rounded to
        6 dp so an engine/oracle replay agrees exactly."""
        import itertools
        import math

        from dp_search_data_importer_spark.session import local_df

        p = s["phrase"]
        field = p.get("field", self.text_fields[0])
        size = int(p.get("size", 5))
        gens = _as_list(p.get("direct_generator", [{}]))
        max_edits = int((gens[0] or {}).get("max_edits", 2))
        n_cand = int((gens[0] or {}).get("size", 5))
        toks = self._tokens(str(s["text"]))
        if not toks:
            raise EsDslError("phrase suggester needs a non-empty text")
        tdf = local_df(self.spark,
                       [(i, t) for i, t in enumerate(toks)],
                       "pos int, token string")
        d = self.dfs(field)

        def chars(c):
            return F.array_distinct(F.split(c, ""))

        cand = (d.join(F.broadcast(tdf))
                .filter(
                    (F.length("term")
                     >= F.length("token") - F.lit(max_edits))
                    & (F.length("term")
                       <= F.length("token") + F.lit(max_edits))
                    & (F.size(F.array_except(
                        chars(F.col("term")), chars(F.col("token"))))
                       <= max_edits)
                    & (F.size(F.array_except(
                        chars(F.col("token")), chars(F.col("term"))))
                       <= max_edits))
                .withColumn("dist", F.levenshtein("term", "token"))
                .filter(F.col("dist") <= max_edits))
        # top-n_cand per pos, salted by term so a huge candidate set
        # never funnels through one task per token
        rows = (salted_topn(
            cand, ["pos"],
            (F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()),
            n_cand, salt_col=F.col("term"))
                .select("pos", "term", "dist", "df").collect())
        by_pos: dict[int, list[tuple[str, int, int]]] = {}
        for r in rows:
            by_pos.setdefault(r["pos"], []).append(
                (r["term"], r["dist"], r["df"]))
        slots = [by_pos.get(i) or [(t, 0, 0)]
                 for i, t in enumerate(toks)]
        # cap the product deterministically: trim the widest slots
        while math.prod(len(sl) for sl in slots) > 10_000:
            widest = max(range(len(slots)), key=lambda i: len(slots[i]))
            slots[widest] = slots[widest][:-1]
        scored = []
        for combo in itertools.product(*slots):
            phrase = " ".join(c[0] for c in combo)
            score = sum(math.log10(c[2] + 1) - c[1] for c in combo)
            scored.append((phrase, round(score, 6)))
        scored.sort(key=lambda t: (-t[1], t[0]))
        return local_df(self.spark, scored[:size],
                        "phrase string, score double")

    # --------------------------------------------------------------- search

    @staticmethod
    def _single_topk(scores: DataFrame, k: int,
                     after: tuple[float, int] | None = None) -> DataFrame:
        """Single-request top-k: round-then-rank like
        :func:`~.bm25.topk`, but via ``orderBy().limit()`` — Spark
        compiles it to TakeOrdered (distributed per-partition top-k +
        driver merge of k·n_parts rows). A window partitioned by a
        CONSTANT query_id would constant-fold to an unpartitioned window
        and funnel every candidate through one task; batch callers with
        real query_id data columns keep using ``topk``."""
        r = scores.withColumn("score", F.round("score", ROUND_DIGITS))
        if after is not None:
            s, d = round(float(after[0]), ROUND_DIGITS), int(after[1])
            r = r.filter((F.col("score") < F.lit(s))
                         | ((F.col("score") == F.lit(s))
                            & (F.col("doc_id") > F.lit(d))))
        return r.orderBy(F.col("score").desc(), F.col("doc_id").asc()) \
            .limit(k)

    @staticmethod
    def _single_sort_topk(hits: DataFrame, fld: str, k: int,
                          ascending: bool,
                          after: tuple | None = None) -> DataFrame:
        """Single-request field sort: TakeOrdered on (field, doc_id)
        with the search_after cursor pushed as a strict-after
        predicate."""
        v = F.col(fld)
        if after is not None:
            cv, cd = after[0], int(after[1])
            strict = (v > F.lit(cv)) if ascending else (v < F.lit(cv))
            hits = hits.filter(strict | ((v == F.lit(cv))
                                         & (F.col("doc_id") > F.lit(cd))))
        order = (v.asc(), F.col("doc_id").asc()) if ascending else \
            (v.desc(), F.col("doc_id").asc())
        return hits.orderBy(*order).limit(k)

    def search(self, body: dict) -> SearchResult:
        """Compile a full ``_search`` body. Returns lazy DataFrames:
        ``hits`` as (doc_id, score) in rank order semantics (apply
        ``.orderBy`` on collect for display), plus one DataFrame per
        named aggregation."""
        if "runtime_mappings" in body:
            # ES runtime fields: query-time computed columns from the
            # Painless subset (doc values + params, no _score) — the
            # planner reruns with docs.withColumn(...), so the runtime
            # field works EVERYWHERE a mapped field does (filters,
            # aggs, sort, distance_feature, …) and Catalyst folds the
            # expression into the same scan (no materialization)
            sub = dict(body)
            rms = sub.pop("runtime_mappings")
            planner = self.with_runtime_fields(rms)
            return planner.search(sub)
        if "knn" in body:
            return self._knn_search(body)
        unknown = set(body) - {"query", "size", "sort", "search_after",
                               "rescore", "collapse", "aggs",
                               "aggregations", "from", "highlight",
                               "suggest", "min_score", "_source",
                               "fields", "docvalue_fields"}
        if unknown:
            raise EsDslError(f"unsupported body keys {sorted(unknown)}")
        if "from" in body:
            raise EsDslError(
                "from+size pagination unsupported — use search_after "
                "(the cursor is exact and never re-materializes pages)")
        scores = self.score(body.get("query", {"match_all": {}}))
        if "min_score" in body:
            # ES body-level min_score: hits below the threshold leave
            # the result set entirely — aggs see the pruned set too
            scores = scores.filter(
                F.col("score") >= F.lit(float(body["min_score"])))
        size = int(body.get("size", 10))

        collapse = body.get("collapse")
        if collapse:
            fld = collapse["field"]
            meta = self.docs.select(F.col(self.id_col).alias("doc_id"), fld)
            j = scores.withColumn(
                "score", F.round("score", ROUND_DIGITS)).join(meta, "doc_id")
            order = (F.col("score").desc(), F.col("doc_id").asc())
            # per-collapse-key winner, partitioned by the REAL key column
            # (no constant partition keys anywhere)
            winners = salted_topn(j, [fld], order, 1,
                                  salt_col=F.col("doc_id"))
            hits = (winners.orderBy(F.col("score").desc(),
                                    F.col("doc_id").asc()).limit(size))
            if "inner_hits" in collapse:
                # ES collapse.inner_hits: the top-N docs of each group
                # that made the page. Same salted per-group rank as the
                # winner pass (never one task per group);
                # the page's group keys are ≤ size rows — broadcast
                # semi-join prunes the expansion to exactly those
                # groups before the rank runs.
                ih = collapse["inner_hits"]
                # loud refusal on unsupported options (sort, from,
                # _source, …) — a custom inner sort silently served
                # score-ordered otherwise, unlike the body-level
                # unknown-key check
                bad = sorted(set(ih) - {"name", "size"})
                if bad:
                    raise EsDslError(
                        f"collapse.inner_hits supports only "
                        f"'name'/'size'; got {bad}")
                n_inner = int(ih.get("size", 3))
                page_keys = hits.select(fld).distinct()
                grp = j.join(F.broadcast(page_keys), fld, "left_semi")
                inner = (salted_topn(grp, [fld], order, n_inner,
                                     salt_col=F.col("doc_id"),
                                     rank_col="hit_rank")
                         .select(fld, "doc_id", "score", "hit_rank"))
            else:
                inner = None
        else:
            inner = None
            sort = _as_list(body.get("sort", ["_score"]))
            primary = sort[0]
            after = body.get("search_after")
            if primary == "_score" or primary == {"_score": "desc"} \
                    or (isinstance(primary, dict) and "_score" in primary):
                cur = (float(after[0]), int(after[1])) if after else None
                rescore = body.get("rescore")
                if rescore:
                    rq = rescore["query"]
                    window = self._single_topk(
                        scores, int(rescore.get("window_size", 10)))
                    rescorer = self.score(rq["rescore_query"])
                    joined = window.withColumnRenamed(
                        "score", "base_score").join(
                        rescorer.withColumnRenamed("score", "re_score"),
                        "doc_id", "left")
                    combined = joined.select(
                        "doc_id",
                        (F.lit(float(rq.get("query_weight", 1.0)))
                         * F.col("base_score")
                         + F.lit(float(rq.get("rescore_query_weight", 1.0)))
                         * F.coalesce(F.col("re_score"), F.lit(0.0))
                         ).alias("score"))
                    hits = self._single_topk(combined, size)
                else:
                    hits = self._single_topk(scores, size, after=cur)
            else:
                (fld, fdir), = primary.items()
                asc = (fdir.get("order", "asc") if isinstance(fdir, dict)
                       else str(fdir)) == "asc"
                if body.get("rescore"):
                    raise EsDslError("rescore requires sort by _score")
                meta = self.docs.select(
                    F.col(self.id_col).alias("doc_id"), fld)
                cur = (after[0], int(after[1])) if after else None
                hits = self._single_sort_topk(
                    scores.select("doc_id").join(meta, "doc_id"),
                    fld, size, ascending=asc, after=cur)

        hits = self._project_source(hits, body)
        aggregations = self.assemble_aggs(
            body.get("aggs") or body.get("aggregations") or {},
            scores)
        highlights = None
        if "highlight" in body:
            highlights = self._highlight(
                body["highlight"],
                body.get("query", {"match_all": {}}), hits)
        suggestions = self._suggest(body.get("suggest") or {})
        return SearchResult(hits=hits, aggregations=aggregations,
                            highlights=highlights,
                            suggestions=suggestions,
                            inner_hits=inner)

    def mget(self, ids: list[int],
             source=None) -> DataFrame:
        """ES ``_mget`` twin: fetch documents by id. ``source`` follows
        the ``_source`` shapes (true / list / {includes, excludes});
        default returns every doc column (the _mget contract — unlike
        ``search``, _mget exists to read documents). A literal IN
        predicate on the id column — pushed into the scan."""
        out = self.docs.filter(
            F.col(self.id_col).isin([int(i) for i in ids]))
        if source is None or source is True:
            return out
        hits = out.select(F.col(self.id_col).alias("doc_id"))
        return self._project_source(hits, {"_source": source})

    def rank_eval(self, body: dict,
                  ratings_df: DataFrame | None = None) -> DataFrame:
        """ES ``_rank_eval`` endpoint twin: evaluate ranked search
        quality against rated documents. ``body["requests"]`` is the ES
        shape — each entry has an ``id``, a ``request`` (any supported
        ``_search`` query), and ``ratings`` ([{_id, rating}]); one
        ``metric`` per call (``precision`` / ``recall`` /
        ``mean_reciprocal_rank`` / ``dcg`` [+``normalize`` → NDCG]).

        Returns (id, metric_score) per request plus an ``_overall`` row
        (the unweighted mean — the ES response's ``metric_score``).

        Scale shape: each request compiles to the same top-k plan
        ``search`` uses; the per-request frames (≤ k rows each,
        request-bounded) union once, ratings attach as one broadcast
        join, and every metric is ONE grouped aggregation. Ranks are
        deterministic — (round(score, 4) desc, doc_id asc), the
        engine-wide tie-break. ``ratings_df`` (query_key, doc_id,
        rating) replaces the literal rating lists for programmatic
        evaluation at scale."""
        from dp_search_data_importer_spark.session import local_df

        requests = _as_list(body["requests"])
        (mkind, mspec), = body["metric"].items()
        mspec = mspec or {}
        k = int(mspec.get("k", 10))
        thr = int(mspec.get("relevant_rating_threshold", 1))

        per_q = []
        rating_rows = []
        for req in requests:
            qid = str(req["id"])
            topk = self._single_topk(
                self.score(req["request"]["query"]), k)
            w = Window.orderBy(F.col("score").desc(),
                               F.col("doc_id").asc())
            per_q.append(topk.select(
                F.lit(qid).alias("qkey"), "doc_id",
                F.row_number().over(w).alias("rank")))
            for r in req.get("ratings", []):
                rating_rows.append((qid, int(r["_id"]),
                                    int(r["rating"])))
        ranked = per_q[0]
        for f_ in per_q[1:]:
            ranked = ranked.unionByName(f_)
        if ratings_df is not None:
            ratings = ratings_df.select(
                F.col("qkey").cast("string").alias("qkey"),
                "doc_id", "rating")
        else:
            ratings = local_df(
                self.spark, rating_rows,
                "qkey string, doc_id long, rating int")
        rel = F.coalesce(F.col("rating"), F.lit(0)) >= thr
        j = ranked.join(F.broadcast(ratings), ["qkey", "doc_id"],
                        "left")
        if mkind == "precision":
            out = j.groupBy("qkey").agg(
                (F.sum(rel.cast("int")) / F.count(F.lit(1)))
                .alias("metric_score"))
        elif mkind == "recall":
            tot = ratings.filter(F.col("rating") >= thr) \
                .groupBy("qkey").agg(F.count(F.lit(1)).alias("n_rel"))
            out = (j.groupBy("qkey")
                   .agg(F.sum(rel.cast("int")).alias("got"))
                   .join(F.broadcast(tot), "qkey", "left")
                   .select("qkey", F.when(
                       F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
                       F.col("got") / F.col("n_rel"))
                       .otherwise(F.lit(0.0)).alias("metric_score")))
        elif mkind == "mean_reciprocal_rank":
            out = j.groupBy("qkey").agg(
                F.coalesce(
                    1.0 / F.min(F.when(rel, F.col("rank"))),
                    F.lit(0.0)).alias("metric_score"))
        elif mkind == "dcg":
            gain = (F.pow(F.lit(2.0),
                          F.coalesce(F.col("rating"), F.lit(0))
                          .cast("double")) - 1.0) \
                / F.log2(F.col("rank").cast("double") + 1.0)
            dcg = j.groupBy("qkey").agg(
                F.sum(gain).alias("metric_score"))
            if not bool(mspec.get("normalize", False)):
                out = dcg
            else:
                wi = Window.partitionBy("qkey").orderBy(
                    F.col("rating").desc(), F.col("doc_id").asc())
                ideal = (ratings
                         .withColumn("rank", F.row_number().over(wi))
                         .filter(F.col("rank") <= k)
                         .groupBy("qkey").agg(F.sum(
                             (F.pow(F.lit(2.0),
                                    F.col("rating").cast("double"))
                              - 1.0)
                             / F.log2(F.col("rank").cast("double")
                                      + 1.0)).alias("idcg")))
                out = (dcg.join(F.broadcast(ideal), "qkey", "left")
                       .select("qkey", F.when(
                           F.coalesce(F.col("idcg"), F.lit(0.0)) > 0,
                           F.col("metric_score") / F.col("idcg"))
                           .otherwise(F.lit(0.0))
                           .alias("metric_score")))
        else:
            raise EsDslError(f"unsupported rank_eval metric {mkind!r}")
        per_request = out.select(
            F.col("qkey").alias("id"),
            F.round("metric_score", 6).alias("metric_score"))
        overall = per_request.agg(
            F.lit("_overall").alias("id"),
            F.round(F.avg("metric_score"), 6).alias("metric_score"))
        return per_request.unionByName(overall)

    def _project_source(self, hits: DataFrame, body: dict) -> DataFrame:
        """ES response shaping: ``_source`` (true / list / {includes,
        excludes} with trailing-``*`` wildcards) joins the requested
        original-document columns onto the hits frame; ``fields`` /
        ``docvalue_fields`` project doc-value (metadata + runtime)
        columns only, text fields rejected. The join is hits-sized
        (≤ size rows) against an exactly-pruned docs projection, so AQE
        broadcasts it and column pruning reaches the parquet scan.

        Divergence (documented): with neither key present, hits stay
        (doc_id, score[, sort field]) — ES returns the full _source by
        default, but the id+score contract is this planner's stable
        response shape; ask for fields explicitly. Exact names missing
        from the mapping raise (loud beats silent); wildcards expand to
        whatever exists, as in ES."""
        src = body.get("_source")
        fields = body.get("fields")
        dvf = body.get("docvalue_fields")
        if src is None and fields is None and dvf is None:
            return hits
        universe = [c for c in self.docs.columns if c != self.id_col]

        def expand(pats, uni):
            out = []
            for p in pats:
                name = p["field"] if isinstance(p, dict) else str(p)
                if name.endswith("*"):
                    out += [c for c in uni if c.startswith(name[:-1])]
                elif name not in uni:
                    raise EsDslError(f"unknown field {name!r}")
                else:
                    out.append(name)
            return out

        want: dict[str, None] = {}
        if src is not None and src is not False:
            if src is True:
                inc = list(universe)
            elif isinstance(src, dict):
                inc = expand(_as_list(src.get("includes", ["*"])),
                             universe)
                exc = set(expand(_as_list(src.get("excludes", [])),
                                 universe))
                inc = [c for c in inc if c not in exc]
            else:
                inc = expand(_as_list(src), universe)
            for c in inc:
                want.setdefault(c)
        # ES 7.10 `fields` retrieves any mapped field (text included);
        # docvalue_fields is doc-values only
        dv_universe = [c for c in universe if c not in self.text_fields]
        for spec, uni in ((fields, universe), (dvf, dv_universe)):
            if spec is not None:
                for c in expand(_as_list(spec), uni):
                    want.setdefault(c)
        add = [c for c in want if c not in hits.columns]
        if not add:
            return hits
        meta = self.docs.select(F.col(self.id_col).alias("doc_id"), *add)
        return hits.join(meta, "doc_id", "left")

    def with_runtime_fields(self, mappings: dict) -> "EsSearchPlanner":
        """A new planner whose docs frame carries the ES
        ``runtime_mappings`` as computed columns: each mapping's script
        (Painless subset — doc values, params, arithmetic; ``_score``
        does not exist at mapping time) compiles to one Catalyst
        expression, so the runtime field costs nothing until something
        references it and then folds into the same scan."""
        from dp_search_data_importer_spark.plans.painless import (
            compile_script,
        )

        docs = self.docs
        for name, spec in mappings.items():
            if not isinstance(spec, dict) or "script" not in spec:
                raise EsDslError(
                    f"runtime mapping {name!r} needs a script")
            script = spec["script"]
            src = (script["source"] if isinstance(script, dict)
                   else str(script))
            params = (script.get("params") or {}) \
                if isinstance(script, dict) else {}

            import re as _re

            if _re.search(r"\b_score\b", src):
                raise EsDslError(
                    "_score does not exist in runtime mappings")
            col, used = compile_script(src, params, F.lit(0.0),
                                       lambda f: F.col(f))
            bad = [f for f in used
                   if f not in docs.columns or f in self.text_fields]
            if bad:
                raise EsDslError(
                    f"runtime mapping {name!r} references non-doc-value "
                    f"fields {sorted(bad)}")
            typ = str(spec.get("type", "double"))
            if typ not in ("double", "long"):
                raise EsDslError(
                    f"runtime mapping type {typ!r} unsupported "
                    f"(double/long)")
            docs = docs.withColumn(name, col.cast(typ))
        return EsSearchPlanner(self.spark, docs, self.cfg,
                               text_fields=self.text_fields,
                               id_col=self.id_col,
                               max_expansions=self.max_expansions)

    def _knn_search(self, body: dict) -> "SearchResult":
        """ES 8-style top-level ``knn`` section routed onto the
        embedding machinery: EXACT cosine top-k over the docs frame's
        vector column — the brute-force baseline every ANN variant in
        ``operators/similarity`` is measured against (swap in the
        stored LSH/IVF/IVF-PQ paths for the partition-pruned scale
        form). Optional ``filter`` runs in filter context BEFORE the
        similarity scan (a semi-join prunes the vector pass —
        pre-filtering, the ES knn filter semantic). Hybrid knn+query
        score fusion is not implemented (documented): issue both
        requests and fuse on ranks client-side."""
        from dp_search_data_importer_spark.operators.similarity import (
            cosine_expr,
        )

        spec = body["knn"]
        if not isinstance(spec, dict) or "field" not in spec \
                or "query_vector" not in spec:
            raise EsDslError("knn requires field and query_vector")
        if "query" in body:
            raise EsDslError(
                "hybrid knn+query fusion is not implemented — run two "
                "requests and fuse client-side")
        fld = spec["field"]
        if fld not in self.docs.columns or fld in self.text_fields:
            raise EsDslError(f"knn field {fld!r} is not a vector column")
        qv = [float(x) for x in spec["query_vector"]]
        k = int(spec.get("k", body.get("size", 10)))
        base = self.docs.select(
            F.col(self.id_col).alias("doc_id"), F.col(fld).alias("_v")) \
            .filter(F.col("_v").isNotNull())
        if "filter" in spec:
            base = base.join(self.filter(spec["filter"]), "doc_id",
                             "semi")
        qcol = F.array(*[F.lit(x).cast("double") for x in qv])
        scored = base.select(
            "doc_id",
            # 4-digit rounding before ranking — the engine-wide
            # stable-rank discipline (same as cosine_topk)
            F.round(cosine_expr(F.col("_v"), qcol), 4).alias("score"))
        hits = scored.orderBy(F.col("score").desc(),
                              F.col("doc_id").asc()).limit(k)
        return SearchResult(hits=hits)

    def explain(self, query: dict, doc_ids: list[int] | None = None,
                field: str | None = None) -> DataFrame:
        """ES ``_explain`` endpoint twin for the match family: the
        per-term BM25 score decomposition ES renders as its explanation
        tree, flattened to rows — (doc_id, term, tf, df, idf, tf_norm,
        contribution) with ``contribution = idf · tf_norm`` and
        Σ contribution = the query score the search path produces (same
        formula, same inputs — ``operators/bm25.bm25_term_score``).
        ``doc_ids`` restricts to specific docs (the endpoint shape, one
        row group per doc); None explains every matching doc. One
        tf-pruned join, no Python."""
        (kind, spec), = query.items()
        if kind != "match":
            raise EsDslError("_explain twin covers match queries")
        fld, text, _ = self._field_spec(spec, "query")
        field = field or fld
        terms = sorted(set(self._tokens(str(text))))
        if not terms:
            raise EsDslError("empty match query")
        k1, b = self.cfg.k1, self.cfg.b
        cand = (self.tf(field).filter(F.col("term").isin(terms))
                .join(F.broadcast(self.dfs(field)), "term")
                .join(F.broadcast(self.stats(field))))
        if doc_ids is not None:
            cand = cand.filter(F.col("doc_id").isin([int(d)
                                                     for d in doc_ids]))
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df")
                                  + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5)))
        tfd = F.col("tf").cast("double")
        tf_norm = (tfd * F.lit(k1 + 1.0)
                   / (tfd + F.lit(k1) * (F.lit(1.0 - b)
                      + F.lit(b) * F.col("dl").cast("double")
                      / F.col("avgdl"))))
        return cand.select(
            "doc_id", "term", F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(idf, 4).alias("idf"),
            F.round(tf_norm, 4).alias("tf_norm"),
            F.round(idf * tf_norm, 4).alias("contribution"))

    def termvectors(self, doc_ids: list[int] | None = None,
                    field: str = "text",
                    term_statistics: bool = False) -> DataFrame:
        """ES ``_termvectors`` endpoint twin: per-doc term vectors —
        (doc_id, term, tf, positions array) from the SAME positional
        frame the phrase/span operators use (analyzer symmetry), plus
        df/ttf corpus statistics when ``term_statistics`` is requested
        (the ES flag — joined from the memoized dfs/tf frames, one
        broadcast). ``doc_ids`` None = every doc (the batch export
        shape; the endpoint's single-doc form is doc_ids=[id])."""
        pos = self.pos(field)
        if doc_ids is not None:
            pos = pos.filter(
                F.col("doc_id").isin([int(d) for d in doc_ids]))
        out = pos.select(
            "doc_id", "term",
            F.size("positions").cast("long").alias("tf"),
            "positions")
        if term_statistics:
            tf = self.tf(field)
            stats = (tf.groupBy("term")
                     .agg(F.count(F.lit(1)).cast("long").alias("df"),
                          F.sum("tf").cast("long").alias("ttf")))
            out = out.join(F.broadcast(stats), "term")
        return out

    def analyze(self, text: str, field: str | None = None) -> DataFrame:
        """ES ``_analyze`` endpoint twin: the analyzer's token stream for
        ONE input string as a lazy (token, position) frame — the same
        ``_tokens`` path every query-side clause uses, so what this
        returns is exactly what the engine matches against. Byte offsets
        (ES ``start_offset``/``end_offset``) are not reproduced — the
        engine's positional index is token-granular; positions are the
        phrase-matching coordinates and are faithful."""
        from dp_search_data_importer_spark.session import local_df

        del field  # single analyzer per planner; accepted for API shape
        toks = self._tokens(text)
        return local_df(self.spark,
                        [(t, i) for i, t in enumerate(toks)],
                        "token string, position long")

    def count(self, body: dict) -> DataFrame:
        """ES ``_count`` endpoint twin: number of documents matching the
        body's query, as a lazy 1-row (count) frame. Compiles the same
        scoring plan and aggregates — no ranking window, no top-k."""
        unknown = set(body) - {"query"}
        if unknown:
            raise EsDslError(f"_count accepts only 'query', got "
                             f"{sorted(unknown)}")
        scores = self.score(body.get("query", {"match_all": {}}))
        return scores.agg(F.count(F.lit(1)).cast("long").alias("count"))

    def msearch(self, bodies: list[dict]) -> list[SearchResult]:
        """ES ``_msearch``: N request bodies in one call.

        Plain single-field ``match`` bodies (body keys ⊆ {query, size},
        match spec a string or ``{"query": str}``) BATCH per field into
        ONE scoring job: the memoized tf/dfs/stats scans and the scoring
        shuffle are shared across the batch (query_id = request slot),
        ranking is the batch ``topk`` window over real query_id keys at
        max(size), and the bounded result (≤ max_size · n_queries rows)
        is persisted so every slot's hits read the shared job once — the
        scan-amortization the endpoint exists for (the same effect
        measured at 26× on phrase batches, BENCH/ANALYSIS.md). Scores
        are identical to per-body :meth:`search`: BM25 statistics are
        global, so co-execution cannot change them. Non-batchable bodies
        (sorts, aggs, compound queries, …) compile independently via
        :meth:`search`, preserving exact per-body semantics."""
        from dp_search_data_importer_spark.operators.bm25 import (
            bm25_scores,
            topk,
        )
        from dp_search_data_importer_spark.session import local_df

        def _batchable(b: dict):
            if set(b) - {"query", "size"}:
                return None
            q = b.get("query")
            if not (isinstance(q, dict) and len(q) == 1 and "match" in q):
                return None
            (fld, spec), = q["match"].items()
            if isinstance(spec, str):
                return fld, spec
            if isinstance(spec, dict) and set(spec) == {"query"} \
                    and isinstance(spec["query"], str):
                return fld, spec["query"]
            return None

        results: list[SearchResult | None] = [None] * len(bodies)
        groups: dict[str, list[tuple[int, str, int]]] = {}
        for i, b in enumerate(bodies):
            fs = _batchable(b)
            if fs is None:
                results[i] = self.search(b)
            else:
                groups.setdefault(fs[0], []).append(
                    (i, fs[1], int(b.get("size", 10))))
        for fld, entries in groups.items():
            if len(entries) == 1:
                i = entries[0][0]
                results[i] = self.search(bodies[i])
                continue
            pairs = {(i, t) for i, text, _ in entries
                     for t in self._tokens(text)}
            qt = local_df(self.spark, sorted(pairs),
                          "query_id long, term string")
            scores = bm25_scores(self.tf(fld), qt, self.dfs(fld),
                                 self.stats(fld), self.cfg)
            kmax = max(s for _, _, s in entries)
            batched = topk(scores, kmax).persist()
            for i, _, size in entries:
                hits = (batched.filter(F.col("query_id") == i)
                        .drop("query_id"))
                if size < kmax:
                    hits = hits.orderBy(F.col("score").desc(),
                                        F.col("doc_id").asc()).limit(size)
                results[i] = SearchResult(hits=hits)
        return results

    def search_template(self, source, params: dict) -> SearchResult:
        """ES ``_search/template`` twin: render a mustache-subset
        template against ``params`` and compile the resulting body
        through :meth:`search`.

        Supported mustache subset (the forms the ES 7.10 search-template
        docs use): ``{{var}}`` value substitution — strings JSON-escape
        into the template's own quotes, numbers/bools/null render as
        JSON, missing params render empty (mustache semantics, which is
        what makes the ES default-value idiom work) —
        ``{{#toJson}}var{{/toJson}}`` whole-value JSON injection for
        arrays/objects, and non-nested sections ``{{#var}}…{{/var}}``
        (kept iff the param is present and truthy) / inverted
        ``{{^var}}…{{/var}}`` (the ``{{size}}{{^size}}10{{/size}}``
        default idiom). Rendering is pure driver-side string work over
        the request body — the compiled query takes the identical plan
        :meth:`search` builds, so templating adds zero execution
        surface at any corpus size."""
        import json as _json
        import re as _re

        src = source if isinstance(source, str) else _json.dumps(source)

        def _tojson(m):
            name = m.group(1)
            if name not in params:
                raise EsDslError(f"missing toJson template param "
                                 f"{name!r}")
            return _json.dumps(params[name])

        s = _re.sub(r"\{\{#toJson\}\}\s*([\w.]+)\s*\{\{/toJson\}\}",
                    _tojson, src)
        s = _re.sub(
            r"\{\{([#^])([\w.]+)\}\}(.*?)\{\{/\2\}\}",
            lambda m: m.group(3)
            if (m.group(1) == "#") == bool(params.get(m.group(2)))
            else "",
            s, flags=_re.S)

        def _var(m):
            v = params.get(m.group(1))
            if v is None and m.group(1) not in params:
                return ""  # mustache: missing variables render empty
            if isinstance(v, str):
                return _json.dumps(v)[1:-1]
            return _json.dumps(v)

        s = _re.sub(r"\{\{([\w.]+)\}\}", _var, s)
        try:
            body = _json.loads(s)
        except ValueError as e:
            raise EsDslError(
                f"template did not render to valid JSON: {e}; "
                f"rendered: {s[:200]!r}") from e
        return self.search(body)


# ---------------------------------------------------------------------------
# stored-index execution


def _meta_predicate(node: dict):
    """Filter-context leaf → Column predicate over the index ``docs/``
    table (range/term/terms/exists on metadata; ``__not__`` wraps a
    negated leaf — produced by query_string ``-meta:value`` clauses)."""
    (kind, spec), = node.items()
    if kind == "__not__":
        return ~_meta_predicate(spec)
    if kind == "range":
        (field, params), = [(k, v) for k, v in spec.items() if k != "boost"]
        c = F.col(field)
        pred = F.lit(True)
        for op, fn in (("gte", c.__ge__), ("gt", c.__gt__),
                       ("lte", c.__le__), ("lt", c.__lt__)):
            if op in params:
                pred = pred & fn(F.lit(params[op]))
        return pred
    if kind == "term":
        (field, v), = [(k, v) for k, v in spec.items() if k != "boost"]
        if isinstance(v, dict):
            v = v["value"]
        return F.col(field) == F.lit(v)
    if kind == "terms":
        (field, vs), = [(k, v) for k, v in spec.items() if k != "boost"]
        return F.col(field).isin(list(vs))
    if kind == "exists":
        return F.col(spec["field"]).isNotNull()
    raise EsDslError(f"unsupported filter-context query {kind!r} against "
                     "the stored index")


_META_LEAF_KINDS = ("range", "terms", "exists", "term")


def _qs_indexed_bool(spec: dict) -> dict:
    """Parsed query_string bool → the flat stored-index bool shape.

    Meta-field scoring leaves (the parser emits ``term``/``range`` only
    for non-text fields) move to FILTER context — rank-identical to the
    dataflow planner, score shifted down by the 1.0-per-leaf
    constant-score contribution filter context never adds. Negated meta
    leaves become ``__not__`` filter nodes. Anything the flat BoolSpec
    form cannot express (nested groups, phrases, expansion leaves inside
    the bool, multi-token match clauses) raises — the dataflow planner
    is the full-coverage reference."""
    flat: dict = {"must": [], "should": [], "must_not": [], "filter": []}
    for role in ("must", "should", "must_not"):
        for n in _as_list(spec.get(role, [])):
            (k, s), = n.items()
            if k in _META_LEAF_KINDS:
                if role == "should":
                    raise EsDslError(
                        "stored-index query_string: meta leaves in "
                        "should context are constant-score boosts the "
                        "BoolSpec form cannot express")
                flat["filter"].append({"__not__": n}
                                      if role == "must_not" else n)
                continue
            if k != "match":
                raise EsDslError(
                    "stored-index query_string supports flat term "
                    f"clauses, got {k!r}; use the dataflow planner")
            flat[role].append(n)
    if spec.get("boost", 1.0) != 1.0:
        raise EsDslError("stored-index query_string: bool-level boost "
                         "not supported")
    out = {r: v for r, v in flat.items() if v}
    if "minimum_should_match" in spec:
        out["minimum_should_match"] = spec["minimum_should_match"]
    return out


def _index_tokens(out_dir: str, text) -> list[str]:
    """The distinct tokens of ``text`` under the stored index's analyzer
    (stats.json ``code_aware``), sorted."""
    from dp_search_data_importer_spark.checkpoint import read_stats_json
    from dp_search_data_importer_spark.plans import query as q

    code_aware = read_stats_json(out_dir).get("code_aware", False)
    return [t for _, t in q._query_term_pairs([(0, str(text))], code_aware)]


def _clause_term(node: dict, out_dir: str) -> tuple[str, float]:
    """(token, boost) of one stored-index bool clause: a ``term`` query on
    the indexed text field or a single-token ``match`` (an ES match clause
    with several tokens is an embedded OR, which BoolSpec's per-term
    clauses cannot express). Clause text goes through the index's
    analyzer."""
    (kind, s), = node.items()
    if kind not in ("term", "match"):
        raise EsDslError(f"unsupported stored-index bool clause {kind!r}")
    (field, v), = [(k, v) for k, v in s.items() if k != "boost"]
    boost = float(s.get("boost", 1.0))
    if isinstance(v, dict):
        boost = float(v.get("boost", boost))
        v = v.get("value", v.get("query"))
    toks = _index_tokens(out_dir, v)
    if len(toks) != 1:
        raise EsDslError(
            "stored-index bool needs single-token clauses, got "
            f"{v!r} (multi-token match clauses embed an OR)")
    return toks[0], boost


def _bool_term_spec(spec: dict, out_dir: str):
    """bool body with TERM-level scoring clauses (:func:`_clause_term`)
    → BoolSpec."""
    from dp_search_data_importer_spark.operators.bm25 import BoolSpec

    def clauses(role):
        return [_clause_term(n, out_dir) for n in _as_list(spec.get(role, []))]

    return BoolSpec(0, must=clauses("must"), should=clauses("should"),
                    must_not=[t for t, _ in clauses("must_not")],
                    minimum_should_match=spec.get("minimum_should_match"))


def search_indexed(spark: SparkSession, out_dir: str, body: dict,
                   cfg: EngineConfig | None = None) -> SearchResult:
    """Compile an ES ``_search`` body against the STORED index under
    ``out_dir`` — the scale path: candidates come from term-pruned
    postings rows (``plans/query``), never a corpus scan, and the
    analyzer follows the index's recorded ``code_aware`` flag (analyzer
    symmetry). The match, bool, filter and expansion routes each compile
    to one parameterized SQL statement (``plans/query``); request values
    reach it as parameter markers, and a bool ``filter`` as a Column
    predicate (:func:`_meta_predicate`) over the docs reader — never as
    SQL text.

    Supported subset (each routes to the corresponding ``plans/query``
    entry): ``match`` (OR), top-level ``prefix`` / ``fuzzy``
    / ``wildcard`` / ``regexp``, ``match_phrase`` (+slop) and the
    span/intervals family — both read positions straight from the
    positional postings rows (``load_positions``: the same
    term-pruned scan BM25 uses), ``bool`` — a single must-``match``
    clause with filter context routes to ``filtered_topk``; filter
    context alone (with optional must_not) to ``filter_topk``; term-level
    clause sets route to ``bool_topk_indexed`` — plus ``sort`` by a
    docs-table metadata field, ``search_after`` under both sort orders,
    and ``aggs`` — the FULL dataflow agg family (terms [+sub-aggs],
    histogram, date_histogram, filters, global, missing, range, stats,
    extended_stats, percentiles, cardinality, composite) over the hit
    set: candidates from term-pruned postings, metadata from the stored
    content-free ``docs/`` table through the same ``_agg`` code path as
    :class:`EsSearchPlanner`. Everything else raises
    ``EsDslError``: the dataflow planner (:class:`EsSearchPlanner`) is
    the semantics reference with full coverage; this is its stored-index
    twin for the operators the index accelerates."""
    from dp_search_data_importer_spark.checkpoint import read_stats_json
    from dp_search_data_importer_spark.plans import query as q

    cfg = cfg or EngineConfig()
    unknown = set(body) - {"query", "size", "sort", "search_after", "aggs",
                           "aggregations", "suggest"}
    if unknown:
        raise EsDslError(
            f"unsupported stored-index body keys {sorted(unknown)}")

    def _suggest_indexed() -> dict[str, DataFrame]:
        """suggest section against the STORED term dictionary: the
        planner's ``_suggest`` runs unchanged with ``dfs()`` backed by
        the index's ``term_df`` parquet (prefix filters push into the
        scan; the dictionary is never built from text)."""
        sug = body.get("suggest") or {}
        if not sug:
            return {}
        from dp_search_data_importer_spark.plans.update_index import (
            recover_for_read,
        )

        recover_for_read(out_dir)
        shim = EsSearchPlanner(spark, q.load_docs(spark, out_dir), cfg)
        shim._dfs["text"] = q.load_term_df(spark, out_dir)
        return shim._suggest(sug)

    node = body.get("query")
    if not node:
        if body.get("suggest"):
            from dp_search_data_importer_spark.session import local_df

            return SearchResult(
                hits=local_df(spark, [], "doc_id long, score double"),
                suggestions=_suggest_indexed())
        raise EsDslError("stored-index search requires a query")
    (kind, spec), = node.items()
    if kind in ("query_string", "simple_query_string"):
        from dp_search_data_importer_spark.plans.query_string import (
            parse_query_string,
            parse_simple_query_string,
        )

        fields = _as_list(spec.get("fields", []))
        if len(fields) > 1:
            raise EsDslError("stored-index query_string: single field "
                             "only; use multi_match")
        dfield = fields[0] if fields else spec.get("default_field", "text")
        parse = (parse_query_string if kind == "query_string"
                 else parse_simple_query_string)
        node = parse(str(spec["query"]), default_field=dfield,
                     default_operator=str(
                         spec.get("default_operator", "OR")),
                     is_meta=lambda f: f != dfield)
        (kind, spec), = node.items()
        if kind == "bool":
            spec = _qs_indexed_bool(spec)
    size = int(body.get("size", 10))
    after = body.get("search_after")
    sort = _as_list(body.get("sort", ["_score"]))
    primary = sort[0]
    score_sorted = primary == "_score" or (
        isinstance(primary, dict) and "_score" in primary)

    def match_queries(s):
        pairs = [(k, v) for k, v in s.items() if k != "boost"]
        (field, v), = pairs
        if isinstance(v, dict):
            v = v["query"]
        return [(0, str(v))]

    hits = None
    hits_full = None  # full match set where the branch computes one
    if not score_sorted:
        if kind != "match":
            raise EsDslError("stored-index field sort supports match "
                             "queries")
        (fld, fdir), = primary.items()
        asc = (fdir.get("order", "asc") if isinstance(fdir, dict)
               else str(fdir)) == "asc"
        cur = {0: (after[0], int(after[1]))} if after else None
        hits = q.sorted_topk(spark, out_dir, match_queries(spec), fld,
                             ascending=asc, k=size, after=cur)
    elif kind == "match":
        mpairs = [(k_, v_) for k_, v_ in spec.items() if k_ != "boost"]
        (_mf, _mv), = mpairs
        mp = _mv if isinstance(_mv, dict) else {}
        mop = str(mp.get("operator", "or")).lower()
        msm_v = mp.get("minimum_should_match")
        gated = mop == "and" or msm_v is not None
        toks = _index_tokens(out_dir, mp.get("query", _mv)) if gated else []
        if toks:
            # ES operator=and / minimum_should_match on the stored
            # path: rewrite to the equivalent per-token bool —
            # BoolSpec counts matched clause ids in the same single
            # agg over the same term-pruned postings scan. Distinct
            # tokens (matching the dataflow planner's documented
            # distinct-term gate). A text with no tokens takes the OR
            # path below: no hits, as in ES.
            from dp_search_data_importer_spark.operators.bm25 import (
                BoolSpec,
            )

            if after is not None:
                raise EsDslError("search_after with match operator/"
                                 "minimum_should_match is unsupported "
                                 "on the stored path")
            if mop == "and":
                bs = BoolSpec(0, must=[(t, 1.0) for t in toks])
            else:
                bs = BoolSpec(
                    0, should=[(t, 1.0) for t in toks],
                    minimum_should_match=_parse_msm(msm_v, len(toks)))
            hits = q.bool_topk_indexed(spark, out_dir, [bs], cfg,
                                       k=size)
        else:
            cur = {0: (float(after[0]), int(after[1]))} if after else None
            hits = q.exact_topk(spark, out_dir, match_queries(spec),
                                cfg, k=size, after=cur)
    elif kind in ("prefix", "wildcard", "regexp", "fuzzy"):
        pairs = [(k, v) for k, v in spec.items() if k != "boost"]
        (field, v), = pairs
        if isinstance(v, dict):
            v = v.get("value")
        fn = {"prefix": q.prefix_topk, "wildcard": q.wildcard_topk,
              "regexp": q.regexp_topk, "fuzzy": q.fuzzy_topk}[kind]
        hits = fn(spark, out_dir, [str(v)], cfg, k=size)
    elif kind == "match_phrase":
        from dp_search_data_importer_spark.operators.phrase import (
            phrase_topk,
        )

        pairs = [(k, v) for k, v in spec.items() if k != "boost"]
        (field, v), = pairs
        slop = 0
        if isinstance(v, dict):
            slop = int(v.get("slop", 0))
            v = v["query"]
        hits = phrase_topk(spark, out_dir, [(0, str(v))], cfg, k=size,
                           slop=slop)
    elif kind in ("span_term", "span_or", "span_near", "span_first",
                  "span_not", "intervals"):
        # spans over the positional postings rows: the same
        # term-pruned scan phrase queries use (load_positions),
        # the same batch fold as the dataflow planner — the span tree
        # parses through a docs-free planner shim (pure driver-side)
        from dp_search_data_importer_spark.operators.phrase import (
            load_positions,
            phrase_score_batch,
        )
        from dp_search_data_importer_spark.operators.bm25 import topk
        from dp_search_data_importer_spark.operators.spans import (
            span_matches_batch,
            span_not_matches_batch,
        )

        shim = EsSearchPlanner.__new__(EsSearchPlanner)
        if kind == "span_near" and not bool(spec.get("in_order", True)):
            from dp_search_data_importer_spark.operators.spans import (
                span_unordered_matches_batch,
            )

            slots = [shim._span_slot(c)[1]
                     for c in _as_list(spec["clauses"])]
            terms = sorted({t for s_ in slots for t in s_})
            pos = load_positions(spark, out_dir, terms=terms)
            m = span_unordered_matches_batch(
                pos, [(0, slots, int(spec.get("slop", 0)))])
        elif kind == "span_not":
            _, inc = shim._span_slot(spec["include"])
            _, exc = shim._span_slot(spec["exclude"])
            pre = int(spec.get("pre", spec.get("dist", 0)))
            post = int(spec.get("post", spec.get("dist", 0)))
            pos = load_positions(spark, out_dir,
                                 terms=sorted(set(inc) | set(exc)))
            m = span_not_matches_batch(pos, [(0, inc, exc, pre, post)])
        else:
            if kind == "intervals":
                (f_, rule), = [(k, v) for k, v in spec.items()
                               if k != "boost"]
                slots, gaps = shim._intervals_slots(rule)
                slop = (1 << 30) if gaps < 0 else int(gaps)
                if len(slots) == 1:
                    slop = 0
                end = None
            else:
                _, slots, slop, end = shim._span_tree({kind: spec})
            terms = sorted({t for s_ in slots for t in s_})
            pos = load_positions(spark, out_dir, terms=terms)
            m = span_matches_batch(pos, [(0, slots, slop, end)])
        stats = read_stats_json(out_dir)
        hits_full = m.select("doc_id")  # the FULL match set, for aggs
        hits = topk(phrase_score_batch(
            m.withColumnRenamed("span_tf", "phrase_tf"),
            stats["n_docs"], stats["avgdl"], cfg), size)
    elif kind == "bool":
        filters = _as_list(spec.get("filter", []))
        pred = None
        for f_node in filters:
            p = _meta_predicate(f_node)
            pred = p if pred is None else (pred & p)
        must = _as_list(spec.get("must", []))
        simple = (len(must) == 1 and not spec.get("should")
                  and not spec.get("must_not")
                  and next(iter(must[0])) == "match")
        if simple:
            mq = match_queries(must[0]["match"])
            if pred is not None:
                hits = q.filtered_topk(spark, out_dir, mq, pred, cfg,
                                       k=size)
            else:
                hits = q.exact_topk(spark, out_dir, mq, cfg, k=size)
        elif not must and not spec.get("should") and pred is not None:
            # filter context only: every filtered doc at score 0
            hits = q.filter_topk(
                spark, out_dir, pred, k=size,
                must_not=[_clause_term(n, out_dir)[0]
                          for n in _as_list(spec.get("must_not", []))])
        else:
            bs = _bool_term_spec(spec, out_dir)
            hits = q.bool_topk_indexed(spark, out_dir, [bs], cfg, k=size,
                                       doc_filter=pred)
    else:
        raise EsDslError(
            f"unsupported stored-index query type {kind!r}")
    hits = hits.drop("query_id")

    aggregations: dict[str, DataFrame] = {}
    aggs = body.get("aggs") or body.get("aggregations") or {}
    if aggs:
        if kind != "match" and hits_full is None:
            raise EsDslError(
                "stored-index aggs support match and span/intervals "
                "queries")
        # full hit set from term-pruned postings (never a corpus scan),
        # then the ENTIRE dataflow agg family runs over the stored
        # content-free docs/ metadata table via a planner shim — one agg
        # code path for both planners
        hits_all = hits_full if hits_full is not None else q._match_hits(
            spark, out_dir, match_queries(spec)).select("doc_id")
        docs_meta = spark.table(q.index_view(
            spark, out_dir, "docs", read_stats_json(out_dir)))
        shim = EsSearchPlanner(spark, docs_meta, cfg)
        aggregations = shim.assemble_aggs(aggs, hits_all)
    return SearchResult(hits=hits, aggregations=aggregations,
                        suggestions=_suggest_indexed())
