"""Tokenizers (SURVEY.md §2 Table B1).

The reference delegates analysis to Elasticsearch's analyzer chain (char
filter → tokenizer → token filters); the only evidence in-repo is the bulk
POST to the ``ons`` index (``/root/reference/handler/handler.go:95``). We
implement two analyzers natively:

- ``tokenize_expr``       — pure-Catalyst split/lower/filter. Whole-stage
                            codegen'd, zero Python. Semantics chosen to be
                            expressible 1:1 in ANSI SQL so DuckDB can act as
                            the correctness oracle.
- ``tokenize_code_expr``  — code-aware analyzer (north_star): splits
                            identifiers (camelCase, snake_case, dotted paths),
                            lowercases. Still pure Catalyst — regexp_replace
                            inserts boundaries, then split. No UDF needed.
- ``code_term_freqs``     — Arrow-vectorized map-side (term, tf) extraction:
                            tokenize + count *inside* the scan stage so the
                            postings build shuffles pre-aggregated (term, tf)
                            pairs instead of raw token streams. This is the
                            hot path of the index build: one Counter per doc
                            over an Arrow batch, never per-row Python calls
                            into Spark.

Scale note: the Catalyst paths keep the whole tokenize→explode→agg pipeline
inside WholeStageCodegen; the Arrow path trades that for ~#tokens× less
shuffle volume (pre-aggregated tfs) — measured in bench.py.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Token boundary: any run of non-alphanumerics. Mirrors a simplified ES
# `standard`-ish tokenizer over ascii corpora and is expressible identically
# in DuckDB (`regexp_split_to_array(lower(x), '[^a-z0-9]+')`).
TOKEN_SPLIT_REGEX = "[^a-z0-9]+"

# camelCase boundaries: lower-or-digit→Upper, and acronym→Word (HTTPServer).
_CAMEL_RE = "([a-z0-9])([A-Z])"
_ACRONYM_RE = "([A-Z]+)([A-Z][a-z])"

_PY_SPLIT = re.compile(TOKEN_SPLIT_REGEX)
_PY_FINDALL = re.compile("[a-z0-9]+")
_PY_CAMEL = re.compile(_CAMEL_RE)
_PY_ACRONYM = re.compile(_ACRONYM_RE)


def tokenize_expr(col: Column | str) -> Column:
    """array<string> of lowercase tokens; empty strings removed.

    Pure Catalyst: lower → split → filter. Oracle-parity with DuckDB's
    ``unnest(regexp_split_to_array(lower(x),'[^a-z0-9]+'))`` + non-empty filter.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(c), TOKEN_SPLIT_REGEX)
    return F.filter(toks, lambda t: t != F.lit(""))


def tokenize_code_expr(col: Column | str) -> Column:
    """Code-aware tokens: camelCase/snake_case/dotted identifiers split into
    their parts, lowercased. ``getUserName`` → [get, user, name];
    ``pkg.mod.Fn`` → [pkg, mod, fn]; ``snake_case`` → [snake, case].

    Implemented as regexp_replace (insert boundary) + the simple tokenizer —
    stays fully inside Catalyst/codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    with_bounds = F.regexp_replace(
        F.regexp_replace(c, _ACRONYM_RE, r"$1 $2"), _CAMEL_RE, r"$1 $2"
    )
    return tokenize_expr(with_bounds)


def token_count_expr(col: Column | str, code_aware: bool = False) -> Column:
    """Token COUNT without materializing the token array: the number of
    non-empty tokens under :func:`tokenize_expr` equals the number of
    maximal ``[a-z0-9]+`` runs, so ``regexp_count`` gives the same value
    while skipping the per-token string allocation that ``size(split(…))``
    pays (property-tested equal to ``size(tokenize_expr(col))``). Use for
    dl/stats computations that never need the tokens themselves."""
    c = F.col(col) if isinstance(col, str) else col
    if code_aware:
        c = F.regexp_replace(
            F.regexp_replace(c, _ACRONYM_RE, r"$1 $2"), _CAMEL_RE, r"$1 $2")
    return F.regexp_count(F.lower(c), F.lit("[a-z0-9]+"))


def _simple_tokens_py(text: str) -> list[str]:
    # findall of maximal [a-z0-9]+ runs ≡ split on non-alnum + drop empties
    # (the token_count_expr equivalence argument), measured ~1.4× faster —
    # this is the per-doc hot loop of the Arrow tokenize path
    return _PY_FINDALL.findall(text.lower())


def _code_tokens_py(text: str) -> list[str]:
    return _simple_tokens_py(_PY_CAMEL.sub(r"\1 \2", _PY_ACRONYM.sub(r"\1 \2", text)))


def _term_freq_batches(
    batches: Iterator[pd.DataFrame], *, code_aware: bool, id_col: str, text_col: str
) -> Iterator[pd.DataFrame]:
    tok = _code_tokens_py if code_aware else _simple_tokens_py
    for pdf in batches:
        ids: list[int] = []
        terms: list[str] = []
        tfs: list[int] = []
        dls: list[int] = []
        for doc_id, text in zip(pdf[id_col].to_numpy(), pdf[text_col].to_numpy()):
            toks = tok(text or "")
            counts = Counter(toks)
            n = len(counts)
            ids.extend([doc_id] * n)
            terms.extend(counts.keys())
            tfs.extend(counts.values())
            dls.extend([len(toks)] * n)
        yield pd.DataFrame(
            {"doc_id": pd.Series(ids, dtype="int64"), "term": terms,
             "tf": pd.Series(tfs, dtype="int64"), "dl": pd.Series(dls, dtype="int64")}
        )


TERM_FREQ_SCHEMA = "doc_id long, term string, tf long, dl long"


def simple_term_freqs(df, id_col: str = "doc_id", text_col: str = "text"):
    """(doc_id, term, tf, dl) rows, tf pre-aggregated map-side in Arrow batches."""
    return df.select(id_col, text_col).mapInPandas(
        lambda it: _term_freq_batches(it, code_aware=False, id_col=id_col, text_col=text_col),
        schema=TERM_FREQ_SCHEMA,
    )


def code_term_freqs(df, id_col: str = "doc_id", text_col: str = "content"):
    """Code-aware variant of :func:`simple_term_freqs` (north_star tokenizer)."""
    return df.select(id_col, text_col).mapInPandas(
        lambda it: _term_freq_batches(it, code_aware=True, id_col=id_col, text_col=text_col),
        schema=TERM_FREQ_SCHEMA,
    )


TERM_FREQ_POS_SCHEMA = (
    "doc_id long, term string, tf long, dl long, positions array<int>"
)


def _term_freq_pos_batches(
    batches: Iterator[pd.DataFrame], *, code_aware: bool, id_col: str,
    text_col: str,
) -> Iterator[pd.DataFrame]:
    """Positions-carrying twin of :func:`_term_freq_batches`: each (doc,
    term) row additionally carries the ascending 0-based token positions
    (len == tf). Used by positions-enabled index builds so phrase queries
    read positions straight from the postings rows."""
    tok = _code_tokens_py if code_aware else _simple_tokens_py
    for pdf in batches:
        ids: list[int] = []
        terms: list[str] = []
        tfs: list[int] = []
        dls: list[int] = []
        poss: list[list[int]] = []
        for doc_id, text in zip(pdf[id_col].to_numpy(), pdf[text_col].to_numpy()):
            toks = tok(text or "")
            by_term: dict[str, list[int]] = {}
            for i, t in enumerate(toks):
                by_term.setdefault(t, []).append(i)
            n = len(by_term)
            ids.extend([doc_id] * n)
            terms.extend(by_term.keys())
            tfs.extend(len(v) for v in by_term.values())
            poss.extend(by_term.values())
            dls.extend([len(toks)] * n)
        yield pd.DataFrame(
            {"doc_id": pd.Series(ids, dtype="int64"), "term": terms,
             "tf": pd.Series(tfs, dtype="int64"),
             "dl": pd.Series(dls, dtype="int64"), "positions": poss}
        )


def term_freqs_with_positions(df, *, code_aware: bool,
                              id_col: str = "doc_id",
                              text_col: str = "content"):
    """(doc_id, term, tf, dl, positions) — map-side Arrow extraction; the
    positions column makes the shuffle O(tokens) (intrinsic to positional
    indexing — Lucene's .prx pays the same)."""
    return df.select(id_col, text_col).mapInPandas(
        lambda it: _term_freq_pos_batches(
            it, code_aware=code_aware, id_col=id_col, text_col=text_col),
        schema=TERM_FREQ_POS_SCHEMA,
    )
