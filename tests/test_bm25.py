"""BM25 formula vs hand-computed values + df invariants (SURVEY.md §5)."""

from __future__ import annotations

import math

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.operators.bm25 import bm25_topk, query_terms
from dp_search_data_importer_spark.operators.postings import (
    corpus_stats,
    doc_freqs,
    term_freqs_sql,
)

CFG = EngineConfig()

DOCS = [
    (1, "spark index build fast fast"),
    (2, "spark query engine"),
    (3, "index merge merge merge sort"),
    (4, "unrelated words entirely here"),
]


def _py_bm25(docs: list[tuple[int, str]], query: str, k1=1.2, b=0.75):
    """30-line pure-Python exact scorer (SURVEY.md §7 step 1 oracle)."""
    toks = {d: t.split() for d, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfs: dict[str, int] = {}
    for terms in toks.values():
        for t in set(terms):
            dfs[t] = dfs.get(t, 0) + 1
    scores: dict[int, float] = {}
    for term in dict.fromkeys(query.split()):  # distinct, ordered
        if term not in dfs:
            continue
        idf = math.log(1 + (n - dfs[term] + 0.5) / (dfs[term] + 0.5))
        for d, terms in toks.items():
            tf = terms.count(term)
            if tf == 0:
                continue
            dl = len(terms)
            s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
            scores[d] = scores.get(d, 0.0) + s
    return sorted(scores.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))


def _spark_topk(spark, query: str, k: int = 10):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    tf = term_freqs_sql(docs)
    queries = spark.createDataFrame([(1, query)], "query_id long, query_text string")
    rows = bm25_topk(tf, queries, CFG, k).collect()
    return sorted(
        [(r["doc_id"], r["score"]) for r in rows], key=lambda kv: (-kv[1], kv[0])
    )


def test_bm25_matches_pure_python_oracle(spark):
    for q in ["spark", "index merge", "fast query sort", "absent"]:
        expected = _py_bm25(DOCS, q)
        got = _spark_topk(spark, q)
        assert len(got) == len(expected), q
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gd == ed, q
            assert abs(gs - es) < 1e-4, (q, gd, gs, es)


def test_bm25_unseen_term_empty(spark):
    assert _spark_topk(spark, "zzznope") == []


def test_bm25_repeated_query_terms_counted_once(spark):
    assert _spark_topk(spark, "spark spark spark") == _spark_topk(spark, "spark")


def test_doc_freqs_pruned_and_saturated(spark, sf_dir):
    """df over a term-pruned tf equals the full df restricted to those
    terms, and a term present in every doc (the hot-term case) gets
    df = n_docs."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {r["term"]: r["df"]
            for r in doc_freqs(term_freqs_sql(docs)).collect()}
    terms = sorted(full, key=lambda t: (-full[t], t))[:5] + ["zzznope"]
    pruned = {r["term"]: r["df"]
              for r in doc_freqs(term_freqs_sql(docs, terms=terms)).collect()}
    assert pruned == {t: full[t] for t in terms if t in full}
    assert len(pruned) == 5

    marked = docs.select("doc_id", F.concat_ws(
        " ", F.col("text"), F.lit("everydoc")).alias("text"))
    got = (doc_freqs(term_freqs_sql(marked))
           .filter(F.col("term") == "everydoc").collect())
    assert [(r["term"], r["df"]) for r in got] == [("everydoc", docs.count())]


def test_corpus_stats_exact(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    tf = term_freqs_sql(docs)
    row = corpus_stats(tf).collect()[0]
    assert row["n_docs"] == 4
    assert abs(row["avgdl"] - (5 + 3 + 5 + 4) / 4) < 1e-12


def test_query_terms_distinct(spark):
    q = spark.createDataFrame(
        [(1, "Sort SORT sort!")], "query_id long, query_text string"
    )
    assert [tuple(r) for r in query_terms(q).collect()] == [(1, "sort")]


def test_multi_match_most_fields_semantics(spark):
    """ES multi_match/most_fields twin: per-field independent BM25 (own
    df/avgdl) summed with boosts — a title hit outranks an equal body hit
    under title boost, and the single-field degenerate case equals
    bm25_topk ranking."""
    from pyspark.sql import functions as F

    from dp_search_data_importer_spark.operators import postings as po
    from dp_search_data_importer_spark.operators.bm25 import (
        bm25_topk,
        multi_match_topk,
    )
    from dp_search_data_importer_spark.session import local_df

    rows = [
        (1, "zebra manual", "common words about other business entirely"),
        (2, "plain title", "the zebra appears once in this body text"),
        (3, "plain title", "no relevant terms at all in here today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    qdf = local_df(spark, [(1, "zebra")], "query_id long, query_text string")
    got = multi_match_topk(docs, {"body": 1.0, "title": 2.0}, qdf, k=10)
    ranked = [r["doc_id"] for r in got.orderBy(F.desc("score")).collect()]
    assert ranked[0] == 1          # boosted title hit wins
    assert set(ranked) == {1, 2}   # doc 3 matches nowhere

    # degenerate single-field multi_match == plain bm25 ranking
    body_docs = docs.select("doc_id", F.col("body").alias("text"))
    tf = po.term_freqs_sql(body_docs, id_col="doc_id", text_col="text")
    plain = bm25_topk(tf, qdf, k=10,
                      stats=po.corpus_stats_from_docs(body_docs))
    mm = multi_match_topk(docs.select("doc_id", "body"), {"body": 1.0},
                          qdf, k=10)
    assert sorted((r["query_id"], r["doc_id"], r["score"])
                  for r in plain.collect()) == \
        sorted((r["query_id"], r["doc_id"], r["score"])
               for r in mm.collect())


def test_bool_topk_semantics(spark):
    """ES bool semantics on a hand-built corpus: must gates, should
    scores and gates via minimum_should_match, must_not excludes, and
    msm defaults (1 with only-should, 0 with must present)."""
    from dp_search_data_importer_spark.operators.bm25 import BoolSpec, bool_topk
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.session import local_df

    docs = local_df(spark, [
        (1, "apple banana cherry"),
        (2, "apple banana"),
        (3, "apple cherry poison"),
        (4, "banana cherry"),
        (5, "apple"),
    ], "doc_id long, text string")
    tf = term_freqs_sql(docs, id_col="doc_id", text_col="text")
    dfs = doc_freqs(tf)
    stats = corpus_stats_from_docs(docs)

    def hits(spec):
        rows = bool_topk(tf, [spec], dfs, stats, k=10).collect()
        return sorted(r["doc_id"] for r in rows)

    # must AND must
    assert hits(BoolSpec(1, must=["apple", "banana"])) == [1, 2]
    # must + must_not
    assert hits(BoolSpec(2, must=["apple"], must_not=["poison"])) == [1, 2, 5]
    # only should, default msm=1
    assert hits(BoolSpec(3, should=["banana", "poison"])) == [1, 2, 3, 4]
    # should with msm=2
    assert hits(BoolSpec(4, should=["apple", "banana", "cherry"],
                         minimum_should_match=2)) == [1, 2, 3, 4]
    # must + optional should: doc 1 outranks doc 2 (extra matched should)
    scored = bool_topk(tf, [BoolSpec(5, must=["apple"], should=["cherry"])],
                       dfs, stats, k=10).collect()
    assert sorted(r["doc_id"] for r in scored) == [1, 2, 3, 5]
    by_doc = {r["doc_id"]: r["score"] for r in scored}
    assert by_doc[1] > by_doc[2]
    # unseen must term ⇒ no results
    assert hits(BoolSpec(6, must=["zzznope"], should=["apple"])) == []
    # pure must_not is rejected
    import pytest as _pytest
    with _pytest.raises(ValueError, match="must or should"):
        BoolSpec(7, must_not=["apple"])


def test_bool_topk_without_clause_terms_is_empty(spark):
    """A bool batch with no clause terms (no specs) scores nothing: the
    clause term list is empty, which the shared SQL text writes as FALSE
    (Spark has no ``IN ()``), with the dfs join and with the in-plan df
    window alike."""
    from dp_search_data_importer_spark.operators.bm25 import bool_topk
    from dp_search_data_importer_spark.operators.postings import (
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.session import local_df

    docs = local_df(spark, [(1, "apple banana"), (2, "banana")],
                    "doc_id long, text string")
    tf = term_freqs_sql(docs, id_col="doc_id", text_col="text")
    stats = {"n_docs": 2, "avgdl": 1.5}
    assert bool_topk(tf, [], doc_freqs(tf), stats, k=5).collect() == []
    assert bool_topk(tf, [], None, stats, k=5).collect() == []


def test_multi_match_modes(spark):
    """best_fields is DisMax (tb=0 takes the max field; tb=1 ≡
    most_fields); cross_fields blends stats so a query split across
    fields ranks a doc that no single field fully matches."""
    from dp_search_data_importer_spark.operators.bm25 import multi_match_topk
    from dp_search_data_importer_spark.session import local_df

    docs = local_df(spark, [
        (1, "john meets mary", "smith writes code"),   # split across fields
        (2, "john smith", "unrelated title"),          # both in one field
        (3, "nothing here", "nothing there"),
    ], "doc_id long, body string, head string")
    qdf = local_df(spark, [(1, "john smith")],
                   "query_id long, query_text string")
    boosts = {"body": 1.0, "head": 1.0}

    def ranked(mode, **kw):
        rows = multi_match_topk(docs, boosts, qdf, k=10, mode=mode,
                                **kw).collect()
        return {r["doc_id"]: r["score"] for r in rows}

    most = ranked("most_fields")
    best_tb1 = ranked("best_fields", tie_breaker=1.0)
    assert most == best_tb1  # tb=1 degenerates to most_fields
    best0 = ranked("best_fields", tie_breaker=0.0)
    # pure dis-max never exceeds the most_fields sum
    assert all(best0[d] <= most[d] + 1e-9 for d in best0)
    cross = ranked("cross_fields")
    # the split doc matches BOTH terms under blended stats
    assert 1 in cross and 2 in cross and 3 not in cross
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown multi_match mode"):
        ranked("bogus_mode")


def test_bool_topk_property_vs_bruteforce(spark):
    """Property test: bool_topk's match set and scores agree with a
    brute-force Python evaluation of the ES bool semantics on randomized
    corpora and randomized clause combinations."""
    import math
    import random

    from dp_search_data_importer_spark.operators.bm25 import BoolSpec, bool_topk
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.session import local_df

    rng = random.Random(11)
    vocab = ["a", "b", "c", "d", "e"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(2, 15))))
            for i in range(60)]
    docs_df = local_df(spark, docs, "doc_id long, text string")
    tf = term_freqs_sql(docs_df, id_col="doc_id", text_col="text")
    dfs = doc_freqs(tf)
    stats = corpus_stats_from_docs(docs_df)

    n_docs = len(docs)
    dls = {i: len(t.split()) for i, t in docs}
    avgdl = sum(dls.values()) / n_docs
    df_py: dict[str, int] = {}
    for _, t in docs:
        for w in set(t.split()):
            df_py[w] = df_py.get(w, 0) + 1

    def bm25(term, doc_words, dl):
        tf_ = doc_words.count(term)
        if tf_ == 0 or term not in df_py:
            return 0.0
        idf = math.log(1 + (n_docs - df_py[term] + 0.5)
                       / (df_py[term] + 0.5))
        return idf * tf_ * 2.2 / (tf_ + 1.2 * (0.25 + 0.75 * dl / avgdl))

    def brute(spec):
        out = {}
        for doc_id, text in docs:
            words = text.split()
            if not all(m in words for m in spec.must):
                continue
            ns = sum(1 for s in set(spec.should) if s in words)
            if ns < spec.minimum_should_match:
                continue
            if any(nn in words for nn in spec.must_not):
                continue
            score = sum(bm25(t, words, dls[doc_id])
                        for t in spec.must + spec.should)
            if score > 0 or spec.must:
                out[doc_id] = round(score, 4)
        return out

    specs = []
    qid = 0
    for _ in range(12):
        qid += 1
        must = rng.sample(vocab, rng.randint(0, 2))
        should = rng.sample(vocab, rng.randint(0, 3))
        must_not = rng.sample(vocab, rng.randint(0, 1))
        if not must and not should:
            should = [rng.choice(vocab)]
        msm = (rng.randint(0, len(should)) if should and rng.random() < 0.5
               else None)
        specs.append(BoolSpec(qid, must=must, should=should,
                              must_not=must_not, minimum_should_match=msm))

    got_rows = bool_topk(tf, specs, dfs, stats, k=100).collect()
    got: dict[int, dict[int, float]] = {}
    for r in got_rows:
        got.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]
    for spec in specs:
        expect = brute(spec)
        have = got.get(spec.query_id, {})
        assert set(have) == set(expect), (spec.query_id, spec.must,
                                          spec.should, spec.must_not,
                                          spec.minimum_should_match)
        for d, s in expect.items():
            assert abs(have[d] - s) < 1e-3, (spec.query_id, d)


def test_significant_terms_broadcast_gate(spark):
    """A foreground above the broadcast gate must drop the broadcast hint
    (AQE picks the join) and still produce hash-identical results."""
    from dp_search_data_importer_spark.operators.bm25 import significant_terms
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.session import local_df

    docs = [(i, ("alpha beta " * 3 if i % 5 == 0 else "gamma delta ")
             + f"tok{i % 7}") for i in range(80)]
    docs_df = local_df(spark, docs, "doc_id long, text string")
    tf = term_freqs_sql(docs_df, id_col="doc_id", text_col="text")
    dfs = doc_freqs(tf)
    stats = corpus_stats_from_docs(docs_df)
    fg = docs_df.filter("doc_id % 5 = 0").select("doc_id")

    wide = significant_terms(tf, fg, dfs, stats, min_fg_df=2,
                             broadcast_limit=0)       # force the AQE path
    hinted = significant_terms(tf, fg, dfs, stats, min_fg_df=2,
                               broadcast_limit=10**9)  # force broadcast
    # the gated plan must not carry the foreground broadcast hint
    import re

    # (analyzed plan: the optimizer erases ResolvedHint once consumed)
    plan_wide = wide._jdf.queryExecution().analyzed().toString()
    plan_hint = hinted._jdf.queryExecution().analyzed().toString()
    n_hints_wide = len(re.findall(r"ResolvedHint", plan_wide))
    n_hints_hint = len(re.findall(r"ResolvedHint", plan_hint))
    assert n_hints_hint == n_hints_wide + 1
    assert wide.collect() == hinted.collect()


def test_bool_clause_fidelity(spark):
    """ES clause-level fidelity: (a) msm counts CLAUSES, so a term
    duplicated across two should clauses satisfies msm=2 by itself and
    scores twice; (b) per-clause boost multiplies that clause's BM25
    contribution; (c) the msm default resolves against filter context
    (must or filter present → 0, should-only → 1)."""
    import math

    from dp_search_data_importer_spark.operators.bm25 import BoolSpec, bool_topk
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.session import local_df

    rows = [
        (1, "apple banana cherry"),
        (2, "apple banana"),
        (3, "banana cherry"),
        (4, "cherry"),
    ]
    docs = local_df(spark, rows, "doc_id long, text string")
    tf = term_freqs_sql(docs, id_col="doc_id", text_col="text")
    dfs = doc_freqs(tf)
    stats = corpus_stats_from_docs(docs)

    # python reference for one term's bm25
    n = len(rows)
    dls = {i: len(t.split()) for i, t in rows}
    avgdl = sum(dls.values()) / n
    df_py: dict[str, int] = {}
    for _, t in rows:
        for w in set(t.split()):
            df_py[w] = df_py.get(w, 0) + 1

    def bm25(term, doc_id):
        words = dict(rows)[doc_id].split()
        tf_ = words.count(term)
        if tf_ == 0:
            return 0.0
        idf = math.log(1 + (n - df_py[term] + 0.5) / (df_py[term] + 0.5))
        return idf * tf_ * 2.2 / (tf_ + 1.2 * (0.25 + 0.75 * dls[doc_id] / avgdl))

    def run(spec, **kw):
        out = bool_topk(tf, [spec], dfs, stats, k=10, **kw).collect()
        return {r["doc_id"]: r["score"] for r in out}

    # (a) duplicate should clause: msm=2 is satisfiable by the ONE term
    dup = run(BoolSpec(1, should=["apple", "apple"],
                       minimum_should_match=2))
    assert set(dup) == {1, 2}  # docs with apple — one term, two clauses
    for d in dup:
        assert abs(dup[d] - round(2 * bm25("apple", d), 4)) < 1e-6
    # distinct-term counting would have returned nothing; two DIFFERENT
    # clauses still gate correctly
    two = run(BoolSpec(2, should=["apple", "cherry"],
                       minimum_should_match=2))
    assert set(two) == {1}

    # (b) per-clause boost: (term, boost) pairs scale the contribution
    boosted = run(BoolSpec(3, should=[("apple", 3.0), ("cherry", 1.0)]))
    for d in boosted:
        want = 3.0 * bm25("apple", d) + 1.0 * bm25("cherry", d)
        assert abs(boosted[d] - round(want, 4)) < 1e-6, d
    # boost reorders: cherry-only doc 4 outranks apple docs when cherry
    # carries the boost
    flipped = run(BoolSpec(4, should=[("apple", 0.01), ("cherry", 5.0)]))
    assert max(flipped, key=flipped.get) in (3, 4)

    # (c) msm default vs filter context: should-only defaults to 1
    # without filter, 0 with (ES 7.10) — with msm=0 every candidate doc
    # carrying ANY should term survives, same set here, but a spec whose
    # should terms never co-occur shows the difference
    spec = BoolSpec(5, should=["apple", "zzznope"])
    assert spec.effective_msm(has_filter=False) == 1
    assert spec.effective_msm(has_filter=True) == 0
    assert BoolSpec(6, must=["apple"]).effective_msm() == 0
    no_filter = run(spec, has_filter=False)
    with_filter = run(spec, has_filter=True)
    assert set(no_filter) == set(with_filter) == {1, 2}  # zzznope unseen
