"""ES ``_search`` body planner tests: every compiled body must equal the
direct operator composition it routes to (rank + rounded score), plus
semantics checks for the filter/scoring context split and error paths."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dp_search_data_importer_spark.plans.es_dsl import (
    EsDslError,
    EsSearchPlanner,
)


@pytest.fixture(scope="module")
def planner(spark, sf_dir):
    from dp_search_data_importer_spark.plans.driver_queries import load_table

    docs = load_table(spark, sf_dir, "documents").cache()
    docs.count()
    yield EsSearchPlanner(spark, docs)
    # load_table shares this frame through the plan cache: a persisted
    # copy left behind would make every later plan over it uncacheable
    docs.unpersist()


def _ranked(df):
    rows = df.collect()
    return sorted(((r["doc_id"], round(r["score"], 4)) for r in rows),
                  key=lambda t: (-t[1], t[0]))


def test_match_equals_bm25_topk(spark, planner):
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as po
    from dp_search_data_importer_spark.session import local_df

    body = {"query": {"match": {"text": "hash join"}}, "size": 10}
    got = _ranked(planner.search(body).hits)

    docs = planner.docs
    tf = po.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    qdf = local_df(spark, [(1, "hash join")],
                   "query_id long, query_text string")
    exp = _ranked(
        bm25_ops.bm25_topk(tf, qdf, k=10,
                           stats=po.corpus_stats_from_docs(docs))
        .drop("query_id"))
    assert got == exp


def test_bool_filter_context_does_not_score(planner):
    """bool{must: match, filter: range} ≡ match hits ∩ range set with
    UNCHANGED scores (global statistics — the ES filter contract)."""
    plain = dict(_ranked(planner.search(
        {"query": {"match": {"text": "hash join"}}, "size": 10000}).hits))
    body = {"query": {"bool": {
        "must": [{"match": {"text": "hash join"}}],
        "filter": [{"range": {"n_chars": {"gte": 300, "lte": 1500}}}],
    }}, "size": 10000}
    filtered = _ranked(planner.search(body).hits)
    allowed = {r["doc_id"] for r in planner.docs.filter(
        "n_chars >= 300 and n_chars <= 1500").select("doc_id").collect()}
    assert filtered  # non-trivial
    for doc_id, score in filtered:
        assert doc_id in allowed
        assert plain[doc_id] == score


def test_bool_msm_default_rules(planner):
    # should-only: msm defaults to 1 → docs must match ≥1 should clause
    only_should = planner.search({"query": {"bool": {
        "should": [{"match": {"text": "zzznope"}}]}}, "size": 5}).hits
    assert only_should.count() == 0
    # should + filter: msm defaults to 0 → should becomes pure boost
    with_filter = planner.search({"query": {"bool": {
        "should": [{"match": {"text": "zzznope"}}],
        "filter": [{"range": {"n_chars": {"lte": 400}}}]}},
        "size": 10000}).hits
    n_small = planner.docs.filter("n_chars <= 400").count()
    assert with_filter.count() == n_small


def test_must_not_excludes(planner):
    body = {"query": {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "must_not": [{"term": {"text": "join"}}]}}, "size": 10000}
    hits = {d for d, _ in _ranked(planner.search(body).hits)}
    with_join = {r["doc_id"] for r in planner.tf("text")
                 .filter("term = 'join'").select("doc_id").collect()}
    assert hits and not (hits & with_join)


def test_constant_score_and_terms(planner):
    body = {"query": {"constant_score": {
        "filter": {"terms": {"lang": ["en", "fr"]}}, "boost": 1.7}},
        "size": 100000}
    rows = planner.search(body).hits.collect()
    n = planner.docs.filter(F.col("lang").isin(["en", "fr"])).count()
    assert len(rows) == n
    assert all(r["score"] == pytest.approx(1.7) for r in rows)


def test_dis_max_matches_operator(spark, planner):
    from dp_search_data_importer_spark.operators.bm25 import (
        dis_max_scores,
        topk,
    )

    body = {"query": {"dis_max": {
        "tie_breaker": 0.3,
        "queries": [{"match": {"text": "hash join"}},
                    {"match_phrase": {"text": "hash join"}}]}},
        "size": 10}
    got = _ranked(planner.search(body).hits)
    b1 = planner.score({"match": {"text": "hash join"}}).withColumn(
        "query_id", F.lit(0))
    b2 = planner.score({"match_phrase": {"text": "hash join"}}).withColumn(
        "query_id", F.lit(0))
    exp = _ranked(topk(dis_max_scores([b1, b2], 0.3), 10).drop("query_id"))
    assert got == exp


def test_function_score_log1p(planner):
    body = {"query": {"function_score": {
        "query": {"match": {"text": "hash join"}},
        "field_value_factor": {"field": "n_chars", "factor": 0.1,
                               "modifier": "log1p"},
        "boost_mode": "multiply"}}, "size": 10}
    got = dict(_ranked(planner.search(body).hits))
    base = {r["doc_id"]: r["score"]
            for r in planner.score({"match": {"text": "hash join"}})
            .collect()}
    meta = {r["doc_id"]: r["n_chars"]
            for r in planner.docs.select("doc_id", "n_chars").collect()}
    import math

    for doc_id, score in got.items():
        exp = base[doc_id] * (1.0 + math.log1p(0.1 * meta[doc_id]))
        assert score == pytest.approx(round(exp, 4), abs=2e-4)


def test_sort_and_search_after(planner):
    body = {"query": {"match": {"text": "hash"}},
            "sort": [{"n_chars": {"order": "desc"}}], "size": 5}
    p1 = planner.search(body).hits.collect()
    assert len(p1) == 5
    vals = [(r["n_chars"], -r["doc_id"]) for r in p1]
    assert vals == sorted(vals, reverse=True)
    last = p1[-1] if vals[-1] == min(vals) else \
        sorted(p1, key=lambda r: (-r["n_chars"], r["doc_id"]))[-1]
    body2 = dict(body, search_after=[last["n_chars"], last["doc_id"]])
    p2 = planner.search(body2).hits.collect()
    assert len(p2) == 5
    full = planner.search(dict(body, size=10)).hits.collect()
    exp = sorted(full, key=lambda r: (-r["n_chars"], r["doc_id"]))[5:10]
    assert sorted((r["doc_id"] for r in p2)) == sorted(
        r["doc_id"] for r in exp)


def test_rescore_matches_operator(planner):
    from dp_search_data_importer_spark.operators.bm25 import rescore_topk

    body = {"query": {"match": {"text": "hash join"}},
            "rescore": {"window_size": 20, "query": {
                "rescore_query": {"match_phrase": {"text": "hash join"}},
                "query_weight": 1.0, "rescore_query_weight": 2.0}},
            "size": 10}
    got = _ranked(planner.search(body).hits)
    base = planner.score({"match": {"text": "hash join"}}).withColumn(
        "query_id", F.lit(0).cast("long"))
    resc = planner.score({"match_phrase": {"text": "hash join"}}).withColumn(
        "query_id", F.lit(0).cast("long"))
    exp = _ranked(rescore_topk(base, resc, 20, 10, 1.0, 2.0)
                  .drop("query_id"))
    assert got == exp


def test_collapse_one_hit_per_key(planner):
    body = {"query": {"match": {"text": "hash join"}},
            "collapse": {"field": "lang"}, "size": 10}
    rows = planner.search(body).hits.collect()
    langs = [r["lang"] for r in rows]
    assert len(langs) == len(set(langs))
    assert rows  # collapse produced winners


def test_aggs_terms_range_cardinality_percentiles(planner):
    body = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {
                "langs": {"terms": {"field": "lang", "size": 3}},
                "buckets": {"range": {"field": "n_chars", "ranges": [
                    {"to": 500.0}, {"from": 500.0}]}},
                "nlang": {"cardinality": {"field": "lang"}},
                "pct": {"percentiles": {"field": "n_chars",
                                        "percents": [50.0]}},
                "st": {"stats": {"field": "n_chars"}},
            }}
    res = planner.search(body)
    hit_ids = {r["doc_id"] for r in planner.score(
        {"match": {"text": "hash join"}}).select("doc_id").collect()}
    langs = res.aggregations["langs"].collect()
    assert sum(r["doc_count"] for r in langs) <= len(hit_ids)
    assert langs == sorted(langs,
                           key=lambda r: (-r["doc_count"], r["key"]))
    ranges = res.aggregations["buckets"].collect()
    assert sum(r["doc_count"] for r in ranges) == len(hit_ids)
    card = res.aggregations["nlang"].collect()[0]
    assert card["value"] == len({
        r["lang"] for r in planner.docs.filter(
            F.col("doc_id").isin(list(hit_ids)))
        .select("lang").collect()})
    st = res.aggregations["st"].collect()[0]
    assert st["count"] == len(hit_ids)
    assert res.aggregations["pct"].collect()[0]["percent"] == 50.0


def test_aggs_top_hits_and_composite(planner):
    from dp_search_data_importer_spark.operators import aggs as agg_ops

    body = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"best": {"terms": {"field": "lang"},
                              "aggs": {"top": {"top_hits": {
                                  "size": 2,
                                  "sort": [{"n_chars": {
                                      "order": "desc"}}]}}}},
                     "page": {"composite": {
                         "size": 3,
                         "sources": [{"l": {"terms": {"field": "lang"}}}],
                     }}}}
    res = planner.search(body)
    th = res.aggregations["best"].collect()
    per_bucket: dict[str, int] = {}
    for r in th:
        per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + 1
    assert per_bucket and all(v <= 2 for v in per_bucket.values())
    page1 = res.aggregations["page"].collect()
    assert len(page1) <= 3
    # after-cursor resumes exactly past page 1; buckets are keyed by
    # SOURCE name (the ES after_key / response contract)
    after = {"l": max(r["l"] for r in page1)}
    body2 = {"query": {"match": {"text": "hash join"}}, "size": 0,
             "aggs": {"page": {"composite": {
                 "size": 100, "after": after,
                 "sources": [{"l": {"terms": {"field": "lang"}}}]}}}}
    page2 = planner.search(body2).aggregations["page"].collect()
    assert all(r["l"] > after["l"] for r in page2)


def test_expansion_families_and_phrase_prefix(planner):
    # wildcard / prefix / fuzzy / regexp compile to scored OR-sets
    for q in ({"wildcard": {"text": {"value": "wind*"}}},
              {"prefix": {"text": {"value": "ha"}}},
              {"fuzzy": {"text": {"value": "hashh"}}},
              {"regexp": {"text": {"value": "jo.n|join"}}}):
        assert planner.search({"query": q, "size": 5}).hits.count() > 0
    pp = planner.search({"query": {
        "match_phrase_prefix": {"text": {"query": "hash jo"}}},
        "size": 5}).hits
    assert pp.count() > 0


def test_highlight_hit_scoped_snippets(planner):
    body = {"query": {"match": {"text": "hash join"}}, "size": 10,
            "highlight": {"fields": {"text": {}}}}
    res = planner.search(body)
    hit_ids = {r["doc_id"] for r in res.hits.collect()}
    hl = res.highlights.collect()
    assert hl
    for r in hl:
        assert r["doc_id"] in hit_ids          # hit-scoped only
        assert r["term"] in ("hash", "join")   # scoring terms only
        assert r["term"] in r["snippet"].split()
        assert r["field"] == "text"
    # filter-context terms are never highlighted
    body2 = {"query": {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"term": {"text": "join"}}]}},
        "size": 10, "highlight": {"fields": {"text": {}}}}
    assert all(r["term"] == "hash"
               for r in planner.search(body2).highlights.collect())


def test_suggest_completion_and_term(planner):
    body = {"suggest": {
        "c": {"prefix": "ha", "completion": {"field": "text", "size": 5}},
        "t": {"text": "hassh", "term": {"field": "text", "size": 3}},
    }}
    res = planner.search(body)
    comp = res.suggestions["c"].collect()
    assert comp and all(r["term"].startswith("ha") for r in comp)
    dfs = [r["df"] for r in comp]
    assert dfs == sorted(dfs, reverse=True)
    term = res.suggestions["t"].collect()
    assert term and all(r["dist"] <= 2 for r in term)
    assert any(r["term"] == "hash" for r in term)
    # ranked (dist asc, df desc, term asc)
    keys = [(r["dist"], -r["df"], r["term"]) for r in term]
    assert keys == sorted(keys)


@pytest.fixture(scope="module")
def doc_index(spark, planner, tmp_path_factory):
    """Stored index built from the SAME documents table the dataflow
    planner reads — the cross-planner identity substrate."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans.build_index import build_index

    out = str(tmp_path_factory.mktemp("dsl_idx"))
    build_index(spark, planner.docs, out,
                EngineConfig(n_shards=4),
                code_aware=False, text_col="text",
                already_normalized=True, waves=1)
    return out


def _indexed(spark, out, body, **kw):
    from dp_search_data_importer_spark.plans.es_dsl import search_indexed

    return search_indexed(spark, out, body, **kw)


def test_indexed_match_equals_dataflow(spark, planner, doc_index):
    body = {"query": {"match": {"text": "hash join"}}, "size": 10}
    got = _ranked(_indexed(spark, doc_index, body).hits)
    exp = _ranked(planner.search(body).hits)
    assert got == exp
    # the WAND entry point: same ranking
    from dp_search_data_importer_spark.plans import query as q

    wand = _ranked(q.wand_topk(spark, doc_index, [(0, "hash join")], k=10))
    assert wand == exp


def test_indexed_bool_and_filtered_equal_dataflow(spark, planner,
                                                  doc_index):
    # single must-match + filter context → filtered_topk route
    body = {"query": {"bool": {
        "must": [{"match": {"text": "hash join"}}],
        "filter": [{"range": {"n_chars": {"gte": 300, "lte": 1500}}}],
    }}, "size": 10}
    assert _ranked(_indexed(spark, doc_index, body).hits) == \
        _ranked(planner.search(body).hits)
    # term-level clause set → bool_topk_indexed route
    body2 = {"query": {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "should": [{"match": {"text": "merge"}},
                   {"match": {"text": "join"}}],
        "must_not": [{"match": {"text": "zzznope"}}],
    }}, "size": 10}
    assert _ranked(_indexed(spark, doc_index, body2).hits) == \
        _ranked(planner.search(body2).hits)


def test_indexed_filter_only_bool_equals_dataflow(spark, planner,
                                                  doc_index):
    """A bool with filter context only answers every filtered doc at score
    0, in the dataflow planner's order; a must_not clause still excludes."""
    for body in (
        {"query": {"bool": {"filter": [
            {"range": {"n_chars": {"gte": 300, "lte": 1500}}}]}},
         "size": 10},
        {"query": {"bool": {"filter": [{"term": {"lang": "fr"}}],
                            "must_not": [{"match": {"text": "hash"}}]}},
         "size": 10},
    ):
        got = _ranked(_indexed(spark, doc_index, body).hits)
        assert got == _ranked(planner.search(body).hits)
        assert len(got) == body["size"]
        assert {score for _, score in got} == {0.0}


def test_indexed_sort_and_facets_equal_dataflow(spark, planner,
                                                doc_index):
    body = {"query": {"match": {"text": "hash"}},
            "sort": [{"n_chars": {"order": "desc"}}], "size": 5}
    got = [(r["doc_id"], r["n_chars"])
           for r in _indexed(spark, doc_index, body).hits
           .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
           .collect()]
    exp = [(r["doc_id"], r["n_chars"])
           for r in planner.search(body).hits
           .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
           .collect()]
    assert got == exp
    body_a = {"query": {"match": {"text": "hash"}}, "size": 0,
              "aggs": {"langs": {"terms": {"field": "lang", "size": 4}}}}
    got_a = sorted((r["key"], r["doc_count"]) for r in
                   _indexed(spark, doc_index, body_a)
                   .aggregations["langs"].collect())
    exp_a = sorted((r["key"], r["doc_count"]) for r in
                   planner.search(body_a).aggregations["langs"].collect())
    assert got_a == exp_a


def test_indexed_errors(spark, doc_index):
    from dp_search_data_importer_spark.plans.es_dsl import (
        EsDslError,
        search_indexed,
    )

    # match_phrase routes to the positional path now; an index built
    # WITHOUT positions refuses loudly instead of silently degrading
    with pytest.raises(FileNotFoundError):
        search_indexed(spark, doc_index,
                       {"query": {"match_phrase": {"text": "a b"}}})
    with pytest.raises(EsDslError):
        search_indexed(spark, doc_index,
                       {"query": {"bool": {"must": [
                           {"match": {"text": "two tokens"}},
                           {"match": {"text": "x"}}]}}})
    with pytest.raises(EsDslError):
        search_indexed(spark, doc_index, {"query": {"knn": {}}})


def test_errors(planner):
    with pytest.raises(EsDslError):
        planner.search({"query": {"nested": {"path": "dims"}}})
    with pytest.raises(EsDslError):
        planner.search({"query": {"match_all": {}}, "from": 10})
    with pytest.raises(EsDslError):
        planner.search({"knn": {}})
    with pytest.raises(EsDslError):
        planner.search({"query": {"bool": {}}})


# ------------------------------------------------- query_string family

def test_query_string_equals_node_tree(planner):
    """The parsed query_string must execute identically to the explicit
    bool body it documents — same planner, same statistics."""
    qs = {"query": {"query_string": {
        "query": '(hash OR merge) AND join'}}, "size": 10}
    explicit = {"query": {"bool": {"must": [
        {"bool": {"should": [{"match": {"text": "hash"}},
                             {"match": {"text": "merge"}}],
                  "minimum_should_match": 1}},
        {"match": {"text": "join"}}]}}, "size": 10}
    assert _ranked(planner.search(qs).hits) \
        == _ranked(planner.search(explicit).hits)


def test_query_string_default_operator_and_phrase(planner):
    qs_or = planner.search({"query": {"query_string": {
        "query": 'hash join'}}, "size": 500}).hits
    explicit_or = planner.search({"query": {"bool": {"should": [
        {"match": {"text": "hash"}}, {"match": {"text": "join"}}],
        "minimum_should_match": 1}}, "size": 500}).hits
    assert _ranked(qs_or) == _ranked(explicit_or)
    qs_and = planner.search({"query": {"query_string": {
        "query": 'hash join', "default_operator": "AND"}},
        "size": 500}).hits
    explicit_and = planner.search({"query": {"bool": {"must": [
        {"match": {"text": "hash"}}, {"match": {"text": "join"}}]}},
        "size": 500}).hits
    assert _ranked(qs_and) == _ranked(explicit_and)
    # negated phrase excludes exactly the phrase-matching docs
    neg = planner.search({"query": {"query_string": {
        "query": 'join -"hash join"'}}, "size": 500}).hits
    phrase_ids = {r["doc_id"] for r in planner.score(
        {"match_phrase": {"text": "hash join"}}).collect()}
    neg_ids = {d for d, _ in _ranked(neg)}
    assert neg_ids and not (neg_ids & phrase_ids)


def test_query_string_meta_range_boost_fuzzy(planner):
    got = planner.search({"query": {"query_string": {
        "query": 'lang:python AND n_chars:[300 TO 1500] AND hash'}},
        "size": 500}).hits
    explicit = planner.search({"query": {"bool": {"must": [
        {"term": {"lang": {"value": "python"}}},
        {"range": {"n_chars": {"gte": 300, "lte": 1500}}},
        {"match": {"text": "hash"}}]}}, "size": 500}).hits
    assert _ranked(got) == _ranked(explicit)
    # ^boost scales scores 2x (constant-score term leaves add 1.0 each)
    base = dict(_ranked(planner.search({"query": {"query_string": {
        "query": "hash"}}, "size": 500}).hits))
    boosted = dict(_ranked(planner.search({"query": {"query_string": {
        "query": "hash^2"}}, "size": 500}).hits))
    assert set(base) == set(boosted)
    for d, s in base.items():
        assert abs(boosted[d] - 2 * s) < 1e-3
    # fuzzy ~1 equals the fuzzy leaf
    fz = planner.search({"query": {"query_string": {
        "query": "hsah~1"}}, "size": 500}).hits
    leaf = planner.search({"query": {"fuzzy": {"text": {
        "value": "hsah", "fuzziness": 1}}}, "size": 500}).hits
    assert _ranked(fz) == _ranked(leaf)


def test_simple_query_string_dialect(planner):
    got = planner.search({"query": {"simple_query_string": {
        "query": '"hash join" | merge -scan'}}, "size": 500}).hits
    explicit = planner.search({"query": {"bool": {
        "should": [{"match_phrase": {"text": "hash join"}},
                   {"match": {"text": "merge"}}],
        "minimum_should_match": 1,
        "must_not": [{"match": {"text": "scan"}}]}}, "size": 500}).hits
    assert _ranked(got) == _ranked(explicit)
    # + is binary AND; trailing * is a prefix query
    got2 = planner.search({"query": {"simple_query_string": {
        "query": "hash + tabl*"}}, "size": 500}).hits
    explicit2 = planner.search({"query": {"bool": {"must": [
        {"match": {"text": "hash"}},
        {"prefix": {"text": {"value": "tabl"}}}]}}, "size": 500}).hits
    assert _ranked(got2) == _ranked(explicit2)
    # malformed input NEVER raises: degrades to literal terms
    deg = planner.search({"query": {"simple_query_string": {
        "query": "bad ( unbalanced"}}, "size": 500}).hits
    lit = planner.search({"query": {"match": {
        "text": "bad unbalanced"}}, "size": 500}).hits
    assert _ranked(deg) == _ranked(lit)


def test_query_string_errors(planner):
    from dp_search_data_importer_spark.plans.query_string import (
        QueryStringError,
    )

    with pytest.raises(QueryStringError):
        planner.search({"query": {"query_string": {
            "query": '"unterminated'}}})
    with pytest.raises(QueryStringError):
        planner.search({"query": {"query_string": {"query": "(a b"}}})
    with pytest.raises(EsDslError):
        planner.search({"query": {"query_string": {
            "query": "x", "fields": ["text", "lang"]}}})


# ------------------------------------------------- terms sub-aggregations

def test_terms_metric_subaggs(planner):
    body = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"langs": {"terms": {"field": "lang", "size": 100},
                               "aggs": {
                "avg_chars": {"avg": {"field": "n_chars"}},
                "total_chars": {"sum": {"field": "n_chars"}},
                "nsrc": {"cardinality": {"field": "source"}}}}}}
    got = {r["key"]: r for r in
           planner.search(body).aggregations["langs"].collect()}
    hit_ids = [r["doc_id"] for r in planner.score(
        {"match": {"text": "hash join"}}).select("doc_id").collect()]
    rows = planner.docs.filter(F.col("doc_id").isin(hit_ids)) \
        .select("lang", "n_chars", "source").collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(got) == set(by_lang)
    for lang, rs in by_lang.items():
        g = got[lang]
        assert g["doc_count"] == len(rs)
        assert abs(g["avg_chars"]
                   - sum(x["n_chars"] for x in rs) / len(rs)) < 1e-9
        assert g["total_chars"] == float(sum(x["n_chars"] for x in rs))
        assert g["nsrc"] == len({x["source"] for x in rs})


def test_terms_order_by_metric(planner):
    body = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"langs": {
                "terms": {"field": "lang", "size": 3,
                          "order": {"avg_chars": "desc"}},
                "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}
    rows = planner.search(body).aggregations["langs"].collect()
    assert len(rows) == 3
    avgs = [r["avg_chars"] for r in rows]
    assert avgs == sorted(avgs, reverse=True)


def test_nested_terms_subagg(planner):
    body = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"langs": {"terms": {"field": "lang", "size": 100},
                               "aggs": {"srcs": {
                "terms": {"field": "source", "size": 2},
                "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}}}
    rows = planner.search(body).aggregations["langs"].collect()
    hit_ids = [r["doc_id"] for r in planner.score(
        {"match": {"text": "hash join"}}).select("doc_id").collect()]
    docs = planner.docs.filter(F.col("doc_id").isin(hit_ids)) \
        .select("lang", "source", "n_chars").collect()
    # parent doc_count covers the whole bucket, children are top-2 by
    # (count desc, key asc), child metrics are per-(parent, child)
    from collections import Counter, defaultdict
    parent_n = Counter(r["lang"] for r in docs)
    pair_n = Counter((r["lang"], r["source"]) for r in docs)
    pair_chars = defaultdict(list)
    for r in docs:
        pair_chars[(r["lang"], r["source"])].append(r["n_chars"])
    seen_children = defaultdict(list)
    for r in rows:
        assert r["doc_count"] == parent_n[r["key"]]
        assert r["sub_count"] == pair_n[(r["key"], r["sub_key"])]
        vals = pair_chars[(r["key"], r["sub_key"])]
        assert abs(r["avg_chars"] - sum(vals) / len(vals)) < 1e-9
        seen_children[r["key"]].append((r["sub_count"], r["sub_key"]))
    for lang, kids in seen_children.items():
        expect = sorted(((pair_n[(lang, s)], s) for (la, s) in pair_n
                         if la == lang),
                        key=lambda t: (-t[0], t[1]))[:2]
        assert sorted(kids, key=lambda t: (-t[0], t[1])) == expect


def test_subagg_errors(planner):
    with pytest.raises(EsDslError):
        planner.search({"query": {"match_all": {}}, "size": 0,
                        "aggs": {"a": {"terms": {"field": "lang"},
                                       "aggs": {"b": {"derivative": {
                                           "field": "n_chars"}}}}}})
    with pytest.raises(EsDslError):
        planner.search({"query": {"match_all": {}}, "size": 0,
                        "aggs": {"a": {
                            "terms": {"field": "lang",
                                      "order": {"nope": "desc"}}}}})


def test_indexed_query_string_equals_dataflow(spark, planner, doc_index):
    """Stored-index query_string: rank-identical to the dataflow planner;
    meta scoring leaves run in filter context, so scores shift down by
    exactly the 1.0-per-leaf constant-score contribution."""
    body = {"query": {"query_string": {
        "query": "hash AND join -scan"}}, "size": 10}
    got = _ranked(_indexed(spark, doc_index, body).hits)
    exp = _ranked(planner.search(body).hits)
    assert got == exp
    # meta leaf: same ranks, dataflow scores exactly +1.0
    body2 = {"query": {"query_string": {
        "query": "lang:python AND hash AND join"}}, "size": 300}
    got2 = _ranked(_indexed(spark, doc_index, body2).hits)
    exp2 = _ranked(planner.search(body2).hits)
    assert [d for d, _ in got2] == [d for d, _ in exp2]
    for (d1, s1), (d2, s2) in zip(got2, exp2):
        assert abs((s2 - s1) - 1.0) < 2e-4
    # simple_query_string: binary + over the stored index
    body3 = {"query": {"simple_query_string": {
        "query": "hash + join"}}, "size": 10}
    assert _ranked(_indexed(spark, doc_index, body3).hits) \
        == _ranked(planner.search(body3).hits)


def test_indexed_query_string_unsupported_shapes(spark, doc_index):
    from dp_search_data_importer_spark.plans.es_dsl import (
        EsDslError,
        search_indexed,
    )

    with pytest.raises(EsDslError):  # nested OR group inside AND
        search_indexed(spark, doc_index, {"query": {"query_string": {
            "query": "(hash OR merge) AND join"}}})
    with pytest.raises(EsDslError):  # phrase clause in a bool
        search_indexed(spark, doc_index, {"query": {"query_string": {
            "query": '"hash join" AND merge'}}})


def test_date_histogram_agg(spark, planner):
    """``date_histogram``: calendar-month buckets over the hit set equal
    the direct date_trunc groupBy; empty buckets between the first and
    last populated key are filled (min_doc_count 0, the ES default) with
    doc_count 0 and sum 0; min_doc_count 1 drops them."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    docs2 = planner.docs.withColumn(
        "release_date",
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("doc_id") % 60).cast("int")))
    p2 = EsSearchPlanner(spark, docs2)
    body = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"per_month": {
                "date_histogram": {"field": "release_date",
                                   "calendar_interval": "month"},
                "aggs": {"sum_chars": {"sum": {"field": "n_chars"}}}}}}
    res = p2.search(body)
    got = {r["key"]: (r["doc_count"], r["sum_chars"])
           for r in res.aggregations["per_month"].collect()}
    hit_ids = [r["doc_id"] for r in
               p2.search({"query": {"match": {"text": "hash join"}},
                          "size": 100000}).hits.collect()]
    exp = {r["key"]: (r["doc_count"], float(r["sum_chars"]))
           for r in docs2.filter(F.col("doc_id").isin(hit_ids))
           .groupBy(F.date_trunc("month", F.col("release_date")
                                 .cast("timestamp")).alias("key"))
           .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
                F.sum("n_chars").cast("double").alias("sum_chars"))
           .collect()}
    assert {k: v for k, v in got.items() if v[0] > 0} == exp
    assert sum(v[0] for v in got.values()) == len(hit_ids)

    # fixed_interval + gap filling: a rare query spans more days than it
    # has hits, so zero-count buckets must appear and be contiguous
    docs3 = planner.docs.withColumn(
        "release_date",
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("doc_id") % 365).cast("int")))
    p3 = EsSearchPlanner(spark, docs3)
    bodyd = {"query": {"match": {"text": "dup"}}, "size": 0,
             "aggs": {"d": {"date_histogram": {
                 "field": "release_date", "fixed_interval": "1d"}}}}
    rows = sorted(res_r["key"] for res_r in
                  p3.search(bodyd).aggregations["d"].collect())
    assert len(rows) >= 2
    import datetime
    span = (rows[-1] - rows[0]).days + 1
    assert len(rows) == span  # contiguous daily keys, gaps filled
    counts = {r["key"]: r["doc_count"]
              for r in p3.search(bodyd).aggregations["d"].collect()}
    assert 0 in counts.values() or span == sum(
        1 for v in counts.values() if v > 0)
    # min_doc_count 1: only populated buckets remain
    bodyd1 = {"query": {"match": {"text": "dup"}}, "size": 0,
              "aggs": {"d": {"date_histogram": {
                  "field": "release_date", "fixed_interval": "1d",
                  "min_doc_count": 1}}}}
    only = p3.search(bodyd1).aggregations["d"].collect()
    assert all(r["doc_count"] >= 1 for r in only)
    assert len(only) == sum(1 for v in counts.values() if v > 0)


def test_date_histogram_errors(planner):
    with pytest.raises(EsDslError):  # no interval at all
        planner.search({"query": {"match_all": {}}, "size": 0,
                        "aggs": {"d": {"date_histogram": {
                            "field": "n_chars"}}}})
    with pytest.raises(EsDslError):  # bucket sub-agg under date_histogram
        planner.search({"query": {"match_all": {}}, "size": 0,
                        "aggs": {"d": {
                            "date_histogram": {"field": "n_chars",
                                               "calendar_interval": "day"},
                            "aggs": {"t": {"terms": {"field": "lang"}}}}}})
    with pytest.raises(EsDslError):  # unsupported calendar unit
        planner.search({"query": {"match_all": {}}, "size": 0,
                        "aggs": {"d": {"date_histogram": {
                            "field": "n_chars",
                            "calendar_interval": "fortnight"}}}})


def test_msearch_equals_per_body_search(planner):
    """``_msearch``: every slot's hits equal the same body through
    ``search`` — batched match bodies (shared scoring job), a different
    size, an unbatchable sort body, and a no-hit query."""
    bodies = [
        {"query": {"match": {"text": "hash join"}}, "size": 10},
        {"query": {"match": {"text": {"query": "window agg"}}}, "size": 5},
        {"query": {"match": {"text": "hash"}},
         "sort": [{"n_chars": {"order": "desc"}}], "size": 10},
        {"query": {"match": {"text": "zzznope"}}, "size": 10},
        {"query": {"match": {"text": "dup"}}, "size": 3},
    ]
    got = planner.msearch(bodies)
    for body, res in zip(bodies, got):
        exp = planner.search(body)
        if "sort" in body:
            a = [(r["doc_id"], r["n_chars"]) for r in res.hits.collect()]
            b = [(r["doc_id"], r["n_chars"]) for r in exp.hits.collect()]
            assert a == b
        else:
            assert _ranked(res.hits) == _ranked(exp.hits)


def test_filters_agg_and_count(planner):
    """``filters`` agg: named buckets equal direct filtered counts over
    the hit set, computed in one conditional-sum pass; ``_count`` twin
    equals the hit-set size."""
    body = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"by": {"filters": {"filters": {
                "short": {"range": {"n_chars": {"lt": 500}}},
                "en": {"term": {"lang": "en"}},
                "none": {"term": {"lang": "zz-nope"}}}}}}}
    res = planner.search(body)
    got = {r["key"]: r["doc_count"]
           for r in res.aggregations["by"].collect()}
    hits = planner.search({"query": {"match": {"text": "hash join"}},
                           "size": 100000}).hits
    ids = [r["doc_id"] for r in hits.collect()]
    d = planner.docs.filter(F.col("doc_id").isin(ids))
    assert got == {
        "short": d.filter("n_chars < 500").count(),
        "en": d.filter("lang = 'en'").count(),
        "none": 0,
    }
    cnt = planner.count(
        {"query": {"match": {"text": "hash join"}}}).collect()[0]["count"]
    assert cnt == len(ids)
    with pytest.raises(EsDslError):
        planner.count({"query": {"match_all": {}}, "size": 5})
    with pytest.raises(EsDslError):
        planner.search({"query": {"match_all": {}}, "size": 0,
                        "aggs": {"by": {"filters": {"filters": {}}}}})


def test_global_missing_and_terms_missing(spark, planner):
    """``global`` escapes the query scope (sub-agg over ALL docs);
    ``missing`` counts null-field hits; ``terms`` drops null keys by
    default and buckets them under the ``missing`` literal when given."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    # docs with lang nulled for doc_id % 7 == 0
    docs2 = planner.docs.withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 0, None)
        .otherwise(F.col("lang")))
    p2 = EsSearchPlanner(spark, docs2)
    res = p2.search({"query": {"match": {"text": "dup"}}, "size": 0,
                     "aggs": {
                         "all_langs": {"global": {},
                                       "aggs": {"l": {"terms": {
                                           "field": "lang",
                                           "size": 100}}}},
                         "nolang": {"missing": {"field": "lang"}},
                         "langs": {"terms": {"field": "lang",
                                             "size": 100}},
                         "langs_m": {"terms": {"field": "lang",
                                               "size": 100,
                                               "missing": "unknown"}}}})
    # global: buckets over ALL docs, not the 'dup' hit set
    g = {r["key"]: r["doc_count"]
         for r in res.aggregations["all_langs"].collect()}
    exp_g = {r["lang"]: r["cnt"] for r in
             docs2.filter("lang IS NOT NULL").groupBy("lang")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert g == exp_g
    # hit set for the scoped aggs
    ids = [r["doc_id"] for r in
           p2.search({"query": {"match": {"text": "dup"}},
                      "size": 100000}).hits.collect()]
    d = docs2.filter(F.col("doc_id").isin(ids))
    assert res.aggregations["nolang"].collect()[0]["doc_count"] \
        == d.filter("lang IS NULL").count()
    got = {r["key"]: r["doc_count"]
           for r in res.aggregations["langs"].collect()}
    assert None not in got and "unknown" not in got
    gotm = {r["key"]: r["doc_count"]
            for r in res.aggregations["langs_m"].collect()}
    assert gotm.get("unknown", 0) == d.filter("lang IS NULL").count()
    assert sum(gotm.values()) == len(ids)
    with pytest.raises(EsDslError):  # global needs exactly one sub-agg
        p2.search({"query": {"match_all": {}}, "size": 0,
                   "aggs": {"g": {"global": {}}}})


def test_indexed_agg_family_equals_dataflow(spark, planner, doc_index):
    """Stored-index aggs now route through the SAME _agg code path as
    the dataflow planner over the stored docs/ metadata — the whole
    family, not just terms."""
    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"st": {"stats": {"field": "n_chars"}},
                     "h": {"histogram": {"field": "n_chars",
                                         "interval": 400}},
                     "by": {"filters": {"filters": {
                         "short": {"range": {"n_chars": {"lt": 500}}},
                         "en": {"term": {"lang": "en"}}}}},
                     "card": {"cardinality": {"field": "lang"}}}}
    got = _indexed(spark, doc_index, body)
    exp = planner.search(body)
    for name in body["aggs"]:
        g = sorted(tuple(r) for r in got.aggregations[name].collect())
        e = sorted(tuple(r) for r in exp.aggregations[name].collect())
        assert g == e, name


def test_analyze_endpoint_twin(planner):
    """``_analyze``: the planner's own query-side token stream, with
    token-granular positions."""
    rows = [(r["token"], r["position"])
            for r in planner.analyze("Hash-Join, or MERGE join?").collect()]
    assert rows == [("hash", 0), ("join", 1), ("or", 2),
                    ("merge", 3), ("join", 4)]
    assert planner.analyze("").count() == 0


def test_function_score_decay_and_functions_array(planner):
    """functions[] with filters/weights/decay: ES numeric decay curves,
    applied-only score_mode combination, max_boost cap, boost_mode
    variants — all checked against a Python replay."""
    import math

    base_body = {"query": {"match": {"text": "dup"}}, "size": 10000}
    base = dict(_ranked(planner.search(base_body).hits))
    meta = {r["doc_id"]: (r["n_chars"], r["lang"])
            for r in planner.docs.select(
                "doc_id", "n_chars", "lang").collect()}

    spec = {"query": {"match": {"text": "dup"}},
            "functions": [
                {"gauss": {"n_chars": {"origin": 800, "scale": 400}},
                 "weight": 2.0},
                {"filter": {"term": {"lang": "en"}}, "weight": 3.0},
            ],
            "score_mode": "sum", "boost_mode": "multiply",
            "max_boost": 4.0}
    got = dict(_ranked(planner.search(
        {"query": {"function_score": spec}, "size": 10000}).hits))

    assert got, "query must match documents"
    for doc_id, score in got.items():
        n_chars, lang = meta[doc_id]
        dist = max(0.0, abs(n_chars - 800.0))
        sigma2 = -400.0 * 400.0 / (2.0 * math.log(0.5))
        g = math.exp(-(dist * dist) / (2.0 * sigma2)) * 2.0
        f = g + (3.0 if lang == "en" else 0.0)
        f = min(f, 4.0)
        assert abs(score - round(base[doc_id] * f, 4)) < 2e-3, doc_id

    # no function applies → score unchanged (identity)
    spec2 = {"query": {"match": {"text": "dup"}},
             "functions": [{"filter": {"term": {"lang": "zz"}},
                            "weight": 9.0}],
             "boost_mode": "multiply"}
    got2 = dict(_ranked(planner.search(
        {"query": {"function_score": spec2}, "size": 10000}).hits))
    assert got2 == base

    # boost_mode replace + linear decay: pure function ranking
    spec3 = {"query": {"match": {"text": "dup"}},
             "functions": [{"linear": {"n_chars": {
                 "origin": 0, "scale": 1000, "decay": 0.5}}}],
             "boost_mode": "replace"}
    got3 = dict(_ranked(planner.search(
        {"query": {"function_score": spec3}, "size": 10000}).hits))
    s = 1000.0 / 0.5
    for doc_id, score in got3.items():
        n_chars, _ = meta[doc_id]
        expect = max(0.0, (s - abs(float(n_chars))) / s)
        assert abs(score - round(expect, 4)) < 2e-3

    with pytest.raises(EsDslError):
        planner.search({"query": {"function_score": {
            "query": {"match_all": {}},
            "functions": [{"gauss": {"n_chars": {
                "origin": 0, "scale": -1}}}]}}})


def test_indexed_suggest_equals_dataflow(spark, planner, doc_index):
    """Stored-index suggest: completion + term suggesters against the
    stored term_df dictionary equal the dataflow planner's (same corpus,
    same dictionary)."""
    body = {"suggest": {
        "c": {"prefix": "s", "completion": {"field": "text", "size": 5}},
        "t": {"text": "hashh", "term": {"field": "text", "size": 3}}}}
    got = _indexed(spark, doc_index, body)
    exp = planner.search(body)
    for name in ("c", "t"):
        g = [tuple(r) for r in got.suggestions[name].collect()]
        e = [tuple(r) for r in exp.suggestions[name].collect()]
        assert g == e, name
    assert got.hits.count() == 0
    # suggest alongside a query still works
    body2 = {"query": {"match": {"text": "hash"}}, "size": 5,
             "suggest": {"c": {"prefix": "jo",
                               "completion": {"field": "text"}}}}
    got2 = _indexed(spark, doc_index, body2)
    exp2 = planner.search(body2)
    assert _ranked(got2.hits) == _ranked(exp2.hits)
    assert [tuple(r) for r in got2.suggestions["c"].collect()] \
        == [tuple(r) for r in exp2.suggestions["c"].collect()]


def test_script_score_matches_manual(planner):
    """script_score re-scores the wrapped query's hits with the compiled
    Painless-subset expression — verified against the same arithmetic
    done in Python over the plain match scores + doc metadata."""
    body = {"query": {"script_score": {
        "query": {"match": {"text": "hash join"}},
        "script": {
            "source": "_score * saturation(doc['n_chars'].value, "
                      "params.k) + Math.log(1 + doc['n_chars'].value)",
            "params": {"k": 500}},
    }}, "size": 10000}
    got = dict(_ranked(planner.search(body).hits))

    import math

    plain = dict(_ranked(planner.search(
        {"query": {"match": {"text": "hash join"}}, "size": 10000}).hits))
    nchars = {r["doc_id"]: r["n_chars"]
              for r in planner.docs.select("doc_id", "n_chars").collect()}
    assert set(got) == set(plain)
    for d, s in plain.items():
        n = float(nchars[d])
        exp = s * (n / (n + 500.0)) + math.log(1.0 + n)
        assert abs(got[d] - exp) < 1e-3, d


def test_script_score_min_score_and_errors(planner):
    from dp_search_data_importer_spark.plans.painless import PainlessError

    base = {"query": {"match": {"text": "hash join"}},
            "script": {"source": "_score"}}
    all_hits = planner.search(
        {"query": {"script_score": base}, "size": 10000}).hits
    scores = [r["score"] for r in all_hits.collect()]
    cut = sorted(scores)[len(scores) // 2]
    pruned = planner.search({"query": {"script_score": {
        **base, "min_score": cut}}, "size": 10000}).hits
    assert pruned.count() == sum(1 for s in scores if s >= cut)
    # text fields are not doc-values: rejected at compile time
    with pytest.raises(EsDslError):
        planner.search({"query": {"script_score": {
            "query": {"match_all": {}},
            "script": {"source": "doc['text'].value"}}}})
    # syntax outside the subset never reaches executors
    with pytest.raises(PainlessError):
        planner.search({"query": {"script_score": {
            "query": {"match_all": {}},
            "script": {"source": "for (x in y) { }"}}}})
    with pytest.raises(PainlessError):  # undefined param
        planner.search({"query": {"script_score": {
            "query": {"match_all": {}},
            "script": {"source": "params.nope"}}}})


def test_painless_precedence_and_functions(planner):
    """Compile-and-evaluate checks for the expression subset: operator
    precedence, unary minus, %, pow/max/min, sigmoid."""
    from dp_search_data_importer_spark.plans.painless import compile_script
    from dp_search_data_importer_spark.session import local_df

    df = local_df(planner.spark, [(7.0,)], "v double")
    cases = [
        ("1 + 2 * 3", 7.0),
        ("(1 + 2) * 3", 9.0),
        ("-2 * 3 + 10", 4.0),
        ("7 % 4", 3.0),
        ("Math.pow(2, 10)", 1024.0),
        ("Math.max(3, Math.min(9, 5))", 5.0),
        ("sigmoid(4, 2, 2)", 16.0 / (4.0 + 16.0)),
        ("saturation(1, 3)", 0.25),
    ]
    cols = []
    for i, (src, _) in enumerate(cases):
        col, used = compile_script(src, {}, F.lit(0.0), F.col)
        assert not used
        cols.append(col.alias(f"c{i}"))
    row = df.select(*cols).collect()[0]
    for i, (src, want) in enumerate(cases):
        assert abs(row[f"c{i}"] - want) < 1e-9, src


def test_pinned_query(planner):
    """pinned: listed ids first in list order, organic follows by score,
    no duplicates, ids absent from the corpus never surface."""
    organic = {"match": {"text": "hash join"}}
    top = [r["doc_id"] for r in planner.search(
        {"query": organic, "size": 3}).hits
        .orderBy(F.desc("score"), "doc_id").collect()]
    pins = [top[2], 1, 10 ** 12]  # one organic hit, one cold doc, one missing
    res = planner.search({"query": {"pinned": {
        "ids": pins, "organic": organic}}, "size": 10000}).hits
    rows = res.orderBy(F.desc("score"), "doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    assert ids[:2] == [top[2], 1]          # pinned order, missing id gone
    assert len(ids) == len(set(ids))       # organic duplicate dropped
    organic_ids = [r for r in ids[2:]]
    assert top[0] in organic_ids and top[2] not in organic_ids


def test_min_score_body_prunes_hits_and_aggs(planner):
    plain = planner.search(
        {"query": {"match": {"text": "hash join"}}, "size": 10000}).hits
    scores = sorted(r["score"] for r in plain.collect())
    cut = scores[len(scores) // 2]
    body = {"query": {"match": {"text": "hash join"}},
            "min_score": cut, "size": 10000,
            "aggs": {"langs": {"terms": {"field": "lang", "size": 100}}}}
    res = planner.search(body)
    kept = res.hits.count()
    assert kept == sum(1 for s in scores if s >= cut) < len(scores)
    agg_total = sum(r["doc_count"]
                    for r in res.aggregations["langs"].collect())
    assert agg_total == kept


def test_significant_terms_agg_matches_operator(planner):
    from dp_search_data_importer_spark.operators.bm25 import (
        significant_terms,
    )

    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"sig": {"significant_terms": {
                "field": "text", "size": 15, "min_doc_count": 3}}}}
    got = [tuple(r) for r in
           planner.search(body).aggregations["sig"].collect()]
    fg = planner.search({"query": {"match": {"text": "hash"}},
                         "size": 10000}).hits.select("doc_id")
    exp = [tuple(r) for r in significant_terms(
        planner.tf("text"), fg, planner.dfs("text"),
        planner.stats("text"), min_fg_df=3, top_n=15).collect()]
    assert got == exp and len(got) == 15
    with pytest.raises(EsDslError):
        planner.search({"size": 0, "aggs": {"sig": {
            "significant_terms": {"field": "n_chars"}}}})


# ------------------------------------------------------- pipeline aggs


@pytest.fixture(scope="module")
def dated_planner(spark, sf_dir):
    from dp_search_data_importer_spark.plans.driver_queries import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "release_date",
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("doc_id") % 365).cast("int"))).cache()
    docs.count()
    return EsSearchPlanner(spark, docs)


def _weekly(dated_planner, extra_sub):
    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"w": {
                "date_histogram": {"field": "release_date",
                                   "calendar_interval": "week"},
                "aggs": {"total": {"sum": {"field": "n_chars"}},
                         **extra_sub}}}}
    return dated_planner.search(body).aggregations["w"] \
        .orderBy("key").collect()


def test_pipeline_parent_aggs_match_manual(dated_planner):
    """derivative / serial_diff / cumulative_sum / moving_fn vs the same
    recurrences computed in Python over the plain bucket series."""
    rows = _weekly(dated_planner, {
        "d": {"derivative": {"buckets_path": "total"}},
        "sd": {"serial_diff": {"buckets_path": "total", "lag": 2}},
        "cum": {"cumulative_sum": {"buckets_path": "_count"}},
        "mavg": {"moving_fn": {"buckets_path": "total", "window": 3,
                 "script": "MovingFunctions.unweightedAvg(values)"}},
        "mmax": {"moving_fn": {"buckets_path": "total", "window": 2,
                 "shift": 1,
                 "script": "MovingFunctions.max(values)"}},
    })
    tot = [r["total"] for r in rows]
    cnt = [r["doc_count"] for r in rows]
    assert len(rows) > 5
    run = 0
    for i, r in enumerate(rows):
        run += cnt[i]
        assert r["cum"] == run
        if i == 0:
            assert r["d"] is None
        else:
            assert abs(r["d"] - (tot[i] - tot[i - 1])) < 1e-9
        if i < 2:
            assert r["sd"] is None
        else:
            assert abs(r["sd"] - (tot[i] - tot[i - 2])) < 1e-9
        wa = tot[max(0, i - 3):i]
        if not wa:
            assert r["mavg"] is None
        else:
            assert abs(r["mavg"] - sum(wa) / len(wa)) < 1e-9
        # shift=1: window [i-1, i] inclusive of current
        wm = tot[max(0, i - 1):i + 1]
        assert abs(r["mmax"] - max(wm)) < 1e-9


def test_bucket_selector_and_sort(dated_planner):
    rows = _weekly(dated_planner, {
        "sel": {"bucket_selector": {
            "buckets_path": {"t": "total", "n": "_count"},
            "script": "params.t > 3000 && !(params.n < 10)"}},
    })
    base = _weekly(dated_planner, {})
    keep = [r for r in base if r["total"] > 3000 and r["doc_count"] >= 10]
    assert [r["key"] for r in rows] == [r["key"] for r in keep] \
        and len(keep) < len(base)
    top = _weekly(dated_planner, {
        "srt": {"bucket_sort": {"sort": [{"total": "desc"}],
                                "from": 1, "size": 4}}})
    exp = sorted(base, key=lambda r: (-r["total"], r["key"]))[1:5]
    assert sorted((r["key"], r["total"]) for r in top) \
        == sorted((r["key"], r["total"]) for r in exp)


def test_sibling_pipeline_aggs(dated_planner):
    base = _weekly(dated_planner, {})
    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"w": {
                "date_histogram": {"field": "release_date",
                                   "calendar_interval": "week"},
                "aggs": {"total": {"sum": {"field": "n_chars"}}}},
                "a": {"avg_bucket": {"buckets_path": "w>total"}},
                "mx": {"max_bucket": {"buckets_path": "w>total"}},
                "s": {"sum_bucket": {"buckets_path": "w>_count"}},
                "st": {"stats_bucket": {"buckets_path": "w>total"}}}}
    res = dated_planner.search(body)
    tot = [r["total"] for r in base]
    assert abs(res.aggregations["a"].collect()[0]["value"]
               - sum(tot) / len(tot)) < 1e-6
    assert res.aggregations["mx"].collect()[0]["value"] == max(tot)
    assert res.aggregations["s"].collect()[0]["value"] \
        == sum(r["doc_count"] for r in base)
    st = res.aggregations["st"].collect()[0]
    assert (st["count"], st["min"], st["max"], st["sum"]) \
        == (len(tot), min(tot), max(tot), sum(tot))


def test_pipeline_agg_errors(dated_planner):
    with pytest.raises(EsDslError):  # unresolvable buckets_path
        _weekly(dated_planner, {
            "d": {"derivative": {"buckets_path": "nope"}}})
    with pytest.raises(EsDslError):  # sibling target missing
        dated_planner.search({"size": 0, "aggs": {
            "a": {"avg_bucket": {"buckets_path": "ghost>total"}}}})
    with pytest.raises(EsDslError):  # doc values in bucket_selector
        _weekly(dated_planner, {
            "sel": {"bucket_selector": {
                "buckets_path": {"t": "total"},
                "script": "doc['n_chars'].value > params.t"}}})
    with pytest.raises(EsDslError):  # derivative under unordered terms
        dated_planner.search({"size": 0, "aggs": {
            "l": {"terms": {"field": "lang"},
                  "aggs": {"d": {"derivative":
                                 {"buckets_path": "_count"}}}}}})
    with pytest.raises(EsDslError):  # unknown moving_fn script
        _weekly(dated_planner, {
            "m": {"moving_fn": {"buckets_path": "total", "window": 3,
                                "script": "MovingFunctions.stdDev(values)"
                                }}})


# --------------------------------------------------------- span family


def test_span_near_slop0_equals_phrase(planner):
    """span_near of single-term clauses at slop 0 IS the exact phrase:
    rank- and score-identical to match_phrase."""
    near = planner.search({"query": {"span_near": {
        "clauses": [{"span_term": {"text": "hash"}},
                    {"span_term": {"text": "join"}}],
        "slop": 0, "in_order": True}}, "size": 10000}).hits
    phrase = planner.search({"query": {"match_phrase": {
        "text": "hash join"}}, "size": 10000}).hits
    assert _ranked(near) == _ranked(phrase) and near.count() > 0


def test_span_or_equals_union_tf(planner):
    """span_or tf = total occurrences of either term — equals the
    brute-force token count per doc."""
    res = dict(_ranked(planner.search({"query": {"span_or": {
        "clauses": [{"span_term": {"text": "hash"}},
                    {"span_term": {"text": "join"}}]}},
        "size": 10000}).hits))
    import re

    rows = planner.docs.select("doc_id", "text").collect()
    expected_docs = {r["doc_id"] for r in rows
                     if any(t in ("hash", "join")
                            for t in re.split(r"[^a-z0-9]+",
                                              r["text"].lower()))}
    assert set(res) == expected_docs


def test_span_first_bounds_and_monotone(planner):
    """span_first keeps only docs whose earliest match ends within
    `end`; results grow monotonically with the bound and match a
    brute-force position check."""
    import re

    def hits(end):
        return set(dict(_ranked(planner.search(
            {"query": {"span_first": {
                "match": {"span_term": {"text": "hash"}},
                "end": end}}, "size": 10000}).hits)))

    h5, h50 = hits(5), hits(50)
    all_hash = set(dict(_ranked(planner.search(
        {"query": {"span_term": {"text": "hash"}},
         "size": 10000}).hits)))
    assert h5 <= h50 <= all_hash and len(h5) < len(h50) < len(all_hash)
    for r in planner.docs.select("doc_id", "text").collect():
        toks = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        want = "hash" in toks[:5]
        assert (r["doc_id"] in h5) == want, r["doc_id"]


def test_span_not_window(planner):
    """span_not drops occurrences with an excluded term inside the
    pre/post window — verified against a brute-force token scan."""
    import re

    got = set(dict(_ranked(planner.search({"query": {"span_not": {
        "include": {"span_term": {"text": "hash"}},
        "exclude": {"span_term": {"text": "join"}},
        "pre": 0, "post": 1}}, "size": 10000}).hits)))
    exp = set()
    for r in planner.docs.select("doc_id", "text").collect():
        toks = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        for i, t in enumerate(toks):
            if t == "hash" and not any(
                    0 <= j < len(toks) and toks[j] == "join"
                    for j in range(i, i + 2)):
                exp.add(r["doc_id"])
                break
    assert got == exp and got


def test_span_unordered_window_cover(planner):
    """in_order: false matches both orders; the matched doc set is the
    union of the two ordered directions at the same window budget, and
    a brute-force window scan reproduces the tf."""
    import re

    def ordered(a, b):
        return set(dict(_ranked(planner.search({"query": {"span_near": {
            "clauses": [{"span_term": {"text": a}},
                        {"span_term": {"text": b}}],
            "slop": 2, "in_order": True}}, "size": 10000}).hits)))

    un = planner.search({"query": {"span_near": {
        "clauses": [{"span_term": {"text": "hash"}},
                    {"span_term": {"text": "join"}}],
        "slop": 2, "in_order": False}}, "size": 10000}).hits
    got = set(dict(_ranked(un)))
    assert got == ordered("hash", "join") | ordered("join", "hash")
    # brute-force the window-cover tf definition on a sample
    texts = {r["doc_id"]: r["text"]
             for r in planner.docs.select("doc_id", "text").collect()}
    for d in sorted(got)[:10]:
        toks = [t for t in re.split(r"[^a-z0-9]+", texts[d].lower()) if t]
        ends = 0
        for e, t in enumerate(toks):
            if t not in ("hash", "join"):
                continue
            lo = max(0, e - 3)
            win = toks[lo:e + 1]
            if "hash" in win and "join" in win:
                ends += 1
        assert ends > 0, d


def test_span_errors(planner):
    with pytest.raises(EsDslError):  # multi-token span_term value
        planner.search({"query": {"span_term": {"text": "hash join"}}})
    with pytest.raises(EsDslError):  # non-span clause inside span_near
        planner.search({"query": {"span_near": {
            "clauses": [{"match": {"text": "hash"}}],
            "slop": 0}}})


# ----------------------------------- rank/distance feature + terms_set


def test_rank_feature_functions(planner):
    import math

    nchars = {r["doc_id"]: r["n_chars"]
              for r in planner.docs.select("doc_id", "n_chars").collect()}
    # saturation with default pivot = geometric mean of positives
    got = dict(_ranked(planner.search({"query": {"rank_feature": {
        "field": "n_chars", "saturation": {}}}, "size": 100000}).hits))
    pos = [v for v in nchars.values() if v and v > 0]
    pivot = math.exp(sum(math.log(v) for v in pos) / len(pos))
    for d, s in list(got.items())[:50]:
        assert abs(s - nchars[d] / (nchars[d] + pivot)) < 1e-3
    # sigmoid
    got = dict(_ranked(planner.search({"query": {"rank_feature": {
        "field": "n_chars",
        "sigmoid": {"pivot": 300, "exponent": 2}}},
        "size": 100000}).hits))
    for d, s in list(got.items())[:20]:
        v = float(nchars[d])
        assert abs(s - v ** 2 / (v ** 2 + 300.0 ** 2)) < 1e-3
    with pytest.raises(EsDslError):  # text fields are not features
        planner.search({"query": {"rank_feature": {"field": "text"}}})


def test_distance_feature_date(dated_planner):
    import datetime

    got = dict(_ranked(dated_planner.search(
        {"query": {"distance_feature": {
            "field": "release_date", "origin": "2024-06-01",
            "pivot": "7d"}}, "size": 100000}).hits))
    dates = {r["doc_id"]: r["release_date"] for r in
             dated_planner.docs.select("doc_id", "release_date").collect()}
    origin = datetime.date(2024, 6, 1)
    pv = 7 * 86400.0
    for d, s in list(got.items())[:50]:
        dist = abs((dates[d] - origin).total_seconds())
        assert abs(s - pv / (pv + dist)) < 1e-3
    # docs ON the origin date score exactly 1.0 and rank first
    top = max(got.values())
    assert any(dates[d] == origin for d in got) == (abs(top - 1.0) < 1e-9)


def test_terms_set_msm_semantics(planner):
    import re

    terms = ["hash", "join", "merge"]
    by_doc = {}
    for r in planner.docs.select("doc_id", "text").collect():
        toks = set(re.split(r"[^a-z0-9]+", r["text"].lower()))
        by_doc[r["doc_id"]] = sum(t in toks for t in terms)
    # script: constant 2 — docs matching >= 2 of the terms
    got = set(dict(_ranked(planner.search({"query": {"terms_set": {
        "text": {"terms": terms,
                 "minimum_should_match_script": {
                     "source": "params.num_terms - 1"}}}},
        "size": 100000}).hits)))
    exp = {d for d, n in by_doc.items() if n >= 2}
    assert got == exp and got
    with pytest.raises(EsDslError):  # msm spec required
        planner.search({"query": {"terms_set": {
            "text": {"terms": terms}}}})


def test_explain_sums_to_search_score(planner):
    """Σ per-term contribution == the match query's score, doc by doc
    (same formula, same inputs)."""
    body = {"query": {"match": {"text": "hash join"}}, "size": 10000}
    scores = dict(_ranked(planner.search(body).hits))
    ex = planner.explain({"match": {"text": "hash join"}})
    agg = {r["doc_id"]: r["s"] for r in
           ex.groupBy("doc_id").agg(
               F.sum("contribution").alias("s")).collect()}
    assert set(agg) == set(scores)
    for d, s in scores.items():
        assert abs(agg[d] - s) < 2e-3, d
    # doc_ids restriction
    some = sorted(scores)[:3]
    sub = planner.explain({"match": {"text": "hash join"}},
                          doc_ids=some)
    assert {r["doc_id"] for r in sub.collect()} == set(some)
    with pytest.raises(EsDslError):
        planner.explain({"match_phrase": {"text": "hash join"}})


# ------------------------------ matrix/date_range/auto/sampler aggs


def test_auto_date_histogram_ladder(dated_planner):
    """auto_date_histogram picks the smallest ladder interval with at
    most `buckets` buckets; the chosen label surfaces as a column."""
    res = dated_planner.search({"query": {"match_all": {}}, "size": 0,
        "aggs": {"a": {"auto_date_histogram": {
            "field": "release_date", "buckets": 12}}}})
    rows = res.aggregations["a"].orderBy("key").collect()
    assert 0 < len(rows) <= 12
    assert {r["interval"] for r in rows} == {"90d"}  # 365d span / 12
    wide = dated_planner.search({"query": {"match_all": {}}, "size": 0,
        "aggs": {"a": {"auto_date_histogram": {
            "field": "release_date", "buckets": 400}}}})
    rows = wide.aggregations["a"].collect()
    assert {r["interval"] for r in rows} == {"1d"} and len(rows) <= 400


def test_sampler_restricts_subagg(dated_planner):
    """sampler's sub-agg sees only the top shard_size hits by score;
    diversified_sampler additionally caps docs per field value."""
    body = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"s": {"sampler": {"shard_size": 10},
                           "aggs": {"l": {"terms": {
                               "field": "lang", "size": 100}}}}}}
    res = dated_planner.search(body)
    total = sum(r["doc_count"] for r in res.aggregations["s"].collect())
    assert total == 10
    top10 = dated_planner.search(
        {"query": {"match": {"text": "hash join"}},
         "size": 10}).hits.collect()
    langs = {}
    meta = {r["doc_id"]: r["lang"] for r in
            dated_planner.docs.select("doc_id", "lang").collect()}
    for r in top10:
        langs[meta[r["doc_id"]]] = langs.get(meta[r["doc_id"]], 0) + 1
    got = {r["key"]: r["doc_count"]
           for r in res.aggregations["s"].collect()}
    assert got == langs
    div = dated_planner.search(
        {"query": {"match": {"text": "hash join"}}, "size": 0,
         "aggs": {"d": {"diversified_sampler": {
             "shard_size": 10, "field": "lang",
             "max_docs_per_value": 1},
             "aggs": {"l": {"terms": {"field": "lang",
                                      "size": 100}}}}}})
    counts = [r["doc_count"] for r in div.aggregations["d"].collect()]
    assert counts and max(counts) == 1  # one doc per language survives
    with pytest.raises(EsDslError):  # sampler without scores
        dated_planner._agg({"sampler": {"shard_size": 5},
                            "aggs": {"l": {"terms": {"field": "lang"}}}},
                           dated_planner.docs.select(
                               F.col("doc_id")))


def test_intervals_equals_span_near(planner):
    """intervals match(ordered, max_gaps) == span_near of the analyzed
    tokens at the same slop; single-token rules ignore max_gaps."""
    iv = planner.search({"query": {"intervals": {"text": {
        "match": {"query": "hash join", "ordered": True,
                  "max_gaps": 1}}}}, "size": 10000}).hits
    sn = planner.search({"query": {"span_near": {
        "clauses": [{"span_term": {"text": "hash"}},
                    {"span_term": {"text": "join"}}],
        "slop": 1, "in_order": True}}, "size": 10000}).hits
    assert _ranked(iv) == _ranked(sn) and iv.count() > 0
    # unbounded max_gaps (the default) matches any ordered co-occurrence
    loose = planner.search({"query": {"intervals": {"text": {
        "match": {"query": "hash join", "ordered": True}}}},
        "size": 10000}).hits
    assert loose.count() >= iv.count()
    # unordered match (the ES default) == span_near in_order: false at
    # the same window budget
    iu = planner.search({"query": {"intervals": {"text": {
        "match": {"query": "hash join", "max_gaps": 2}}}},
        "size": 10000}).hits
    su = planner.search({"query": {"span_near": {
        "clauses": [{"span_term": {"text": "hash"}},
                    {"span_term": {"text": "join"}}],
        "slop": 2, "in_order": False}}, "size": 10000}).hits
    assert _ranked(iu) == _ranked(su) and iu.count() > 0
    with pytest.raises(EsDslError):  # any_of over multi-position child
        planner.search({"query": {"intervals": {"text": {
            "any_of": {"intervals": [{"match": {
                "query": "hash join", "ordered": True}}]}}}}})


# -------------------------- stored-index phrase/span/intervals routing


@pytest.fixture(scope="module")
def pos_index(spark, planner, tmp_path_factory):
    """POSITIONAL stored index over the same documents table — the
    substrate for phrase/span cross-planner identity."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans.build_index import build_index

    out = str(tmp_path_factory.mktemp("dsl_pos_idx"))
    build_index(spark, planner.docs, out,
                EngineConfig(n_shards=4),
                code_aware=False, text_col="text",
                already_normalized=True, waves=1, positions=True)
    return out


def test_indexed_phrase_and_spans_equal_dataflow(spark, planner,
                                                 pos_index):
    """match_phrase (+slop), span_near/span_first/span_not, and
    intervals against the stored positional index rank- and
    score-identical to the dataflow planner on the same corpus."""
    from dp_search_data_importer_spark.plans.es_dsl import search_indexed

    bodies = [
        {"query": {"match_phrase": {"text": "hash join"}}, "size": 15},
        {"query": {"match_phrase": {"text": {
            "query": "hash join", "slop": 2}}}, "size": 15},
        {"query": {"span_near": {"clauses": [
            {"span_term": {"text": "hash"}},
            {"span_or": {"clauses": [{"span_term": {"text": "join"}},
                                     {"span_term": {"text": "merge"}}]}}],
            "slop": 3, "in_order": True}}, "size": 15},
        {"query": {"span_first": {"match": {"span_term":
                                            {"text": "hash"}},
                                  "end": 30}}, "size": 15},
        {"query": {"span_not": {"include": {"span_term":
                                            {"text": "hash"}},
                                "exclude": {"span_term":
                                            {"text": "join"}},
                                "pre": 1, "post": 1}}, "size": 15},
        {"query": {"intervals": {"text": {"match": {
            "query": "hash join", "ordered": True, "max_gaps": 2}}}},
         "size": 15},
        {"query": {"span_near": {"clauses": [
            {"span_term": {"text": "hash"}},
            {"span_term": {"text": "join"}}], "slop": 2,
            "in_order": False}}, "size": 15},
    ]
    for body in bodies:
        got = search_indexed(spark, pos_index, body).hits
        exp = planner.search(body).hits
        assert _ranked(got) == _ranked(exp), body
        assert got.count() > 0, body


def test_indexed_span_aggs_equal_dataflow(spark, planner, pos_index):
    """aggs over a span query's hit set on the stored index ≡ the
    dataflow planner (the span branch's full match set feeds the shim)."""
    from dp_search_data_importer_spark.plans.es_dsl import search_indexed

    body = {"query": {"span_near": {"clauses": [
        {"span_term": {"text": "hash"}},
        {"span_term": {"text": "join"}}], "slop": 3,
        "in_order": True}}, "size": 5,
        "aggs": {"langs": {"terms": {"field": "lang", "size": 50}}}}
    got = search_indexed(spark, pos_index, body).aggregations["langs"]
    exp = planner.search(body).aggregations["langs"]
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in exp.collect()] and got.count() > 0


def test_terms_include_exclude(planner):
    base = {r["key"]: r["doc_count"] for r in planner.search(
        {"query": {"match": {"text": "hash"}}, "size": 0,
         "aggs": {"l": {"terms": {"field": "lang", "size": 100}}}}
    ).aggregations["l"].collect()}
    inc = {r["key"]: r["doc_count"] for r in planner.search(
        {"query": {"match": {"text": "hash"}}, "size": 0,
         "aggs": {"l": {"terms": {"field": "lang", "size": 100,
                                  "include": ["en", "fr"]}}}}
    ).aggregations["l"].collect()}
    assert inc == {k: v for k, v in base.items() if k in ("en", "fr")}
    rex = {r["key"] for r in planner.search(
        {"query": {"match": {"text": "hash"}}, "size": 0,
         "aggs": {"l": {"terms": {"field": "lang", "size": 100,
                                  "include": "e.*",
                                  "exclude": "es"}}}}
    ).aggregations["l"].collect()}
    assert rex == {k for k in base if k.startswith("e") and k != "es"}


def test_date_histogram_extended_bounds(dated_planner):
    body = {"query": {"match": {"text": "dup"}}, "size": 0,
            "aggs": {"d": {"date_histogram": {
                "field": "release_date", "calendar_interval": "day",
                "extended_bounds": {"min": "2023-12-25",
                                    "max": "2025-01-05"}}}}}
    rows = dated_planner.search(body).aggregations["d"] \
        .orderBy("key").collect()
    import datetime

    assert rows[0]["key"] == datetime.datetime(2023, 12, 25)
    assert rows[-1]["key"] == datetime.datetime(2025, 1, 5)
    assert rows[0]["doc_count"] == 0 and rows[-1]["doc_count"] == 0
    # contiguous daily keys
    assert len(rows) == (rows[-1]["key"] - rows[0]["key"]).days + 1


def test_knn_body(spark, sf_dir):
    """knn body: exact cosine top-k; filter pre-prunes; errors on
    malformed specs and hybrid knn+query."""
    from dp_search_data_importer_spark.operators.similarity import (
        cosine_topk,
    )
    from dp_search_data_importer_spark.plans.driver_queries import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0")
          .select("embedding").collect()[0][0]]
    p = EsSearchPlanner(spark, emb, text_fields=(), id_col="vec_id")
    got = [(r["doc_id"], r["score"]) for r in p.search(
        {"knn": {"field": "embedding", "query_vector": qv,
                 "k": 10}}).hits.collect()]
    exp = [(r["vec_id"], r["cosine"])
           for r in cosine_topk(emb, qv, k=10).collect()]
    assert got == exp
    filtered = p.search({"knn": {"field": "embedding",
                                 "query_vector": qv, "k": 10,
                                 "filter": {"term": {"label": 3}}}}).hits
    labels = {r["vec_id"]: r["label"]
              for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r["doc_id"]] == 3 for r in filtered.collect())
    with pytest.raises(EsDslError):
        p.search({"knn": {"field": "embedding"}})
    with pytest.raises(EsDslError):  # hybrid fusion not implemented
        p.search({"knn": {"field": "embedding", "query_vector": qv},
                  "query": {"match_all": {}}})


def test_bucket_script_and_normalize(dated_planner):
    rows = _weekly(dated_planner, {
        "ratio": {"bucket_script": {
            "buckets_path": {"t": "total", "n": "_count"},
            "script": "params.t / params.n"}},
        "r01": {"normalize": {"buckets_path": "total",
                              "method": "rescale_0_1"}},
        "share": {"normalize": {"buckets_path": "_count",
                                "method": "percent_of_sum"}},
    })
    tot = [r["total"] for r in rows]
    cnt = [r["doc_count"] for r in rows]
    lo, hi, s = min(tot), max(tot), sum(cnt)
    for i, r in enumerate(rows):
        assert abs(r["ratio"] - tot[i] / cnt[i]) < 1e-9
        assert abs(r["r01"] - (tot[i] - lo) / (hi - lo)) < 1e-9
        assert abs(r["share"] - cnt[i] / s) < 1e-9
    # bucket_script output feeds later pipelines (a selector over it)
    sel = _weekly(dated_planner, {
        "ratio": {"bucket_script": {
            "buckets_path": {"t": "total", "n": "_count"},
            "script": "params.t / params.n"}},
        "keep": {"bucket_selector": {
            "buckets_path": {"r": "ratio"},
            "script": "params.r > 300"}},
    })
    assert 0 < len(sel) < len(rows)
    assert all(r["ratio"] > 300 for r in sel)


def test_significant_text_alias_and_filter_agg(planner):
    a = planner.search({"query": {"match": {"text": "hash"}}, "size": 0,
        "aggs": {"s": {"significant_terms": {
            "field": "text", "size": 10, "min_doc_count": 3}}}}
    ).aggregations["s"].collect()
    b = planner.search({"query": {"match": {"text": "hash"}}, "size": 0,
        "aggs": {"s": {"significant_text": {
            "field": "text", "size": 10, "min_doc_count": 3}}}}
    ).aggregations["s"].collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] and a
    # filter agg without sub-agg = plain narrowed count
    c = planner.search({"query": {"match": {"text": "hash"}}, "size": 0,
        "aggs": {"en": {"filter": {"term": {"lang": "en"}}}}}
    ).aggregations["en"].collect()[0]["doc_count"]
    d = planner.search({"query": {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"term": {"lang": "en"}}]}},
        "size": 100000}).hits.count()
    assert c == d > 0


def test_runtime_mappings(planner):
    """Runtime fields compute at query time and behave like mapped
    fields in filters, sort, and aggs; error paths reject _score and
    text-field references."""
    body = {"runtime_mappings": {"neg": {
                "script": "0 - doc['n_chars'].value"}},
            "query": {"match": {"text": "hash"}},
            "sort": [{"neg": {"order": "asc"}}], "size": 5}
    rows = planner.search(body).hits.collect()
    nchars = {r["doc_id"]: r["n_chars"]
              for r in planner.docs.select("doc_id", "n_chars").collect()}
    # asc on the negation == n_chars desc
    vals = [nchars[r["doc_id"]] for r in rows]
    assert vals == sorted(vals, reverse=True) and len(rows) == 5
    with pytest.raises(EsDslError):
        planner.search({"runtime_mappings": {"x": {
            "script": "_score * 2"}}, "query": {"match_all": {}}})
    with pytest.raises(EsDslError):
        planner.search({"runtime_mappings": {"x": {
            "script": "doc['text'].value"}},
            "query": {"match_all": {}}})


def test_script_filter_query(planner):
    """``script`` query in filter context: predicate-gated hit set with
    UNCHANGED scores (filter context never scores); in scoring context
    the ES constant-score contract (1.0 · boost) applies; _score and
    text-field references are rejected."""
    plain = dict(_ranked(planner.search(
        {"query": {"match": {"text": "hash"}}, "size": 100000}).hits))
    body = {"query": {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"script": {"script": {
            "source": "doc['n_chars'].value % params.m == 0",
            "params": {"m": 3}}}}]}}, "size": 100000}
    got = _ranked(planner.search(body).hits)
    allowed = {r["doc_id"] for r in planner.docs.filter(
        "n_chars % 3 = 0").select("doc_id").collect()}
    assert got and all(d in allowed for d, _ in got)
    assert all(plain[d] == s for d, s in got)
    assert {d for d, _ in got} == set(plain) & allowed

    # scoring context: constant 1.0 for every doc passing the predicate
    sc = planner.search({"query": {"script": {"script":
        "doc['n_chars'].value % 3 == 0"}}, "size": 100000}).hits
    rows = sc.collect()
    assert {r["doc_id"] for r in rows} == allowed
    assert all(r["score"] == 1.0 for r in rows)

    with pytest.raises(EsDslError):
        planner.search({"query": {"bool": {"filter": [{"script": {
            "script": "_score > 1"}}]}}, "size": 1})
    with pytest.raises(EsDslError):
        planner.search({"query": {"bool": {"filter": [{"script": {
            "script": "doc['text'].value"}}]}}, "size": 1})


def test_match_operator_and_msm(spark, planner):
    """``match`` operator=and ≡ OR hits ∩ docs containing every term
    (scores unchanged — same OR-sum); minimum_should_match int /
    negative / percentage forms gate on distinct matched terms; an
    unseen term under operator=and matches nothing."""
    q = "hash join merge"
    or_hits = dict(_ranked(planner.search(
        {"query": {"match": {"text": q}}, "size": 100000}).hits))

    # brute-force matched-term counts per doc
    toks = set(q.split())
    tf = planner.tf("text")
    nm = {r["doc_id"]: r["nm"] for r in
          tf.filter(F.col("term").isin(list(toks)))
          .groupBy("doc_id").agg(F.countDistinct("term").alias("nm"))
          .collect()}

    for body_extra, need in [({"operator": "and"}, 3),
                             ({"minimum_should_match": 2}, 2),
                             ({"minimum_should_match": -1}, 2),
                             ({"minimum_should_match": "70%"}, 2),
                             ({"minimum_should_match": "34%"}, 1)]:
        got = _ranked(planner.search(
            {"query": {"match": {"text": {"query": q, **body_extra}}},
             "size": 100000}).hits)
        exp = sorted(((d, s) for d, s in or_hits.items()
                      if nm.get(d, 0) >= need),
                     key=lambda t: (-t[1], t[0]))
        assert got == exp, (body_extra, need)
    assert any(nm.get(d, 0) < 3 for d in or_hits)  # AND actually gates

    # a term absent from the corpus + operator=and → empty
    empty = planner.search({"query": {"match": {"text": {
        "query": "hash zzznope", "operator": "and"}}},
        "size": 10}).hits
    assert empty.count() == 0

    with pytest.raises(EsDslError):
        planner.search({"query": {"match": {"text": {
            "query": q, "operator": "xor"}}}, "size": 1})


def _levenshtein(a: str, b: str) -> int:
    row = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, row[0] = row[0], i
        for j, cb in enumerate(b, 1):
            prev, row[j] = row[j], min(row[j] + 1, row[j - 1] + 1,
                                       prev + (ca != cb))
    return row[-1]


def test_match_scores_equal_bruteforce_bm25(spark):
    """The scan-class term scorer against a brute-force Python BM25 over
    a small table in which one term is appended to every doc (df =
    n_docs): plain OR, boost, operator=and (with an unseen term: no
    hits), minimum_should_match and fuzziness each score every hit, and
    only the hits, as the formula says."""
    import math
    import random

    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.functions.tokenize import (
        _simple_tokens_py,
    )

    rng = random.Random(13)
    words = ["hash", "join", "merge", "sort", "scan", "window", "shard",
             "token", "stream", "block", "hashes", "jion", "merges"]
    rows = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(
        3, 30))) + " everydoc", "py") for i in range(1, 61)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    cfg = EngineConfig()
    planner = EsSearchPlanner(spark, docs, cfg)
    toks = {d: _simple_tokens_py(t) for d, t, _ in rows}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    assert df["everydoc"] == n

    def bm25(terms, need=1, boost=1.0):
        out = []
        for d, ts in toks.items():
            hit = [t for t in set(terms) if t in ts]
            if hit and len(hit) >= need:
                s = sum(math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                        * ts.count(t) * (cfg.k1 + 1)
                        / (ts.count(t) + cfg.k1 * (1 - cfg.b + cfg.b
                                                   * len(ts) / avgdl))
                        for t in hit)
                out.append((d, round(s * boost, 4)))
        return sorted(out, key=lambda t: (-t[1], t[0]))

    def fuzzy(tok, edits):
        near = sorted((-c, t) for t, c in df.items()
                      if _levenshtein(t, tok) <= edits)
        return [t for _, t in near[:planner.max_expansions]]

    def search(spec):
        return _ranked(planner.search({"query": {"match": {"text": spec}},
                                       "size": 1000}).hits)

    assert search("everydoc") == bm25(["everydoc"])
    assert len(search("everydoc")) == n
    assert search("hash everydoc zzznope") == bm25(
        ["hash", "everydoc", "zzznope"])
    assert search({"query": "join everydoc", "boost": 2.5}) == bm25(
        ["join", "everydoc"], boost=2.5)
    assert search({"query": "hash join everydoc",
                   "operator": "and"}) == bm25(
        ["hash", "join", "everydoc"], need=3)
    assert search({"query": "hash everydoc zzznope",
                   "operator": "and"}) == []
    got = search({"query": "hash join merge everydoc",
                  "minimum_should_match": 3})
    assert got == bm25(["hash", "join", "merge", "everydoc"], need=3)
    assert 0 < len(got) < n
    assert search({"query": "hash joim", "fuzziness": 1}) == bm25(
        fuzzy("hash", 1) + fuzzy("joim", 1))
    assert set(fuzzy("hash", 1)) == {"hash"} and \
        set(fuzzy("joim", 1)) == {"join"}
    assert search({"query": "merge", "fuzziness": 1}) == bm25(
        fuzzy("merge", 1))
    assert fuzzy("merge", 1) == ["merge", "merges"]


def test_match_bool_prefix(spark, planner):
    """match_bool_prefix ≡ OR-match over (leading tokens ∪ prefix
    expansion of the last token) — the search-as-you-type shape."""
    got = _ranked(planner.search(
        {"query": {"match_bool_prefix": {"text": "hash jo"}},
         "size": 100000}).hits)
    expand = [r["term"] for r in planner.dfs("text")
              .filter(F.col("term").startswith("jo"))
              .orderBy(F.col("df").desc(), F.col("term").asc())
              .limit(planner.max_expansions).collect()]
    exp = _ranked(planner._score_terms("text", ["hash"] + expand))
    assert got and got == exp
    with pytest.raises(EsDslError):
        planner.search({"query": {"match_bool_prefix": {"text": "  "}},
                        "size": 1})


def test_source_fields_projection(planner):
    """``_source``/``fields``/``docvalue_fields`` response shaping:
    requested doc columns join onto hits; wildcards expand; excludes
    drop; text fields allowed in _source and fields but rejected in
    docvalue_fields; unknown exact names raise; default stays
    (doc_id, score)."""
    base = {"query": {"match": {"text": "hash"}}, "size": 5}
    plain = planner.search(base).hits
    assert set(plain.columns) == {"doc_id", "score"}

    got = planner.search({**base, "_source": ["lang", "n_chars"]}).hits
    assert set(got.columns) == {"doc_id", "score", "lang", "n_chars"}
    rows = got.collect()
    meta = {r["doc_id"]: (r["lang"], r["n_chars"]) for r in
            planner.docs.select("doc_id", "lang", "n_chars").collect()}
    assert rows and all(
        (r["lang"], r["n_chars"]) == meta[r["doc_id"]] for r in rows)

    # wildcard + excludes; fields dict form; text in fields OK
    got2 = planner.search({**base, "_source": {
        "includes": ["*"], "excludes": ["n_chars", "text"]},
        "fields": [{"field": "text"}]}).hits
    assert "n_chars" not in got2.columns
    assert {"lang", "source", "text"} <= set(got2.columns)

    with pytest.raises(EsDslError):
        planner.search({**base, "docvalue_fields": ["text"]})
    with pytest.raises(EsDslError):
        planner.search({**base, "_source": ["nope_field"]})


def test_match_fuzziness(spark, planner):
    """match fuzziness: each token rewrites to its fuzzy expansion
    (AUTO breakpoints at 3/6 chars), scored ≡ the equivalent fuzzy-leaf
    OR union; composing with operator=and / msm raises."""
    got = _ranked(planner.search(
        {"query": {"match": {"text": {"query": "hashh",
                                      "fuzziness": 1}}},
         "size": 100000}).hits)
    exp = _ranked(planner.search(
        {"query": {"fuzzy": {"text": {"value": "hashh",
                                      "fuzziness": 1}}},
         "size": 100000}).hits)
    assert got and got == exp

    # AUTO: 2-char token stays exact (0 edits)
    short = _ranked(planner.search(
        {"query": {"match": {"text": {"query": "if",
                                      "fuzziness": "AUTO"}}},
         "size": 100000}).hits)
    exact = _ranked(planner.search(
        {"query": {"match": {"text": "if"}}, "size": 100000}).hits)
    assert short == exact

    with pytest.raises(EsDslError):
        planner.search({"query": {"match": {"text": {
            "query": "hash join", "operator": "and",
            "fuzziness": 1}}}, "size": 1})


def test_terms_histogram_min_doc_count(planner):
    """terms/histogram min_doc_count prunes buckets below the threshold
    before ordering/size-truncation (ES default 1 = no prune)."""
    base = {"query": {"match": {"text": "hash"}}, "size": 0}
    full = {r["key"]: r["doc_count"] for r in planner.search(
        {**base, "aggs": {"s": {"terms": {"field": "source",
                                          "size": 10000}}}}
    ).aggregations["s"].collect()}
    assert any(c < 3 for c in full.values()) or len(full) > 0
    thresh = sorted(full.values())[len(full) // 2]  # a real cutoff
    pruned = {r["key"]: r["doc_count"] for r in planner.search(
        {**base, "aggs": {"s": {"terms": {"field": "source",
                                          "size": 10000,
                                          "min_doc_count": thresh}}}}
    ).aggregations["s"].collect()}
    assert pruned == {k: c for k, c in full.items() if c >= thresh}

    hfull = {r["key"]: r["doc_count"] for r in planner.search(
        {**base, "aggs": {"h": {"histogram": {"field": "n_chars",
                                              "interval": 100}}}}
    ).aggregations["h"].collect()}
    ht = sorted(hfull.values())[len(hfull) // 2]
    hpruned = {r["key"]: r["doc_count"] for r in planner.search(
        {**base, "aggs": {"h": {"histogram": {"field": "n_chars",
                                              "interval": 100,
                                              "min_doc_count": ht}}}}
    ).aggregations["h"].collect()}
    assert hpruned == {k: c for k, c in hfull.items() if c >= ht}


def test_indexed_match_operator_msm_equals_dataflow(spark, planner,
                                                    doc_index):
    """Stored-path match operator=and / minimum_should_match (the
    per-token bool rewrite onto bool_topk_indexed) ranks identically to
    the dataflow planner's matched-term gate."""
    for extra in ({"operator": "and"}, {"minimum_should_match": 2}):
        body = {"query": {"match": {"text": {
            "query": "hash join merge", **extra}}}, "size": 10}
        got = _ranked(_indexed(spark, doc_index, body).hits)
        exp = _ranked(planner.search(body).hits)
        assert got and got == exp, extra
    from dp_search_data_importer_spark.plans.es_dsl import EsDslError
    with pytest.raises(EsDslError):
        _indexed(spark, doc_index, {"query": {"match": {"text": {
            "query": "hash join", "operator": "and"}}},
            "search_after": [1.0, 5], "size": 5})


def test_phrase_suggester(spark, planner):
    """phrase suggester: whole-phrase corrections ranked by the
    documented Σ(log10(df+1) − dist) score; the true phrase wins for a
    one-edit-per-token typo; unknown tokens survive unchanged."""
    import math

    res = planner.search({"suggest": {"fix": {
        "text": "hashh joinn",
        "phrase": {"field": "text", "size": 3}}},
        "query": {"match_all": {}}, "size": 0})
    rows = res.suggestions["fix"].collect()
    assert rows and rows[0]["phrase"] == "hash join"
    # replay the documented score for the winner
    dfs = {r["term"]: r["df"] for r in planner.dfs("text")
           .filter(F.col("term").isin(["hash", "join"])).collect()}
    want = round(math.log10(dfs["hash"] + 1) - 1
                 + math.log10(dfs["join"] + 1) - 1, 6)
    assert abs(rows[0]["score"] - want) < 1e-9
    # scores strictly ordered
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)

    res2 = planner.search({"suggest": {"fix": {
        "text": "zzzzzzzzqqq hashh",
        "phrase": {"field": "text", "size": 2}}},
        "query": {"match_all": {}}, "size": 0})
    top = res2.suggestions["fix"].collect()[0]["phrase"]
    assert top == "zzzzzzzzqqq hash"


def test_keyword_array_fields(spark, planner):
    """ES keyword-array semantics (the reference model's keywords/
    topics): term matches any element, terms filter = overlap, exists
    treats [] as missing, terms agg buckets per distinct element
    without double-counting duplicate elements."""
    from dp_search_data_importer_spark.plans.es_dsl import (
        EsSearchPlanner,
    )

    docs = planner.docs.withColumn(
        "topics",
        F.when(F.col("doc_id") % 10 == 0, F.array().cast("array<string>"))
        .otherwise(F.array_compact(F.array(
            F.concat(F.lit("t"), (F.col("doc_id") % 3).cast("string")),
            F.when(F.col("doc_id") % 2 == 0, F.lit("even")),
            F.when(F.col("doc_id") % 2 == 0, F.lit("even"))))))
    p = EsSearchPlanner(spark, docs)

    hits = p.search({"query": {"bool": {
        "must": [{"match_all": {}}],
        "filter": [{"term": {"topics": "even"}}]}},
        "size": 100000}).hits
    got = {r["doc_id"] for r in hits.collect()}
    exp = {r["doc_id"] for r in docs.filter(
        "doc_id % 2 = 0 and doc_id % 10 != 0").collect()}
    assert got == exp

    ex = p.search({"query": {"bool": {
        "must": [{"match_all": {}}],
        "filter": [{"exists": {"field": "topics"}}]}},
        "size": 100000}).hits.count()
    assert ex == docs.filter("doc_id % 10 != 0").count()

    buckets = {r["key"]: r["doc_count"] for r in p.search(
        {"query": {"match_all": {}}, "size": 0,
         "aggs": {"t": {"terms": {"field": "topics",
                                  "size": 100}}}}).aggregations["t"]
        .collect()}
    n = docs.count()
    # 'even' counts each matching doc ONCE despite the duplicate element
    assert buckets["even"] == docs.filter(
        "doc_id % 2 = 0 and doc_id % 10 != 0").count()
    for k in ("t0", "t1", "t2"):
        assert buckets[k] == docs.filter(
            f"doc_id % 3 = {k[1]} and doc_id % 10 != 0").count()

    ov = p.search({"query": {"bool": {
        "must": [{"match_all": {}}],
        "filter": [{"terms": {"topics": ["t1", "t2"]}}]}},
        "size": 100000}).hits.count()
    assert ov == docs.filter(
        "doc_id % 3 in (1, 2) and doc_id % 10 != 0").count()


def test_rank_eval_metrics(spark, planner):
    """_rank_eval twin: precision@k / recall / MRR / DCG / NDCG against
    a brute-force replay of the same ranked lists and ratings."""
    import math

    hits = planner.search({"query": {"match": {"text": "hash"}},
                           "size": 10}).hits
    ranked = [r["doc_id"] for r in hits.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()).collect()]
    rated = {d: (1 if d % 7 == 0 else 0) for d in ranked}
    extra_rel = [d for d in range(0, 5000, 7)][:40]  # rated, not all hit
    ratings = [{"_id": d, "rating": 1} for d in set(
        [d for d in rated if rated[d]] + extra_rel)]
    reqs = [{"id": "q1", "request": {"query": {"match": {"text":
            "hash"}}}, "ratings": ratings}]

    def run(metric):
        rows = planner.rank_eval(
            {"requests": reqs, "metric": metric}).collect()
        return {r["id"]: r["metric_score"] for r in rows}

    rel_ids = {r["_id"] for r in ratings}
    rel_flags = [1 if d in rel_ids else 0 for d in ranked]

    p = run({"precision": {"k": 10}})
    assert abs(p["q1"] - sum(rel_flags) / len(ranked)) < 1e-9
    assert p["_overall"] == p["q1"]

    rec = run({"recall": {"k": 10}})
    assert abs(rec["q1"] - sum(rel_flags) / len(rel_ids)) < 1e-9

    mrr = run({"mean_reciprocal_rank": {}})
    first = next((i + 1 for i, f in enumerate(rel_flags) if f), None)
    assert abs(mrr["q1"] - (1.0 / first if first else 0.0)) < 1e-9

    dcg = run({"dcg": {"k": 10}})
    want = sum((2 ** f - 1) / math.log2(i + 2)
               for i, f in enumerate(rel_flags))
    assert abs(dcg["q1"] - round(want, 6)) < 1e-9

    ndcg = run({"dcg": {"k": 10, "normalize": True}})
    ideal = sum((2 ** 1 - 1) / math.log2(i + 2)
                for i in range(min(10, len(rel_ids))))
    assert abs(ndcg["q1"] - round(round(want, 6) / ideal, 6)) < 2e-6

    with pytest.raises(EsDslError):
        run({"expected_reciprocal_rank": {}})


def test_nested_query_compiles(spark, planner):
    """nested query in the planner ≡ the higher-order operator form:
    SOME element satisfies the compound predicate (never cross-element
    AND); bool composition and must_not work at element level."""
    from dp_search_data_importer_spark.plans.es_dsl import (
        EsSearchPlanner,
    )

    mk = lambda noff, loff: F.struct(
        F.concat(F.lit("dim"), F.pmod(F.col("doc_id") + noff, F.lit(5))
                 .cast("string")).alias("name"),
        F.concat(F.lit("l"), F.pmod(F.col("doc_id") + loff, F.lit(7))
                 .cast("string")).alias("label"))
    docs = planner.docs.withColumn("dimensions",
                                   F.array(mk(0, 0), mk(1, 3)))
    p = EsSearchPlanner(spark, docs)
    body = {"query": {"bool": {
        "must": [{"match_all": {}}],
        "filter": [{"nested": {"path": "dimensions", "query": {"bool": {
            "must": [{"term": {"dimensions.name": "dim2"}},
                     {"term": {"dimensions.label": "l4"}}]}}}}]}},
        "size": 100000}
    got = {r["doc_id"] for r in p.search(body).hits.collect()}
    exp = {r["doc_id"] for r in docs.filter(F.exists(
        "dimensions", lambda x: (x["name"] == F.lit("dim2"))
        & (x["label"] == F.lit("l4")))).collect()}
    assert got == exp and got
    # cross-element AND must NOT match: no single element has both
    # name=dim2 and name=dim3
    none = p.search({"query": {"bool": {"filter": [{"nested": {
        "path": "dimensions", "query": {"bool": {
            "must": [{"term": {"dimensions.name": "dim2"}},
                     {"term": {"dimensions.name": "dim3"}}]}}}}],
        "must": [{"match_all": {}}]}}, "size": 10}).hits.count()
    assert none == 0
    # must_not at element level
    mn = {r["doc_id"] for r in p.search({"query": {"bool": {"filter": [
        {"nested": {"path": "dimensions", "query": {"bool": {
            "must": [{"term": {"dimensions.name": "dim2"}}],
            "must_not": [{"term": {"dimensions.label": "l4"}}]}}}}],
        "must": [{"match_all": {}}]}}, "size": 100000}).hits.collect()}
    exp_mn = {r["doc_id"] for r in docs.filter(F.exists(
        "dimensions", lambda x: (x["name"] == F.lit("dim2"))
        & (x["label"] != F.lit("l4")))).collect()}
    assert mn == exp_mn
    with pytest.raises(EsDslError):
        p.search({"query": {"bool": {"filter": [{"nested": {
            "path": "lang", "query": {"match_all": {}}}}],
            "must": [{"match_all": {}}]}}, "size": 1})


def test_search_template_renders_and_matches_direct_search(planner):
    """The rendered template must compile to the identical body: var
    substitution, toJson object injection, and the inverted-section
    default idiom all at once."""
    src = ('{"query": {"bool": {'
           '"must": [{"match": {"text": "{{qtext}}"}}],'
           '"filter": [{"range": {"n_chars": {{#toJson}}rng{{/toJson}}}}]'
           '}}, "size": {{size}}{{^size}}10{{/size}}}')
    got = _ranked(planner.search_template(
        src, {"qtext": "hash join", "rng": {"gte": 300, "lte": 1500}}
    ).hits)
    want = _ranked(planner.search(
        {"query": {"bool": {
            "must": [{"match": {"text": "hash join"}}],
            "filter": [{"range": {"n_chars": {"gte": 300, "lte": 1500}}}],
        }}, "size": 10}).hits)
    assert got == want and len(got) == 10


def test_search_template_sections_and_size_param(planner):
    # positive section kept when param truthy; size param wins over the
    # inverted default
    src = ('{"query": {"match": {"text": "{{qtext}}"}}'
           '{{#want_size}}, "size": {{size}}{{/want_size}}'
           '{{^want_size}}, "size": 3{{/want_size}}}')
    a = planner.search_template(
        src, {"qtext": "hash", "want_size": True, "size": 5})
    assert a.hits.count() == 5
    b = planner.search_template(src, {"qtext": "hash"})
    assert b.hits.count() == 3


def test_search_template_string_params_json_escape(planner):
    # a param containing a quote must escape INTO the template's quotes
    src = '{"query": {"match": {"text": "{{qtext}}"}}, "size": 2}'
    res = planner.search_template(src, {"qtext": 'hash "join'})
    assert res.hits.count() == 2  # renders to valid JSON, quote escaped


def test_search_template_errors(planner):
    with pytest.raises(EsDslError, match="toJson"):
        planner.search_template(
            '{"query": {{#toJson}}q{{/toJson}}}', {})
    with pytest.raises(EsDslError, match="render"):
        # missing {{var}} renders empty -> invalid JSON here
        planner.search_template('{"size": {{n}}}', {})


def test_matrix_stats_matches_numpy(planner):
    """The one-pass power-sum matrix must equal numpy's two-pass
    moments (sample var/cov, population g1 skewness, non-excess
    kurtosis) on the same hit set."""
    import numpy as np

    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"m": {"matrix_stats":
                           {"fields": ["n_chars", "doc_id"]}}}}
    out = {(r["field"], r["other_field"]): r
           for r in planner.search(body).aggregations["m"].collect()}
    assert len(out) == 4

    hit_ids = [r["doc_id"] for r in
               planner.score({"match": {"text": "hash"}})
               .select("doc_id").collect()]
    meta = {r["doc_id"]: r["n_chars"] for r in
            planner.docs.select("doc_id", "n_chars").collect()}
    x = np.array([float(meta[d]) for d in hit_ids])
    y = np.array([float(d) for d in hit_ids])
    n = len(x)

    def mom(v):
        m = v.mean()
        m2 = ((v - m) ** 2).mean()
        m3 = ((v - m) ** 3).mean()
        m4 = ((v - m) ** 4).mean()
        return (m, ((v - m) ** 2).sum() / (n - 1),
                m3 / m2 ** 1.5, m4 / m2 ** 2)

    for fld, v in (("n_chars", x), ("doc_id", y)):
        r = out[(fld, fld)]
        m, var, skw, kur = mom(v)
        assert r["count"] == n
        assert r["mean"] == pytest.approx(m, abs=2e-4)
        assert r["variance"] == pytest.approx(var, rel=1e-6)
        assert r["skewness"] == pytest.approx(skw, abs=2e-4)
        assert r["kurtosis"] == pytest.approx(kur, abs=2e-4)
        # diagonal: covariance == variance, correlation == 1
        assert r["covariance"] == pytest.approx(var, rel=1e-6)
        assert r["correlation"] == pytest.approx(1.0, abs=1e-4)

    cov = ((x - x.mean()) * (y - y.mean())).sum() / (n - 1)
    corr = cov / np.sqrt((((x - x.mean()) ** 2).sum() / (n - 1))
                         * (((y - y.mean()) ** 2).sum() / (n - 1)))
    for a, b in (("n_chars", "doc_id"), ("doc_id", "n_chars")):
        r = out[(a, b)]
        assert r["covariance"] == pytest.approx(cov, abs=2e-4)
        assert r["correlation"] == pytest.approx(corr, abs=2e-4)


def test_matrix_stats_errors(planner):
    with pytest.raises(EsDslError, match="distinct"):
        planner.search({"size": 0, "aggs": {"m": {"matrix_stats":
                       {"fields": ["n_chars", "n_chars"]}}}})
    with pytest.raises(EsDslError, match="doc-value"):
        planner.search({"size": 0, "aggs": {"m": {"matrix_stats":
                       {"fields": ["n_chars", "nope"]}}}})


def test_t_test_welch_and_pooled_match_numpy(planner):
    import numpy as np

    hit_ids = [r["doc_id"] for r in
               planner.score({"match": {"text": "hash"}})
               .select("doc_id").collect()]
    meta = {r["doc_id"]: (r["n_chars"], r["lang"]) for r in
            planner.docs.select("doc_id", "n_chars", "lang").collect()}
    a = np.array([float(meta[d][0]) for d in hit_ids
                  if meta[d][1] == "en"])
    b = np.array([float(meta[d][0]) for d in hit_ids
                  if meta[d][1] != "en"])
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    n1, n2 = len(a), len(b)
    se1, se2 = v1 / n1, v2 / n2
    t_welch = (a.mean() - b.mean()) / np.sqrt(se1 + se2)
    df_welch = (se1 + se2) ** 2 / (se1 ** 2 / (n1 - 1)
                                   + se2 ** 2 / (n2 - 1))
    sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
    t_pool = (a.mean() - b.mean()) / np.sqrt(sp2 * (1 / n1 + 1 / n2))

    spec = {"a": {"field": "n_chars", "filter": {"term": {"lang": "en"}}},
            "b": {"field": "n_chars",
                  "filter": {"__not__": {"term": {"lang": "en"}}}}}
    for ttype, t_want, df_want in (
            ("heteroscedastic", t_welch, df_welch),
            ("homoscedastic", t_pool, float(n1 + n2 - 2))):
        body = {"query": {"match": {"text": "hash"}}, "size": 0,
                "aggs": {"t": {"t_test": {**spec, "type": ttype}}}}
        r, = planner.search(body).aggregations["t"].collect()
        assert r["type"] == ttype and r["n_a"] == n1 and r["n_b"] == n2
        assert r["t_stat"] == pytest.approx(t_want, abs=2e-4)
        assert r["df"] == pytest.approx(df_want, abs=2e-4)


def test_t_test_paired_and_errors(planner):
    import numpy as np

    # paired: n_chars vs doc_id per doc over the hit set
    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"t": {"t_test": {"a": {"field": "n_chars"},
                                      "b": {"field": "doc_id"},
                                      "type": "paired"}}}}
    r, = planner.search(body).aggregations["t"].collect()
    hit_ids = [x["doc_id"] for x in
               planner.score({"match": {"text": "hash"}})
               .select("doc_id").collect()]
    meta = {x["doc_id"]: x["n_chars"] for x in
            planner.docs.select("doc_id", "n_chars").collect()}
    d = np.array([float(meta[i]) - float(i) for i in hit_ids])
    t_want = d.mean() / np.sqrt(d.var(ddof=1) / len(d))
    assert r["t_stat"] == pytest.approx(t_want, abs=2e-4)
    assert r["df"] == len(d) - 1 and r["n_a"] == len(d)

    with pytest.raises(EsDslError, match="no filters"):
        planner.search({"size": 0, "aggs": {"t": {"t_test": {
            "a": {"field": "n_chars", "filter": {"term": {"lang": "en"}}},
            "b": {"field": "doc_id"}, "type": "paired"}}}})
    with pytest.raises(EsDslError, match="t_test type"):
        planner.search({"size": 0, "aggs": {"t": {"t_test": {
            "a": {"field": "n_chars"}, "b": {"field": "doc_id"},
            "type": "zscore"}}}})


def test_scripted_metric_semantics(planner):
    import numpy as np

    hit_ids = [r["doc_id"] for r in
               planner.score({"match": {"text": "hash"}})
               .select("doc_id").collect()]
    meta = {r["doc_id"]: r["n_chars"] for r in
            planner.docs.select("doc_id", "n_chars").collect()}
    vals = np.array([float(meta[d]) for d in hit_ids])

    def run(sm):
        body = {"query": {"match": {"text": "hash"}}, "size": 0,
                "aggs": {"m": {"scripted_metric": sm}}}
        r, = planner.search(body).aggregations["m"].collect()
        return r["value"]

    assert run({
        "init_script": "state.s = 0",
        "map_script": "state.s += doc['n_chars'].value * 2 + params.k",
        "params": {"k": 3},
        "combine_script": "return state.s",
        "reduce_script": "double acc = 0; for (t in states) "
                         "{ acc += t } return acc",
    }) == pytest.approx((vals * 2 + 3).sum())

    assert run({
        "init_script": "state.m = -1",
        "map_script": "state.m = Math.max(state.m, doc['n_chars'].value)",
        "reduce_script": "double m = -1; for (t in states) "
                         "{ m = Math.max(m, t.m) } return m",
    }) == pytest.approx(vals.max())

    assert run({
        "map_script": "state.lo = Math.min(state.lo, "
                      "doc['n_chars'].value)",
        "reduce_script": "double lo = Double.MAX_VALUE; for (t in states) "
                         "{ lo = Math.min(lo, t.lo) } return lo",
    }) == pytest.approx(vals.min())


def test_scripted_metric_refusals(planner):
    def body(sm):
        return {"size": 0, "aggs": {"m": {"scripted_metric": sm}}}

    # order-dependent state (list append) — the published ES example
    with pytest.raises(EsDslError, match="associative"):
        planner.search(body({
            "map_script": "state.txs.add(doc['n_chars'].value)",
            "reduce_script": "double s = 0; for (t in states) "
                             "{ s += t } return s"}))
    # nonzero += init is shard-count-dependent in ES
    with pytest.raises(EsDslError, match="shard-count-dependent"):
        planner.search(body({
            "init_script": "state.s = 5",
            "map_script": "state.s += doc['n_chars'].value",
            "reduce_script": "double s = 0; for (t in states) "
                             "{ s += t } return s"}))
    # mismatched merge op: sum map, max reduce
    with pytest.raises(EsDslError, match="not .*associative|does not match"):
        planner.search(body({
            "map_script": "state.s += doc['n_chars'].value",
            "reduce_script": "double s = 0; for (t in states) "
                             "{ s = Math.max(s, t.s) } return s"}))
    # _score is not in scope for map
    with pytest.raises(EsDslError, match="_score"):
        planner.search(body({
            "map_script": "state.s += _score",
            "reduce_script": "double s = 0; for (t in states) "
                             "{ s += t } return s"}))
    # non-canonical reduce
    with pytest.raises(EsDslError, match="canonical"):
        planner.search(body({
            "map_script": "state.s += doc['n_chars'].value",
            "reduce_script": "return states[0]"}))
    # non-identity reduce init participates in the ES fold: 'lo = 0'
    # over all-positive data would return 0 in ES, not the data min —
    # refuse rather than silently diverge
    with pytest.raises(EsDslError, match="participates in the ES fold"):
        planner.search(body({
            "map_script": "state.lo = Math.min(state.lo, "
                          "doc['n_chars'].value)",
            "reduce_script": "double lo = 0; for (t in states) "
                             "{ lo = Math.min(lo, t.lo) } return lo"}))


def test_collapse_inner_hits_matches_bruteforce(planner):
    """inner_hits = per-group top-N (rounded score desc, doc_id asc)
    restricted to the groups whose winners made the page."""
    body = {"query": {"match": {"text": "hash"}}, "size": 10,
            "collapse": {"field": "lang",
                         "inner_hits": {"name": "g", "size": 2}}}
    res = planner.search(body)
    got = sorted((r["lang"], r["doc_id"], r["score"], r["hit_rank"])
                 for r in res.inner_hits.collect())

    scores = {r["doc_id"]: round(r["score"], 4) for r in
              planner.score({"match": {"text": "hash"}}).collect()}
    langs = {r["doc_id"]: r["lang"] for r in
             planner.docs.select("doc_id", "lang").collect()}
    by_grp: dict = {}
    for d, sc in scores.items():
        by_grp.setdefault(langs[d], []).append((-sc, d))
    winners = sorted((min(v), g) for g, v in by_grp.items())[:10]
    page = {g for _, g in winners}
    want = sorted(
        (g, d, -negsc, i + 1)
        for g in page
        for i, (negsc, d) in enumerate(sorted(by_grp[g])[:2]))
    assert got == want
    # page winners == collapse hits
    hit_ids = [r["doc_id"] for r in res.hits.collect()]
    assert set(hit_ids) == {sorted(by_grp[g])[0][1] for g in page}


def test_collapse_inner_hits_refuses_unknown_options(planner):
    """A custom inner sort (or any unsupported inner_hits option) must
    refuse loudly, not silently serve score-ordered hits."""
    with pytest.raises(EsDslError, match="inner_hits supports only"):
        planner.search({"query": {"match": {"text": "hash"}}, "size": 5,
                        "collapse": {"field": "lang",
                                     "inner_hits": {
                                         "name": "g", "size": 2,
                                         "sort": [{"n_chars": "desc"}]}}})


def test_collapse_without_inner_hits_returns_none(planner):
    res = planner.search({"query": {"match": {"text": "hash"}},
                          "size": 5, "collapse": {"field": "lang"}})
    assert res.inner_hits is None
    res2 = planner.search({"query": {"match": {"text": "hash"}},
                           "size": 5})
    assert res2.inner_hits is None


def test_indexed_clauses_use_index_analyzer(spark, planner, tmp_path):
    """Stored match operator=and and stored bool clauses tokenize with the
    index's analyzer: case and punctuation fold away as they did when the
    docs were indexed, so the hits equal the dataflow planner's."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans.build_index import build_index

    docs = planner.docs.filter(F.col("doc_id") < 60).withColumn(
        "text", F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit("import os\ndef main(): "), F.col("text")))
        .otherwise(F.col("text")))
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, EngineConfig(n_shards=2),
                code_aware=False, text_col="text", already_normalized=True,
                waves=1)
    scan = EsSearchPlanner(spark, docs)

    def match_and(text):
        return {"query": {"match": {"text": {
            "query": text, "operator": "and"}}}, "size": 10}

    exp = _ranked(scan.search(match_and("import def")).hits)
    assert exp
    for text in ("Import DEF!", "import, def"):
        assert _ranked(_indexed(spark, out, match_and(text)).hits) == exp, \
            text

    def bool_body(must, should):
        return {"query": {"bool": {"must": [{"match": {"text": must}}],
                                   "should": [{"term": {"text": should}}]}},
                "size": 10}

    clean = _ranked(_indexed(spark, out, bool_body("def", "main")).hits)
    assert clean
    assert _ranked(_indexed(spark, out, bool_body("DEF!", "Main,")).hits) \
        == clean


def test_indexed_request_values_with_sql_metacharacters(spark, planner,
                                                        tmp_path):
    """Request values reach the stored statement as parameter markers (a
    filter value as a Column literal), never as SQL text: quotes, backslashes, marker-like ``:t0``,
    format-like ``{p}`` and comment openers in a match text, a
    prefix/wildcard/regexp value, a filter ``term`` value and a
    ``search_after`` cursor parse cleanly and answer exactly as the
    dataflow planner (Column literals) does over the same documents."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.plans.build_index import build_index

    meta = "py' \\ :t0 {p} -- /*"
    docs = planner.docs.filter(F.col("doc_id") < 80).withColumn(
        "lang", F.when(F.col("doc_id") % 4 == 0, F.lit(meta))
        .otherwise(F.col("lang")))
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, EngineConfig(n_shards=2),
                code_aware=False, text_col="text", already_normalized=True,
                waves=1)
    scan = EsSearchPlanner(spark, docs)
    word = docs.select("text").first()["text"].split()[0].lower()
    bodies = {
        "match": {"query": {"match": {"text": f"{word} {meta}"}}},
        "prefix": {"query": {"prefix": {"text": word[:2] + meta}}},
        "wildcard": {"query": {"wildcard": {"text": f"{word[:1]}*{meta}"}}},
        "regexp": {"query": {"regexp": {
            "text": f"{word[:2]}.*|'\\\\ :t0 \\{{p\\}} -- /\\*"}}},
        "filter": {"query": {"bool": {
            "must": [{"match": {"text": word}}],
            "filter": [{"term": {"lang": meta}}]}}},
        "search_after": {"query": {"match": {"text": word}},
                         "sort": [{"lang": "asc"}],
                         "search_after": [meta, 0]},
    }
    lang = {r["doc_id"]: r["lang"]
            for r in docs.select("doc_id", "lang").collect()}
    for name, body in bodies.items():
        body = {**body, "size": 50}
        got, exp = _indexed(spark, out, body).hits, scan.search(body).hits
        if "sort" in body:
            got, exp = ([r["doc_id"] for r in h.collect()] for h in (got, exp))
            assert sorted(got, key=lambda d: (lang[d], d)) == got, name
        else:
            got, exp = _ranked(got), _ranked(exp)
        assert got == exp, name
        if name in ("match", "regexp", "filter", "search_after"):
            assert got, name  # a non-empty answer, not two empty ones


def test_indexed_requests_without_clause_terms(spark, planner, doc_index):
    """Stored requests whose clause term list is empty compile without a
    SQL parse error: a match with ``operator: and`` or
    ``minimum_should_match`` whose text has no tokens answers no hits, as
    the OR match and the dataflow planner do; so does a filter-only bool
    whose filter matches no doc."""
    for mp in ({"operator": "and"}, {"minimum_should_match": 1}):
        body = {"query": {"match": {"text": {"query": "!!! --", **mp}}}}
        assert _indexed(spark, doc_index, body).hits.collect() == [], mp
        assert planner.search(body).hits.collect() == [], mp
    body = {"query": {"bool": {"filter": [{"term": {"lang": "py"}}]}}}
    assert _indexed(spark, doc_index, body).hits.collect() == []
    assert planner.search(body).hits.collect() == []
