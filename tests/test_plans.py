"""Physical-plan shape regression (SURVEY.md §4): pushdown, broadcast,
map-side partial aggregation. Lenient string asserts — the exact operator
tree may evolve, the *properties* must not."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import pytest

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.plans import query as qp
from dp_search_data_importer_spark.plans.build_index import build_index
from dp_search_data_importer_spark.session import local_df
from dp_search_data_importer_spark.sources.repo_files import synthetic_repo_files

CFG = EngineConfig(n_shards=4)


def _explain(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, synthetic_repo_files(spark, 200, seed=1), out, CFG,
                resume=False)
    return out


def test_postings_scan_pushes_term_filter(spark, idx):
    plan = _explain(qp.load_blocks(spark, idx, ["import", "def"]))
    assert "PushedFilters: [In(term," in plan


def test_exact_bm25_postings_side_joins_nothing(spark, idx):
    """The stored exact path scores the pruned postings scan alone: df
    is a bound map literal (``query.term_dfs``), so the plan holds no
    join at all — neither a term_df broadcast nor a sort-merge."""
    queries = local_df(spark, [(1, "import def")],
                       "query_id long, query_text string")
    plan = _explain(qp.exact_topk(spark, idx, queries, CFG, 10))
    assert "Join" not in plan  # no join, so never a sort-merge one
    assert "term_df" not in plan
    assert "PushedFilters: [In(term," in plan
    # only the scorer's columns are read (pruned in the scan)
    postings_scan = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "tf:bigint" in postings_scan and "positions" not in postings_scan


def _broadcasts_local_table(plan: str) -> bool:
    """True when a BroadcastExchange's child in the formatted plan tree is
    a LocalTableScan (a driver-built table shipped by a broadcast job)."""
    lines = plan.split("\n\n")[0].splitlines()
    for i, line in enumerate(lines[:-1]):
        if "BroadcastExchange" in line:
            child = lines[i + 1].lstrip(" :|+-")
            if child.startswith("LocalTableScan"):
                return True
    return False


@pytest.mark.parametrize("kind,body,join_jobs", [
    ("match", {"query": {"match": {"text": "import def"}}}, 3),
    ("bool", {"query": {"bool": {
        "must": [{"term": {"text": "import"}}],
        "should": [{"term": {"text": "def"}}],
        "must_not": [{"term": {"text": "zzznope"}}]}}}, 4),
])
def test_stored_request_job_count_bounded(spark, idx, kind, body, join_jobs):
    """Cost regression guard for the stored-index read path: a match and a
    bool request each run a fixed number of Spark jobs, fewer than the
    ``join_jobs`` the read path ran when it joined ``term_df``. Stored
    tables are read with their known schemas (no schema-inference job), and
    the stats, query terms, their df and the bool clauses are plan
    literals, so no job fetches df and no broadcast job ships a
    driver-built table."""
    import uuid

    from dp_search_data_importer_spark.plans.es_dsl import search_indexed

    sc = spark.sparkContext
    group = f"{kind}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read-path job budget")
    try:
        res = search_indexed(spark, idx, body, CFG)
        assert res.hits.collect()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [tracker.getStageInfo(s)
              for j in jobs for s in tracker.getJobInfo(j).stageIds]
    stage_names = [s.name for s in stages if s is not None]
    assert not [n for n in stage_names if n.startswith("parquet at")], \
        stage_names
    # measured 2 (match) and 3 (bool) on local[4]: the postings scan and
    # the ranking, plus bool's clause-count stage (the DataFrame-built
    # read path: 8 and 10)
    assert len(jobs) < join_jobs, (len(jobs), stage_names)
    plan = _explain(res.hits)
    assert not _broadcasts_local_table(plan)
    assert "term_df" not in plan


@pytest.fixture(scope="module")
def pos_idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planposidx"))
    build_index(spark, synthetic_repo_files(spark, 200, seed=1), out, CFG,
                resume=False, positions=True)
    return out


_PYTHON_EXECS = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")
_STORED_BODIES = {
    "match": {"query": {"match": {"text": "import def"}}},
    "match_and": {"query": {"match": {"text": {
        "query": "import def", "operator": "and"}}}},
    "bool": {"query": {"bool": {
        "must": [{"term": {"text": "import"}}],
        "should": [{"term": {"text": "def"}}],
        "must_not": [{"term": {"text": "zzznope"}}]}}},
    "prefix": {"query": {"prefix": {"text": "imp"}}},
    "aggs": {"query": {"match": {"text": "import def"}},
             "aggs": {"langs": {"terms": {"field": "lang"}}}},
    "match_phrase": {"query": {"match_phrase": {"text": "import def"}}},
}


@pytest.mark.parametrize("kind,positional", [
    *[(k, False) for k in sorted(_STORED_BODIES) if k != "match_phrase"],
    *[(k, True) for k in sorted(_STORED_BODIES)],
])
def test_stored_read_path_runs_no_python(spark, idx, pos_idx, kind,
                                         positional):
    """Every stored request class executes as JVM operators only: no
    Python UDF or pandas map in the executed plan, and the postings scan
    has the query's term set pushed down. ``match_phrase`` needs stored
    positions, so it runs on the positional index only."""
    import re

    from dp_search_data_importer_spark.plans.es_dsl import search_indexed

    res = search_indexed(spark, pos_idx if positional else idx,
                         _STORED_BODIES[kind], CFG)
    frames = [res.hits, *res.aggregations.values()]
    pushed = re.compile(r"PushedFilters: \[[^\]]*\bIn\(term,")
    for df in frames:
        assert df.collect(), kind
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not [p for p in _PYTHON_EXECS if p in plan], (kind, plan)
        assert pushed.search(_explain(df)), (kind, _explain(df))


@pytest.mark.parametrize("kind", ["match_and", "bool", "prefix"])
def test_stored_classes_run_two_jobs(spark, idx, kind):
    """A stored match with operator and, a single-query bool and a prefix
    each run at most two Spark jobs, the postings scan and the ranking:
    the one query's id is a literal, so no query-keyed exchange and
    window add a stage, and the prefix expands on the driver
    (``query.expand_terms``), so no job scans the dictionary."""
    import uuid

    from dp_search_data_importer_spark.plans.es_dsl import search_indexed

    sc = spark.sparkContext
    group = f"{kind}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read-path job budget")
    try:
        res = search_indexed(spark, idx, _STORED_BODIES[kind], CFG)
        assert res.hits.collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2, (kind, len(jobs))
    plan = _explain(res.hits)
    assert "hashpartitioning(query_id" not in plan, plan
    assert "term_df" not in plan


def test_resolution_reads_pruned_docs(spark, idx):
    queries = local_df(spark, [(1, "import")],
                       "query_id long, query_text string")
    res = qp.wand_topk(spark, idx, queries, CFG, 5)
    plan = _explain(qp.resolve_docs(spark, idx, res))
    assert "BroadcastHashJoin" in plan
    # content columns never read at query time (column pruning)
    assert "content" not in plan.split("ReadSchema")[-1][:400]


def test_df_agg_is_two_phase(spark, sf_dir):
    from dp_search_data_importer_spark.operators.postings import (
        doc_freqs,
        term_freqs_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tree = _explain(doc_freqs(term_freqs_sql(docs)), "simple").splitlines()
    # the df count's map-side partial runs right below the term exchange:
    # a hot term's reducer gets at most one row per map task
    ex = next(i for i, line in enumerate(tree)
              if "Exchange hashpartitioning(term#" in line)
    assert "HashAggregate" in tree[ex + 1], tree[ex + 1]
    assert "partial_count" in tree[ex + 1], tree[ex + 1]


def test_relational_joins_broadcast_dims(spark, sf_dir):
    """The new relational queries must broadcast every dim side — the fact
    table shuffles at most for its aggregation, never for a sort-merge."""
    from dp_search_data_importer_spark.plans.driver_queries import (
        q_brand_volume,
        q_shipping_priority,
        q_supplier_nation_volume,
    )

    for q in (q_shipping_priority, q_brand_volume, q_supplier_nation_volume):
        plan = _explain(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q.__name__
        assert "SortMergeJoin" not in plan, q.__name__


def test_rollup_partial_aggregates(spark, sf_dir):
    """ROLLUP still runs as two-phase hash aggregation (Expand feeds
    map-side partials)."""
    from dp_search_data_importer_spark.plans.driver_queries import (
        q_order_rollup,
    )

    plan = _explain(q_order_rollup(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_filtered_topk_broadcasts_allowed_set(spark, idx):
    """Round 3: the filter-context path pushes the term filter into the
    postings scan and broadcasts the allowed doc_id set (semi-join) — no
    sort-merge join against postings-sized data."""
    from pyspark.sql import functions as F

    queries = local_df(spark, [(1, "import def")],
                       "query_id long, query_text string")
    plan = _explain(qp.filtered_topk(spark, idx, queries,
                                     F.col("lang") == "py", CFG, 10))
    assert "PushedFilters: [In(term," in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_multi_match_no_shuffle_before_final_agg(spark, sf_dir):
    """Round 3: multi_match's per-field branches join only broadcast
    sides; the single wide shuffle is the final (query, doc) score agg."""
    from pyspark.sql import functions as F

    from dp_search_data_importer_spark.operators.bm25 import multi_match_topk
    from dp_search_data_importer_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 40).alias("title"))
    qdf = local_df(spark, [(1, "alpha")], "query_id long, query_text string")
    plan = _explain(multi_match_topk(docs, {"text": 1.0, "title": 2.0},
                                     qdf, CFG, 10))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bool_topk_broadcast_only_single_agg(spark, sf_dir, idx):
    """Round 4: the ES bool path must stay broadcast-only (the clause
    table pre-joined with df rows broadcasts into the tf side) with the
    clause-count gates riding the single score aggregation — no
    sort-merge join, and the stored form pushes the full clause term set
    (incl. must_not) into the postings scan."""
    from dp_search_data_importer_spark.operators.bm25 import BoolSpec, bool_topk
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tf = term_freqs_sql(docs, id_col="doc_id", text_col="text")
    specs = [BoolSpec(1, must=["hash"], should=["join"], must_not=["sort"])]
    plan = _explain(bool_topk(tf, specs, doc_freqs(tf),
                              corpus_stats_from_docs(docs), k=10))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    stored_plan = _explain(qp.bool_topk_indexed(
        spark, idx, [BoolSpec(1, must=["import"], must_not=["def"])], CFG, 10))
    assert "PushedFilters: [In(term," in stored_plan
    assert "SortMergeJoin" not in stored_plan


def test_cross_fields_no_sort_merge(spark, sf_dir):
    """Round 4: cross_fields' blended-statistics dataflow keeps every join
    broadcast (term candidates filter before the per-doc dl join, so the
    joins stay under the broadcast threshold / AQE-convertible)."""
    from pyspark.sql import functions as F

    from dp_search_data_importer_spark.operators.bm25 import multi_match_topk
    from dp_search_data_importer_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 40).alias("title"))
    qdf = local_df(spark, [(1, "alpha beta")],
                   "query_id long, query_text string")
    plan = _explain(multi_match_topk(docs, {"text": 1.0, "title": 2.0},
                                     qdf, CFG, 10, mode="cross_fields"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def _assert_salted_topn(plan: str) -> None:
    """The plan ranks through ``salted_topn``: a row_number window
    partitioned by the group keys plus the salt (``pmod(xxhash64(…), 32)``
    projected as ``_wN``), then one partitioned by the group keys alone."""
    assert re.search(r"pmod\(xxhash64\([^)]*\), 32\) AS (_w\d+)", plan)
    parts = re.findall(r"Arguments: \[row_number\(\) windowspecdefinition"
                       r".*? AS \w+#\d+\], \[([^\]]*)\]", plan)
    salted = [p.split(", ") for p in parts if "_w" in p]
    assert salted, parts
    assert any([c for c in keys if not c.startswith("_w")] == p.split(", ")
               for keys in salted for p in parts), parts


def _sf_hits(spark, sf):
    """Brute-force inputs: the SRT_QUERIES hit set and the docs meta."""
    from dp_search_data_importer_spark.plans.driver_queries_ext import (
        SRT_QUERIES,
        _match_hits_df,
    )

    docs, hits = _match_hits_df(spark, sf, SRT_QUERIES)
    meta = {r["doc_id"]: r for r in
            docs.select("doc_id", "n_chars", "lang", "source").collect()}
    return [(r["query_id"], meta[r["doc_id"]]) for r in hits.collect()]


def _case_sort_topk(spark, sf):
    from dp_search_data_importer_spark.plans.driver_queries_ext import (
        q_sorted_search,
    )

    df = q_sorted_search(spark, sf)
    per_q = defaultdict(list)
    for qid, m in _sf_hits(spark, sf):
        per_q[qid].append((-m["n_chars"], m["doc_id"]))
    expect = {(q, d, -negv) for q, lst in per_q.items()
              for negv, d in sorted(lst)[:10]}
    got = {(r["query_id"], r["doc_id"], r["n_chars"]) for r in df.collect()}
    return [df], got, expect


def _case_facet_terms(spark, sf):
    from dp_search_data_importer_spark.plans.driver_queries_ext import (
        q_facet_counts,
    )

    df = q_facet_counts(spark, sf)
    counts = Counter()
    for qid, m in _sf_hits(spark, sf):
        for f in ("lang", "source"):
            counts[(qid, f, str(m[f]))] += 1
    per = defaultdict(list)
    for (qid, f, key), n in counts.items():
        per[(qid, f)].append((-n, key))
    expect = {(q, f, key, -negn) for (q, f), lst in per.items()
              for negn, key in sorted(lst)[:5]}
    got = {(r["query_id"], r["facet"], r["key"], r["doc_count"])
           for r in df.collect()}
    return [df], got, expect


def _case_top_hits_agg(spark, sf):
    from dp_search_data_importer_spark.plans.driver_queries_ext import (
        q_facet_top_hits,
    )

    df = q_facet_top_hits(spark, sf)
    per = defaultdict(list)
    for qid, m in _sf_hits(spark, sf):
        per[(qid, str(m["lang"]))].append((-m["n_chars"], m["doc_id"]))
    expect = {(q, b, d, -negv, i + 1) for (q, b), lst in per.items()
              for i, (negv, d) in enumerate(sorted(lst)[:2])}
    got = {(r["query_id"], r["bucket"], r["doc_id"], r["n_chars"],
            r["hit_rank"]) for r in df.collect()}
    return [df], got, expect


def _case_collapse(spark, sf):
    """Planner ``collapse`` with ``inner_hits``: both the winner pass and
    the inner-hits rank."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner
    from dp_search_data_importer_spark.sources.tables import load_table

    planner = EsSearchPlanner(spark, load_table(spark, sf, "documents"))
    res = planner.search({"query": {"match": {"text": "hash"}}, "size": 10,
                          "collapse": {"field": "lang",
                                       "inner_hits": {"name": "g",
                                                      "size": 2}}})
    scores = {r["doc_id"]: round(r["score"], 4) for r in
              planner.score({"match": {"text": "hash"}}).collect()}
    langs = {r["doc_id"]: r["lang"] for r in
             planner.docs.select("doc_id", "lang").collect()}
    by_grp = defaultdict(list)
    for d, sc in scores.items():
        by_grp[langs[d]].append((-sc, d))
    page = {g for _, g in sorted((min(v), g) for g, v in by_grp.items())[:10]}
    expect = ({("hit", sorted(by_grp[g])[0][1]) for g in page}
              | {("inner", g, d, -negsc, i + 1) for g in page
                 for i, (negsc, d) in enumerate(sorted(by_grp[g])[:2])})
    got = ({("hit", r["doc_id"]) for r in res.hits.collect()}
           | {("inner", r["lang"], r["doc_id"], r["score"], r["hit_rank"])
              for r in res.inner_hits.collect()})
    return [res.hits, res.inner_hits], got, expect


def _case_field_collapse(spark, sf):
    """``q_field_collapse``: best per (query, doc_id % 10), then top-5
    per query."""
    from pyspark.sql import functions as F

    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as po
    from dp_search_data_importer_spark.plans.driver_queries_ext import (
        CLP_QUERIES,
        q_field_collapse,
    )
    from dp_search_data_importer_spark.sources.tables import load_table

    df = q_field_collapse(spark, sf)
    docs = load_table(spark, sf, "documents")
    tf = po.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    qdf = local_df(spark, CLP_QUERIES, "query_id long, query_text string")
    scores = bm25_ops.bm25_scores(
        tf, bm25_ops.query_terms(qdf), po.doc_freqs(tf),
        po.corpus_stats_from_docs(docs))
    raw = scores.select("query_id", "doc_id",
                        F.round("score", 4).alias("score")).collect()
    best: dict = {}
    for r in raw:
        key = (r["query_id"], r["doc_id"] % 10)
        cand = (-r["score"], r["doc_id"])
        if key not in best or cand < best[key]:
            best[key] = cand
    per_q = defaultdict(list)
    for (qid, grp), (negs, did) in best.items():
        per_q[qid].append((negs, did, grp))
    expect = {(qid, did, grp, -negs) for qid, lst in per_q.items()
              for negs, did, grp in sorted(lst)[:5]}
    got = {(r["query_id"], r["doc_id"], r["grp"], r["score"])
           for r in df.collect()}
    return [df], got, expect


@pytest.mark.parametrize("case", [
    _case_field_collapse, _case_sort_topk, _case_facet_terms,
    _case_top_hits_agg, _case_collapse,
], ids=["q_field_collapse", "sort_topk", "facet_terms", "top_hits_agg",
        "collapse"])
def test_field_collapse_final_rank_is_two_phase(spark, case):
    """Every per-key top-N must NOT push a whole group through one task:
    each ranks through ``salted_topn`` — a salted pre-window bounds the
    group window's input to n·32 rows. Assert each plan carries the
    salted window and the final window, and that the result still equals
    a brute-force reference."""
    frames, got, expect = case(spark, "/root/testdata/sf0.001")
    for df in frames:
        _assert_salted_topn(_explain(df))
    assert got and got == expect


def test_lm_perplexity_broadcasts_small_lm(spark, sf_dir):
    """Under the size gate the LM attaches via broadcast hash joins —
    no sort-merge on the scoring path."""
    from dp_search_data_importer_spark.operators.textstats import (
        lm_perplexity,
        train_bigram_lm,
    )
    from dp_search_data_importer_spark.plans.driver_queries import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    uni, bi = train_bigram_lm(docs)
    plan = lm_perplexity(docs, uni, bi) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_new_aggs_single_power_sum_pass(spark, sf_dir):
    """matrix_stats / t_test / scripted_metric each compile to EXACTLY
    one global aggregation pair (partial + final over SinglePartition) —
    the whole statistic is one map-side-combinable pass over the hit
    set, with the matrix/statistic assembled on the 1-row result (the
    Generate/projection adds no shuffle)."""
    from dp_search_data_importer_spark.plans.driver_queries import (
        load_table,
    )
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    p = EsSearchPlanner(spark, load_table(spark, sf_dir, "documents"))
    bodies = {
        "matrix_stats": {"fields": ["n_chars", "doc_id"]},
        "t_test": {"a": {"field": "n_chars",
                         "filter": {"term": {"lang": "en"}}},
                   "b": {"field": "n_chars",
                         "filter": {"__not__": {"term": {"lang": "en"}}}}},
        "scripted_metric": {
            "map_script": "state.s += doc['n_chars'].value",
            "reduce_script": "double s = 0; for (t in states) "
                             "{ s += t } return s"},
    }
    for kind, spec in bodies.items():
        body = {"query": {"match": {"text": "hash"}}, "size": 0,
                "aggs": {"x": {kind: spec}}}
        plan = _explain(p.search(body).aggregations["x"])
        # exactly one SinglePartition exchange downstream of the hit
        # set (the global power-sum merge); corpus-stat subplans add
        # their own, so compare against the match-only baseline
        assert plan.count("SinglePartition") <= \
            _explain(p.score({"match": {"text": "hash"}})) \
            .count("SinglePartition") + 1, kind
        assert "SortMergeJoin" not in plan, kind
        assert "CartesianProduct" not in plan, kind


# a fresh body per class, and a second word so the counted request is no
# verbatim repeat of the warming one (a repeat reuses its cached plan)
_CONSTRUCT_BODIES = {
    "match": lambda w: {"query": {"match": {"text": f"import {w}"}}},
    "match_and": lambda w: {"query": {"match": {"text": {
        "query": f"import {w}", "operator": "and"}}}},
    "bool": lambda w: {"query": {"bool": {
        "must": [{"term": {"text": "import"}}],
        "should": [{"term": {"text": w}}],
        "must_not": [{"term": {"text": "zzznope"}}]}}},
    "prefix": lambda w: {"query": {"prefix": {"text": w[:3]}}},
    "aggs": lambda w: {"query": {"match": {"text": f"import {w} self"}},
                       "aggs": {"langs": {"terms": {"field": "lang"}}}},
}


@pytest.mark.parametrize("kind", sorted(_CONSTRUCT_BODIES))
def test_stored_construct_py4j_budget(spark, idx, kind, monkeypatch):
    """Building a stored request's hits plan is one parameterized
    statement: on a warmed index it sends fewer than 100 py4j commands
    (the DataFrame-built plans sent 650–1,070). The ``aggs`` class's agg
    frames come from the dataflow agg family that ``EsSearchPlanner``
    shares, so commands sent inside ``assemble_aggs`` are not counted."""
    import threading

    from dp_search_data_importer_spark.plans.es_dsl import (
        EsSearchPlanner,
        search_indexed,
    )

    search_indexed(spark, idx, _CONSTRUCT_BODIES[kind]("def"), CFG)
    client = spark.sparkContext._gateway._gateway_client
    send, assemble = client.send_command, EsSearchPlanner.assemble_aggs
    sent, counting = [0], [True]
    builder = threading.get_ident()

    def counted(*a, **kw):
        # py4j's finalizer thread sends the deletes of collected Java
        # objects, earlier tests' included, through the same client
        sent[0] += counting[0] and threading.get_ident() == builder
        return send(*a, **kw)

    def uncounted(self, *a, **kw):
        counting[0] = False
        try:
            return assemble(self, *a, **kw)
        finally:
            counting[0] = True

    monkeypatch.setattr(client, "send_command", counted)
    monkeypatch.setattr(EsSearchPlanner, "assemble_aggs", uncounted)
    res = search_indexed(spark, idx, _CONSTRUCT_BODIES[kind]("return"), CFG)
    monkeypatch.undo()
    assert sent[0] < 100, (kind, sent[0])
    res.hits.collect()


def _final_trees(plan: str) -> tuple[str, str]:
    """(final plan tree of the query, final plan trees of its
    subqueries) of a formatted AQE explain."""
    main, _, subs = plan.partition("===== Subqueries =====")

    def finals(section: str) -> str:
        return "\n".join(part.split("== Initial Plan ==")[0]
                         for part in section.split("== Final Plan ==")[1:])

    return finals(main), finals(subs)


def test_dsl_match_scores_term_pruned_tf(spark, sf_dir):
    """The dataflow planner's term scorer reads and tokenizes ``text``
    once per row: one scan and one tokenize feed one exchange of
    candidate rows, which the keyless df aggregate (a scalar subquery)
    reuses (``ReusedExchange``). No term-keyed exchange, no window, no
    cross join, and no driver-built table is broadcast; (n_docs, avgdl)
    are literals."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    planner = EsSearchPlanner(spark, spark.read.parquet(
        f"{sf_dir}/documents.parquet"), CFG)
    hits = planner.search({"query": {"match": {"text": "hash join"}}}).hits
    assert hits.collect()
    plan = _explain(hits)
    assert "hashpartitioning(term" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert not _broadcasts_local_table(plan)
    main, subs = _final_trees(plan)
    assert main.count("Scan parquet") == 1, main
    assert "Scan parquet" not in subs and "ReusedExchange" in subs, subs
    details = dict(re.findall(r"^\((\d+)\) (.*?)(?=^\(\d+\) |\Z)",
                              plan, re.S | re.M))
    executed = set(re.findall(r"\((\d+)\)", main + subs))
    # df: a keyless aggregate, partial before its one-row exchange
    aggs = [details[n] for n in executed
            if details.get(n, "").startswith("HashAggregate")]
    assert aggs and all("Keys: []" in a for a in aggs), aggs
    assert any("partial_count" in a for a in aggs), aggs
    # exactly one executed node evaluates the tokenizer
    tokenizing = [n for n in executed
                  if "split(lower(text" in details.get(n, "")]
    assert len(tokenizing) == 1, tokenizing
    scan = next(d for n, d in details.items()
                if n in executed and d.startswith("Scan parquet"))
    assert "text:string" in scan


def test_sorted_topk_cursor_is_a_literal(spark, idx):
    """A paged sort-by-field request binds its ``search_after`` cursor as
    a constant-folded literal: its plan broadcasts no driver-built table,
    and page 2 is exactly rows k+1..2k of the one-shot sort."""
    queries = [(1, "import def")]
    k = 5

    def ranked(rows):
        return [(r["path"], r["doc_id"])
                for r in sorted(rows, key=lambda r: (r["path"], r["doc_id"]))]

    one_shot = ranked(qp.sorted_topk(spark, idx, queries, "path",
                                     ascending=True, k=2 * k).collect())
    assert len(one_shot) == 2 * k
    page1 = ranked(qp.sorted_topk(spark, idx, queries, "path",
                                  ascending=True, k=k).collect())
    assert page1 == one_shot[:k]
    paged = qp.sorted_topk(spark, idx, queries, "path", ascending=True,
                           k=k, after={1: page1[-1]})
    assert _broadcasts_local_table(_explain(paged)) is False
    assert ranked(paged.collect()) == one_shot[k:]
