"""Physical-plan shape regression (SURVEY.md §4): pushdown, broadcast,
map-side partial aggregation. Lenient string asserts — the exact operator
tree may evolve, the *properties* must not."""

from __future__ import annotations

import pytest

from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.plans import query as qp
from dp_search_data_importer_spark.plans.build_index import build_index
from dp_search_data_importer_spark.session import local_df
from dp_search_data_importer_spark.sources.repo_files import synthetic_repo_files

CFG = EngineConfig(n_shards=4)


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
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
    plan = _explain(doc_freqs(term_freqs_sql(docs), CFG, salted=True))
    # partial (map-side) aggregate before each exchange
    assert plan.count("HashAggregate") >= 4
    assert "Exchange" in plan


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


def test_field_collapse_final_rank_is_two_phase(spark):
    """The collapse final ranking must NOT push every group winner through
    one task per query: a salted pre-window bounds the query-level window's
    input to k·n_salts rows (the significant_terms TakeOrdered treatment,
    adapted per-key). Assert the plan carries the salted window and the
    result still equals a brute-force reference."""
    from dp_search_data_importer_spark.plans.driver_queries_ext import (
        q_field_collapse,
    )

    df = q_field_collapse(spark, "/root/testdata/sf0.001")
    plan = _explain(df)
    # the salt expression (pmod(xxhash64(grp), 32)) appears in a window
    # partition spec — three windows total: best-in-group, salted prune,
    # final rank
    assert plan.count("Window") >= 3
    assert "pmod" in plan and "xxhash64" in plan

    rows = df.collect()
    # brute-force reference: best per (query, grp), then top-5 per query
    from collections import defaultdict

    from pyspark.sql import functions as F
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as po
    from dp_search_data_importer_spark.plans.driver_queries_ext import (
        CLP_QUERIES,
    )
    from dp_search_data_importer_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
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
    expect = set()
    for qid, lst in per_q.items():
        for negs, did, grp in sorted(lst)[:5]:
            expect.add((qid, did, grp, -negs))
    got = {(r["query_id"], r["doc_id"], r["grp"], r["score"]) for r in rows}
    assert got == expect


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


def test_dsl_match_scores_term_pruned_tf(spark, sf_dir):
    """The dataflow planner's term scorer aggregates only the query
    terms' tf rows (the term filter sits below the tf aggregation), takes
    df from a two-phase ``groupBy("term")`` count over that pruned tf (no
    term-keyed window), and reads (n_docs, avgdl) as literals — no
    cross join against a stats frame."""
    import re

    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    planner = EsSearchPlanner(spark, spark.read.parquet(
        f"{sf_dir}/documents.parquet"), CFG)
    hits = planner.search({"query": {"match": {"text": "hash join"}}}).hits
    assert hits.collect()
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    tf_partial = [i for i, ln in enumerate(lines) if re.search(
        r"HashAggregate\(keys=\[doc_id#\d+L, dl#\d+L, term#\d+\], "
        r"functions=\[partial_count\(1\)\]", ln)]
    term_filter = [i for i, ln in enumerate(lines)
                   if re.search(r"Filter term#\d+ IN \(hash,join\)", ln)]
    assert tf_partial and term_filter
    assert term_filter[0] > tf_partial[0]
    assert re.search(r"HashAggregate\(keys=\[term#\d+\], "
                     r"functions=\[partial_count\(", plan)
    assert re.search(r"Exchange hashpartitioning\(term#\d+, ", plan)
    # the df count reuses the tf aggregate's exchange: ``text`` is
    # scanned and tokenized once
    final = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1 and "text#" in scans[0], scans
    assert "ReusedExchange" in final


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
