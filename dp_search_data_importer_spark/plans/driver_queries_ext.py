"""Driver-contract queries for the curation operators (dedup, similarity,
text analysis). Registered into driver_queries.QUERIES/ORACLES.

Near-dup operators need near-dups to find: the corpus queries construct a
deterministic augmented table — ``documents`` unioned with truncated copies
(doc_id + 10000, text minus its tail) — in BOTH the Spark query and the SQL
oracle, so results are non-trivially non-empty and still hash-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp_search_data_importer_spark.operators import dedup as dd
from dp_search_data_importer_spark.operators import similarity as sim
from dp_search_data_importer_spark.operators import simhash as sh
from dp_search_data_importer_spark.operators import textstats as ts
from dp_search_data_importer_spark.sources.tables import load_table

N_HASHES = 16
BANDS = 4
ANN_PLANES = 12


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ truncated copies (near-dups) ∪ one exact dup class."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    trunc = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(length(text) - 40, 1))").alias("text"),
    )
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    return docs.unionByName(trunc).unionByName(exact)


_AUG_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id,
         substring(text, 1, greatest(length(text) - 40, 1)) AS text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
"""

_TOKS_AUG = (
    "SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr, text "
    f"FROM ({_AUG_SQL})"
)


# ---------------------------------------------------------------------------
# dedup

def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicate_groups(_augmented_docs(spark, sf_dir))


def q_dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dd.dedup_exact(_augmented_docs(spark, sf_dir))
    return out.select("doc_id", F.length("text").cast("long").alias("text_len"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global all-pairs exact Jaccard — tiny-corpus diagnostic form; the
    scale-safe contract form is ``ngram_jaccard_lsh`` below."""
    return dd.ngram_jaccard_pairs(
        _augmented_docs(spark, sf_dir), n=3, threshold=0.5
    )


def q_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: exact Jaccard restricted to MinHash-LSH candidate pairs
    (no global shingle self-join anywhere in the plan)."""
    return dd.ngram_jaccard_lsh(
        _augmented_docs(spark, sf_dir), n=3, threshold=0.5,
        n_hashes=N_HASHES, bands=BANDS,
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: connected components (min-label
    propagation to fixpoint) over the LSH candidate pair graph; every doc
    gets (doc_id, cluster_id = component min). Oracle: the same LSH pair
    SQL + a recursive CTE computing min reachable id per node."""
    return dd.near_dup_clusters(
        _augmented_docs(spark, sf_dir), n=3, threshold=0.5,
        n_hashes=N_HASHES, bands=BANDS,
    )


def q_dedup_near_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end transitive near-dedup: keep one representative (min
    doc_id) per near-dup cluster; output (doc_id, text_len). Oracle: the
    clustering recursive CTE restricted to self-labelled nodes."""
    out = dd.dedup_near(_augmented_docs(spark, sf_dir), n=3, threshold=0.5,
                        n_hashes=N_HASHES, bands=BANDS)
    return out.select("doc_id", F.length("text").cast("long").alias("text_len"))


def q_minhash_est_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _augmented_docs(spark, sf_dir)
    sigs = dd.minhash_signatures(aug, n_hashes=N_HASHES, shingle_n=3)
    pairs = dd.minhash_candidates(sigs, bands=BANDS)
    return dd.minhash_jaccard_estimate(sigs, pairs).filter(
        F.col("est_jaccard") >= 0.5
    )


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked: the md5-bit SimHash kernel reproduced in SQL."""
    return sh.simhash_fingerprints(load_table(spark, sf_dir, "documents"))


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked: md5-bit fingerprints + 16-bit band join + bit_count
    hamming verify, all replayed in SQL."""
    fps = sh.simhash_fingerprints(_augmented_docs(spark, sf_dir))
    return sh.simhash_candidate_pairs(fps, max_hamming=3)


# ---------------------------------------------------------------------------
# text analysis

def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.language_id(load_table(spark, sf_dir, "documents"))


MM_QUERIES = [(1, "hash join merge"), (2, "window agg"),
              (3, "scan batch stream"), (4, "the zzznope")]


def q_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match/most_fields twin: a derived title field (first 80
    chars — identical derivation in both engines) boosted 2x over the
    body; each field scored as an independent BM25 index (own df/avgdl),
    summed per doc. Oracle replicates the per-field chains in SQL."""
    from dp_search_data_importer_spark.operators.bm25 import multi_match_topk
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 80).alias("title"))
    qdf = local_df(spark, MM_QUERIES, "query_id long, query_text string")
    return multi_match_topk(docs, {"text": 1.0, "title": 2.0}, qdf, k=10)


CLP_QUERIES = [(1, "hash join merge"), (2, "window agg")]


def q_field_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``collapse`` twin (field collapsing): at most ONE hit per group
    field value — the best-scoring doc of each group survives, then
    groups rank normally (dedupe near-identical pages per site, one
    result per repo, …). Group field here: doc_id % 10 (derived
    identically in both engines). Two deterministic windows: best-in-
    group by (rounded score desc, doc_id asc), then the standard top-k."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as postings_ops
    from dp_search_data_importer_spark.session import local_df
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = postings_ops.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    qdf = local_df(spark, CLP_QUERIES, "query_id long, query_text string")
    qt = bm25_ops.query_terms(qdf)
    scores = bm25_ops.bm25_scores(tf, qt, postings_ops.doc_freqs(tf),
                                  postings_ops.corpus_stats_from_docs(docs))
    rounded = scores.select(
        "query_id", "doc_id",
        F.round("score", bm25_ops.ROUND_DIGITS).alias("score"),
        F.pmod(F.col("doc_id"), F.lit(10)).alias("grp"))
    order = (F.col("score").desc(), F.col("doc_id").asc())
    w_in = Window.partitionBy("query_id", "grp").orderBy(*order)
    best = (rounded.withColumn("rn", F.row_number().over(w_in))
            .filter(F.col("rn") == 1).drop("rn"))
    # final ranking: collapse cardinality = #groups (sites/repos — can be
    # millions), so a single window over query_id would funnel every group
    # winner through ONE task; salted_topn salts it by group
    return (bm25_ops.salted_topn(best, ["query_id"], order, 5,
                                 salt_col=F.col("grp"))
            .select("query_id", "doc_id", "grp", "score"))


def _field_collapse_sql() -> str:
    return f"""
    WITH q(query_id, query_text) AS (
      VALUES {', '.join(f"({qid}, '{qt}')" for qid, qt in CLP_QUERIES)}
    ),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
      FROM q
    ),
    qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks
           WHERE term <> '' GROUP BY doc_id),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    scored AS (
      SELECT qt2.query_id, tf.doc_id,
             round(sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ), 4) AS score,
             tf.doc_id % 10 AS grp
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY qt2.query_id, tf.doc_id
    ),
    best AS (
      SELECT query_id, doc_id, grp, score FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id, grp
          ORDER BY score DESC, doc_id ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT query_id, doc_id, grp, score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
      FROM best
    ) WHERE rn <= 5
"""


SPELL_INPUTS = [(1, "hsah"), (2, "windoq"), (3, "stream"),
                (4, "zzzzzzz"), (5, "joim"), (6, "mergw"), (7, "scon")]


def q_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES term-suggester / did-you-mean twin: per (possibly misspelled)
    input token, the top-3 dictionary corrections within edit distance 2,
    ranked by (distance asc, df desc, term asc) — ES's default
    suggest-mode ordering shape. Catalyst levenshtein over the dictionary
    with SOUND cheap prunes applied before the edit-distance kernel:
    a ±2 length window and a character-set bound (each character present
    in one string but absent from the other costs ≥1 edit, so candidates
    whose char-set difference exceeds 2 in either direction can't be
    within distance 2). Broadcast inputs.

    Scale note: this is the distributed linear-scan form — one pass over
    the term dictionary per suggest batch, columnar, embarrassingly
    parallel, with the prunes cutting the levenshtein fan-out ~10×.
    Lucene's FST/Levenshtein-automaton candidate generation is the
    SUBLINEAR form; if the dictionary reaches 10⁹ terms, partition it by
    (length, first char-set byte) so the prunes become partition pruning
    instead of a scan-side filter. Oracle: DuckDB levenshtein, same
    length window (the char-set prune is results-preserving, so the
    oracle needn't replicate it)."""
    from dp_search_data_importer_spark.operators.postings import (
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.session import local_df
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    dfs = doc_freqs(term_freqs_sql(docs, id_col="doc_id", text_col="text"))
    inp = local_df(spark, SPELL_INPUTS, "query_id long, token string")

    def chars(c):
        return F.array_distinct(F.split(F.col(c), ""))

    j = dfs.join(
        F.broadcast(inp),
        (F.length("term") >= F.length("token") - 2)
        & (F.length("term") <= F.length("token") + 2)
        & (F.size(F.array_except(chars("term"), chars("token"))) <= 2)
        & (F.size(F.array_except(chars("token"), chars("term"))) <= 2))
    j = j.withColumn("dist", F.levenshtein(F.col("term"), F.col("token")))
    j = j.filter(F.col("dist") <= 2)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
    return (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("query_id", "term", F.col("dist").cast("long")
                    .alias("dist"), "df"))


def _spell_suggest_sql() -> str:
    return f"""
    WITH inp(query_id, token) AS (
      VALUES {', '.join(f"({qid}, '{t}')" for qid, t in SPELL_INPUTS)}
    ),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    j AS (
      SELECT i.query_id, d.term, levenshtein(d.term, i.token)::BIGINT AS dist,
             d.df
      FROM dfs d JOIN inp i
        ON length(d.term) BETWEEN length(i.token) - 2 AND length(i.token) + 2
      WHERE levenshtein(d.term, i.token) <= 2
    )
    SELECT query_id, term, dist, df FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY dist ASC, df DESC, term ASC) AS rn
      FROM j
    ) WHERE rn <= 3
"""


def q_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (doc_id % 50 ≠ 0) sharing ≥1
    distinct 3-gram shingle with the eval split (doc_id % 50 == 0) —
    (doc_id, n_overlapping). Eval shingles broadcast; only the per-doc
    hit count shuffles. Oracle: the same shingle semi-join in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.cross_ngram_overlap(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0), n=3)


_DECON_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents
    ),
    tok2 AS (
      SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM toks WHERE term <> ''
    ),
    sh AS (
      SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS shingle
      FROM tok2 a
      JOIN tok2 b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      JOIN tok2 c ON c.doc_id = a.doc_id AND c.p = a.p + 2
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
    SELECT s.doc_id, count(*)::BIGINT AS n_overlapping
    FROM sh s JOIN ev USING (shingle)
    WHERE s.doc_id % 50 <> 0
    GROUP BY s.doc_id
"""


MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing stratified sample: keep each doc iff its md5-derived
    bucket < rate(source)·10000 — deterministic and engine-replayable
    (the oracle recomputes identical buckets), unlisted sources drop.
    Output (doc_id, source)."""
    from dp_search_data_importer_spark.operators.textstats import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, MIX_RATES).select("doc_id", "source")


def _stratified_sample_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{k}' THEN {int(round(r * 10000))}"
        for k, r in MIX_RATES.items())
    return f"""
    WITH b AS (
      SELECT doc_id, source,
             ('0x' || substr(md5('mix1:' || doc_id::VARCHAR), 1, 8))::UBIGINT
               % 10000 AS bucket,
             (CASE {cases} ELSE 0 END) AS rate
      FROM documents
    )
    SELECT doc_id, source FROM b WHERE bucket < rate
"""


def q_nested_dimension_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` query twin over an array-of-struct column — the
    reference's documents carry exactly this shape (``dimensions``
    array<struct>, ``models/elastic.go``/``schema/schema.go:41-51``): a
    doc matches when SOME array element satisfies a compound predicate on
    the element's own fields (NOT a cross-element AND — the defining
    nested-query semantics). Both engines synthesize the same
    deterministic dimensions array from doc_id; output is the matching
    docs with their per-doc matching-element count. Pure Catalyst
    higher-order functions (filter/size) — no explode, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    mk = lambda noff, loff: F.struct(
        F.concat(F.lit("dim"), F.pmod(F.col("doc_id") + noff, F.lit(5))
                 .cast("string")).alias("name"),
        F.concat(F.lit("l"), F.pmod(F.col("doc_id") + loff, F.lit(7))
                 .cast("string")).alias("label"),
    )
    dims = F.array(mk(0, 0), mk(1, 3))
    matching = F.size(F.filter(
        dims, lambda x: (x["name"] == F.lit("dim2"))
        & (x["label"] == F.lit("l4"))))
    return (docs.select("doc_id", matching.cast("long").alias("n_matching"))
            .filter(F.col("n_matching") > 0))


_NESTED_SQL = """
    WITH d AS (
      SELECT doc_id,
             [{'name': 'dim' || ((doc_id % 5))::VARCHAR,
               'label': 'l' || ((doc_id % 7))::VARCHAR},
              {'name': 'dim' || (((doc_id + 1) % 5))::VARCHAR,
               'label': 'l' || (((doc_id + 3) % 7))::VARCHAR}] AS dims
      FROM documents
    )
    SELECT doc_id,
           len(list_filter(dims,
               x -> x.name = 'dim2' AND x.label = 'l4'))::BIGINT AS n_matching
    FROM d
    WHERE len(list_filter(dims, x -> x.name = 'dim2' AND x.label = 'l4')) > 0
"""


BOOSTING_POS = ["hash", "join", "merge"]
BOOSTING_NEG = ["window", "sort"]
BOOSTING_NB = 0.3


def q_boosting_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``boosting`` query twin: positive clauses score normally;
    documents matching any negative clause are DEMOTED by
    ``negative_boost`` (×0.3) instead of excluded — the documented
    middle ground between should and must_not. One plan: the negative
    doc set is a broadcast flag joined onto the positive scores before
    rounding/ranking."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as postings_ops
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    tf = postings_ops.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    dfs = postings_ops.doc_freqs(tf)
    stats = postings_ops.corpus_stats_from_docs(docs)
    qt = local_df(spark, [(1, t) for t in BOOSTING_POS],
                  "query_id long, term string")
    scores = bm25_ops.bm25_scores(tf, qt, dfs, stats)
    neg = (tf.filter(F.col("term").isin(BOOSTING_NEG))
           .select("doc_id").distinct()
           .withColumn("neg", F.lit(1)))
    boosted = (
        scores.join(F.broadcast(neg), "doc_id", "left")
        .select("query_id", "doc_id",
                (F.col("score")
                 * F.when(F.col("neg").isNotNull(), F.lit(BOOSTING_NB))
                 .otherwise(F.lit(1.0))).alias("score"))
    )
    return bm25_ops.topk(boosted, 10)


_BOOSTING_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks
           WHERE term <> '' GROUP BY doc_id),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    qt2(query_id, term) AS (
      VALUES {', '.join(f"(1, '{t}')" for t in BOOSTING_POS)}
    ),
    neg AS (
      SELECT DISTINCT doc_id FROM tf
      WHERE term IN ({', '.join(f"'{t}'" for t in BOOSTING_NEG)})
    ),
    scored AS (
      SELECT qt2.query_id, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY qt2.query_id, tf.doc_id
    ),
    boosted AS (
      SELECT sc.query_id, sc.doc_id,
             sc.score * (CASE WHEN n.doc_id IS NOT NULL
                              THEN {BOOSTING_NB} ELSE 1.0 END) AS score
      FROM scored sc LEFT JOIN neg n ON n.doc_id = sc.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM boosted
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
"""


WC_PATTERNS = [(1, "wind*"), (2, "?ash"), (3, "s*m"), (4, "zzq*")]
WC_MAX_EXPANSIONS = 50


def q_wildcard_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES wildcard-query twin over the documents table: dictionary terms
    matching each *?-pattern (translated to an anchored regex shared
    verbatim with the oracle) join the OR set, capped at max_expansions
    by (df desc, term asc), standard BM25. Oracle: regexp join + the
    same window cap + scoring in SQL."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as postings_ops
    from dp_search_data_importer_spark.plans.query import wildcard_to_regex
    from dp_search_data_importer_spark.session import local_df
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = postings_ops.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    dfs = postings_ops.doc_freqs(tf)
    stats = postings_ops.corpus_stats_from_docs(docs)
    pats = local_df(
        spark, [(qid, wildcard_to_regex(p)) for qid, p in WC_PATTERNS],
        "query_id long, rx string")
    sel = dfs.join(F.broadcast(pats),
                   F.regexp_like(F.col("term"), F.col("rx")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("df").desc(), F.col("term").asc())
    qt = (sel.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= WC_MAX_EXPANSIONS)
          .select("query_id", "term").distinct())
    scores = bm25_ops.bm25_scores(tf, qt, dfs, stats)
    return bm25_ops.topk(scores, 10)


def _wildcard_search_sql() -> str:
    from dp_search_data_importer_spark.plans.query import wildcard_to_regex

    pat_vals = ", ".join(
        f"({qid}, '{wildcard_to_regex(p)}')" for qid, p in WC_PATTERNS)
    return f"""
    WITH pats(query_id, rx) AS (VALUES {pat_vals}),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks
           WHERE term <> '' GROUP BY doc_id),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    qt2 AS (
      SELECT DISTINCT query_id, term FROM (
        SELECT p.query_id, d.term,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY d.df DESC, d.term ASC) AS rn
        FROM dfs d JOIN pats p ON regexp_matches(d.term, p.rx)
      ) WHERE rn <= {WC_MAX_EXPANSIONS}
    ),
    scored AS (
      SELECT qt2.query_id, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY qt2.query_id, tf.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
    """


FS_QUERIES = [(1, "hash join"), (2, "window agg"), (3, "the")]


def q_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score / field_value_factor twin: relevance × a
    document-field factor — here ``1 + 0.1·log1p(n_chars)`` (modifier
    log1p, factor 0.1, boost_mode multiply: the documented ES shapes).
    The factor is a pure projection on the docs table broadcast-joined
    onto the candidate scores BEFORE ranking; rounding-then-rank keeps it
    deterministic. Oracle: same algebra in SQL."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as postings_ops
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    tf = postings_ops.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    qdf = local_df(spark, FS_QUERIES, "query_id long, query_text string")
    qt = bm25_ops.query_terms(qdf)
    scores = bm25_ops.bm25_scores(tf, qt, postings_ops.doc_freqs(tf),
                                  postings_ops.corpus_stats_from_docs(docs))
    factor = docs.select(
        "doc_id",
        (F.lit(1.0) + F.lit(0.1)
         * F.log1p(F.col("n_chars").cast("double"))).alias("factor"))
    boosted = (scores.join(factor, "doc_id")
               .select("query_id", "doc_id",
                       (F.col("score") * F.col("factor")).alias("score")))
    return bm25_ops.topk(boosted, 10)


_FUNCTION_SCORE_SQL = f"""
    WITH q(query_id, query_text) AS (
      VALUES {', '.join(f"({qid}, '{qt}')" for qid, qt in FS_QUERIES)}
    ),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
      FROM q
    ),
    qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks
           WHERE term <> '' GROUP BY doc_id),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    scored AS (
      SELECT qt2.query_id, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY qt2.query_id, tf.doc_id
    ),
    boosted AS (
      SELECT sc.query_id, sc.doc_id,
             sc.score * (1.0 + 0.1 * ln(1.0 + d.n_chars::DOUBLE)) AS score
      FROM scored sc JOIN documents d ON d.doc_id = sc.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM boosted
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
"""


SUGGEST_PREFIXES = [(1, "ha"), (2, "s"), (3, "c"), (4, "b"), (5, "zz")]


def q_completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion/term-suggester twin: per prefix, the dictionary
    terms completing it ranked by popularity (df desc, term asc), top 5 —
    the dataflow form of `plans/query.py::expand_terms` (whose stored
    form reads the prefix's term range of term_df on the driver).
    Oracle: LIKE-prefix join + the same window."""
    from dp_search_data_importer_spark.operators.postings import (
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.session import local_df
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    dfs = doc_freqs(term_freqs_sql(docs, id_col="doc_id", text_col="text"))
    prefixes = local_df(spark, SUGGEST_PREFIXES,
                        "query_id long, prefix string")
    j = dfs.join(F.broadcast(prefixes),
                 F.col("term").startswith(F.col("prefix")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("df").desc(), F.col("term").asc())
    return (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("query_id", "term", "df"))


_SUGGEST_SQL = f"""
    WITH p(query_id, prefix) AS (
      VALUES {', '.join(f"({qid}, '{px}')" for qid, px in SUGGEST_PREFIXES)}
    ),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    j AS (
      SELECT p.query_id, d.term, d.df
      FROM dfs d JOIN p ON d.term LIKE p.prefix || '%'
    )
    SELECT query_id, term, df FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY df DESC, term ASC) AS rn
      FROM j
    ) WHERE rn <= 5
"""


MLT_DOC = 7
MLT_TERMS = 10


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES more_like_this twin: the liked doc's top-10 tf·idf terms
    (rounded weight, term tie-break — deterministic selection) run as an
    OR BM25 query, liked doc excluded. Oracle replays selection + scoring
    in SQL."""
    from dp_search_data_importer_spark.operators.bm25 import (
        more_like_this_topk,
    )
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    tf = term_freqs_sql(docs, id_col="doc_id", text_col="text")
    return more_like_this_topk(tf, doc_freqs(tf),
                               corpus_stats_from_docs(docs), MLT_DOC,
                               k=10, max_query_terms=MLT_TERMS)


_MLT_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks
           WHERE term <> '' GROUP BY doc_id),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    sel AS (
      SELECT term FROM (
        SELECT tf.term,
               round(ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
                     * tf.tf, 4) AS w
        FROM tf JOIN dfs USING (term) CROSS JOIN stats s
        WHERE tf.doc_id = {MLT_DOC}
      ) QUALIFY row_number() OVER (ORDER BY w DESC, term ASC) <= {MLT_TERMS}
    ),
    qt2 AS (SELECT 1::BIGINT AS query_id, term FROM sel),
    scored AS (
      SELECT qt2.query_id, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      WHERE tf.doc_id <> {MLT_DOC}
      GROUP BY qt2.query_id, tf.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
"""


def q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_terms aggregation twin (JLH): terms over-represented
    in the foreground set (doc_id % 7 == 0) vs the corpus. Oracle: the
    same fg/bg rate algebra in SQL."""
    from dp_search_data_importer_spark.operators.bm25 import (
        significant_terms,
    )
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    tf = term_freqs_sql(docs, id_col="doc_id", text_col="text")
    fg = docs.filter(F.col("doc_id") % 7 == 0)
    return significant_terms(tf, fg, doc_freqs(tf),
                             corpus_stats_from_docs(docs),
                             min_fg_df=3, top_n=20)


_SIGTERMS_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    fg AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
    fgtot AS (SELECT count(*)::BIGINT AS n FROM fg),
    fgt AS (
      SELECT term, count(*)::BIGINT AS fg_df
      FROM tf JOIN fg USING (doc_id)
      GROUP BY term HAVING count(*) >= 3
    ),
    j AS (
      SELECT fgt.term, fgt.fg_df, dfs.df AS bg_df,
             round(
               (fgt.fg_df::DOUBLE / t.n - dfs.df::DOUBLE / s.n_docs)
               * ((fgt.fg_df::DOUBLE / t.n) / (dfs.df::DOUBLE / s.n_docs)),
             4) AS jlh
      FROM fgt JOIN dfs USING (term) CROSS JOIN stats s CROSS JOIN fgtot t
    )
    SELECT term, fg_df, bg_df, jlh FROM (
      SELECT *, row_number() OVER (ORDER BY jlh DESC, term ASC) AS rn FROM j
    ) WHERE rn <= 20
"""


SYN_QUERIES = [(1, "hash join"), (2, "window"), (3, "stream")]
SYNONYMS = {"join": ["merge"], "window": ["frame", "pane"],
            "stream": ["batch"]}


def _syn_qt_rows() -> list[tuple[int, str]]:
    """(query_id, term) after analyzer + synonym expansion — the SAME
    literal dictionary drives both engines (the oracle injects these rows
    as VALUES)."""
    from dp_search_data_importer_spark.functions.tokenize import (
        _simple_tokens_py,
    )
    from dp_search_data_importer_spark.plans.query import expand_synonyms

    return sorted({
        (qid, t)
        for qid, text in SYN_QUERIES
        for t in expand_synonyms(_simple_tokens_py(text), SYNONYMS)
    })


def q_synonym_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES query-time synonym filter twin: each analyzed query token
    expands to itself + dictionary synonyms, scored as a standard OR set
    (each synonym with its own df)."""
    from dp_search_data_importer_spark.operators.bm25 import (
        bm25_scores,
        topk,
    )
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
        doc_freqs,
        term_freqs_sql,
    )
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    tf = term_freqs_sql(docs, id_col="doc_id", text_col="text")
    qt = local_df(spark, _syn_qt_rows(), "query_id long, term string")
    scores = bm25_scores(tf, qt, doc_freqs(tf),
                         corpus_stats_from_docs(docs))
    return topk(scores, 10)


def _synonym_search_sql() -> str:
    qt_vals = ", ".join(f"({qid}, '{t}')" for qid, t in _syn_qt_rows())
    return f"""
    WITH qt2(query_id, term) AS (VALUES {qt_vals}),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks
           WHERE term <> '' GROUP BY doc_id),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    scored AS (
      SELECT qt2.query_id, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY qt2.query_id, tf.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
    """


def _mm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 80).alias("title"))


def _mm_qdf(spark: SparkSession) -> DataFrame:
    from dp_search_data_importer_spark.session import local_df

    return local_df(spark, MM_QUERIES, "query_id long, query_text string")


def q_multi_match_best_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match best_fields (DisMax): per-field independent BM25,
    score = best field + tie_breaker·(others). Oracle: max + tb·(sum−max)
    over the same per-field scored CTEs as most_fields."""
    from dp_search_data_importer_spark.operators.bm25 import multi_match_topk

    return multi_match_topk(_mm_docs(spark, sf_dir),
                            {"text": 1.0, "title": 2.0}, _mm_qdf(spark),
                            k=10, mode="best_fields", tie_breaker=0.3)


def q_multi_match_cross_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match cross_fields / combined_fields (BM25F-style blend):
    tf and dl blend across fields with boosts, df counts any-field
    occurrence, one BM25 over the blended statistics. Oracle replays the
    weighted union + blended-dl chain in SQL (all blended values stay
    integral doubles, so float sums are order-exact)."""
    from dp_search_data_importer_spark.operators.bm25 import multi_match_topk

    return multi_match_topk(_mm_docs(spark, sf_dir),
                            {"text": 1.0, "title": 2.0}, _mm_qdf(spark),
                            k=10, mode="cross_fields")


HL_TERMS = ["hash", "window", "batch", "zzznope"]


def q_search_highlights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES highlight twin: first-occurrence position + ±5-token snippet per
    (doc, query term) — array_position/slice/concat_ws, one projection.
    Oracle: list_position + list slicing over the same analyzed tokens."""
    from dp_search_data_importer_spark.operators.phrase import term_snippets

    return term_snippets(load_table(spark, sf_dir, "documents"), HL_TERMS,
                         window=5)


def q_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused curation pass: language gate + quality bands + PII +
    repetition screen in ONE projection; keep/reasons per doc. Oracle
    composes the individual signal oracles (lang/quality/pii/dup-line)
    and reproduces the same rule thresholds."""
    return ts.curation_verdicts(load_table(spark, sf_dir, "documents"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.token_counts(load_table(spark, sf_dir, "documents"))


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.quality_scores(load_table(spark, sf_dir, "documents"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII screens over documents with deterministic injected PII (the
    corpus itself is clean, so the query plants one email/IP/phone per
    doc in BOTH engines — non-trivial counts, hash-comparable)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id"), F.lit("@example.com"),
            F.lit(" host 10.0."), F.pmod(F.col("doc_id"), F.lit(256)),
            F.lit(".7 tel +1 415 555 01"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"),
                   2, "0"),
        ).alias("text"),
    )
    return ts.pii_stats(docs)


def q_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal: documents wrapped in deterministic markup
    (tags + a script element + entities), cleaned back to prose."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><body><p class=\"x\">"), F.col("text"),
            F.lit("</p><script>var x = 1 &amp;&amp; 2;</script>"
                  "<div>tail &lt;ok&gt;</div></body></html>"),
        ).alias("text"),
    )
    return ts.strip_html(docs)


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts.doc_fingerprints(load_table(spark, sf_dir, "documents"))


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked: the md5-derived k-gram hashes reproduce exactly in
    DuckDB via hex-string casts; sliding-window min via a window frame."""
    return ts.winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# similarity search

def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0).select("embedding").collect()
    )
    return [float(x) for x in row[0]["embedding"]]


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, _query_vec(spark, sf_dir), k=20)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked: the seeded hyperplane literals are injected into the
    SQL twin, which probes hamming(bucket, query_bucket) ≤ 2 — exactly the
    multiprobe-2 flip set."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = sim.hyperplanes(64, ANN_PLANES, seed=42)
    idx = sim.lsh_index(emb, planes)
    return sim.ann_topk(idx, _query_vec(spark, sf_dir), planes, k=20, multiprobe=2)


IVF_CELLS = 8
IVF_NPROBE = 3
PQ_M = 16
PQ_KS = 8


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN as pure dataflow (no stored index): deterministic k-means
    (seeded, id-ordered sample) → vectorized cell assignment → probe the 3
    nearest cells → exact cosine re-rank. The oracle replays the SAME
    centroids (deterministic training, injected as literals) and the SAME
    expanded-distance argmin in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.train_ivf_centroids(emb, n_cells=IVF_CELLS, iters=8, seed=42)
    probes = sim.ivf_probes(cents, _query_vec(spark, sf_dir), IVF_NPROBE)
    assigned = sim.ivf_assign(emb, cents)
    cand = assigned.filter(F.col("cell").isin(probes))
    q = F.array(*[F.lit(float(x)) for x in _query_vec(spark, sf_dir)])
    return (
        cand.select(
            "vec_id",
            F.round(sim.cosine_expr(F.col("embedding"), q), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(20)
    )


def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) as pure dataflow:
    deterministic per-subspace k-means codebooks → Arrow argmin encoding
    (16 one-byte codes per 64-dim vector) → Catalyst ADC scan (Σ_m
    table[m][code_m] over literal query-distance tables) → top-20 by
    ascending approximate L2. The oracle replays codebook training
    bit-identically and expresses encode+ADC in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = sim.train_pq_codebooks(emb, m=PQ_M, ks=PQ_KS, iters=8, seed=42)
    codes = sim.pq_encode(emb, cb)
    return sim.pq_topk(codes, cb, _query_vec(spark, sf_dir), k=20)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked (plane literals injected into SQL); exact dups
    injected (vec_id + 10000) so pairs exist."""
    emb = load_table(spark, sf_dir, "embeddings")
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") % 4 == 0).select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding",
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        ).select(*emb.columns)
    )
    planes = sim.hyperplanes(64, 8, seed=7)
    return sim.embedding_near_dup_pairs(aug, planes, threshold=0.99)


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed-rollup operator, batch twin (same expression runs
    under readStream + watermark — tests/test_streaming.py)."""
    from dp_search_data_importer_spark.streaming.ingest_stream import (
        windowed_event_counts,
    )

    return windowed_event_counts(load_table(spark, sf_dir, "events"),
                                 window_dur="1 hour")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing; oracle-checked — the deterministic payload
    generation AND the fake-feature kernel replay exactly in SQL
    (sha256/md5 over hex strings)."""
    from dp_search_data_importer_spark.operators.multimodal import (
        decode_features,
        synthetic_media,
    )

    return decode_features(synthetic_media(spark, n=120)).select(
        "media_id", "kind", F.round(F.element_at("features", 1), 6).alias("f0")
    )


def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan; oracle-checked (generate_series twin)."""
    from dp_search_data_importer_spark.operators.multimodal import (
        frame_sample_plan,
        synthetic_media,
    )

    return frame_sample_plan(synthetic_media(spark, n=120), every_ms=1000)


def q_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving image resize plan; oracle-checked (meta replayed
    in SQL — payload never read)."""
    from dp_search_data_importer_spark.operators.multimodal import (
        resize_plan,
        synthetic_media,
    )

    return resize_plan(synthetic_media(spark, n=120))


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative-sum
    session ids — the batch twin of a session_window streaming agg."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_sid = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1)
                      .otherwise(0))
        .withColumn("session_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    )
    return with_sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long").alias("session_seconds"),
    )


PHRASES = [(1, "hash join"), (2, "window agg sort"), (3, "the zzznope")]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase twin over the documents table: ALL phrases evaluate
    in ONE plan (broadcast slot join + Catalyst array-intersect fold, exact
    per-phrase df as a window count — no per-phrase driver loop or eager
    action). Oracle: adjacency self-joins + the same formula in SQL."""
    from dp_search_data_importer_spark.operators import phrase as ph
    from dp_search_data_importer_spark.operators.bm25 import topk
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
    )

    docs = load_table(spark, sf_dir, "documents")
    qtoks = [(qid, phrase_text.split()) for qid, phrase_text in PHRASES]
    # positions built for the phrase vocabulary only (filter below the
    # collect_list agg — guide §2.3); dl stays the full doc length
    pos = ph.doc_positions(
        docs, code_aware=False,
        terms=sorted({t for _, toks in qtoks for t in toks}))
    m = ph.phrase_matches_batch(pos, qtoks)
    # stats as a broadcast 1-row frame: one Spark job, no eager collect
    scored = ph.phrase_score_batch(m, stats=corpus_stats_from_docs(docs))
    return topk(scored, 10)


SLOP_PHRASES = [(1, "hash merge", 1), (2, "window sort", 2),
                (3, "hash join", 0), (4, "the zzznope", 3)]


def q_phrase_search_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase with ``slop``: ordered sloppy matching (increasing
    position chain, span ≤ n−1+slop; tf = valid chain starts) — all
    phrases in ONE plan via the (start, cur) state fold. Oracle: the
    chain condition is a range join per token in SQL, starts counted
    DISTINCT."""
    from dp_search_data_importer_spark.operators import phrase as ph
    from dp_search_data_importer_spark.operators.bm25 import topk
    from dp_search_data_importer_spark.operators.postings import (
        corpus_stats_from_docs,
    )

    docs = load_table(spark, sf_dir, "documents")
    qtoks = [(qid, text.split(), slop) for qid, text, slop in SLOP_PHRASES]
    # positions built for the phrase vocabulary only (guide §2.3)
    pos = ph.doc_positions(
        docs, code_aware=False,
        terms=sorted({t for _, toks, _ in qtoks for t in toks}))
    m = ph.phrase_matches_batch_slop(pos, qtoks)
    # stats as a broadcast 1-row frame: one Spark job, no eager collect
    scored = ph.phrase_score_batch(m, stats=corpus_stats_from_docs(docs))
    return topk(scored, 10)


def _phrase_search_slop_sql() -> str:
    """Slop oracle: chain existence per start via range joins
    (t_i.p > t_{i-1}.p AND t_i.p ≤ t_0.p + span), tf = DISTINCT starts —
    the set a greedy earliest-next fold finds iff any chain exists."""
    ctes = []
    selects = []
    for qid, text, slop in SLOP_PHRASES:
        toks = text.split()
        span = len(toks) - 1 + slop
        joins = " ".join(
            f"JOIN tok2 t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.term = '{t}' AND t{i}.p > t{i - 1}.p "
            f"AND t{i}.p <= t0.p + {span}"
            for i, t in enumerate(toks[1:], start=1))
        ctes.append(
            f"m{qid} AS (SELECT t0.doc_id, count(DISTINCT t0.p)::BIGINT AS tf "
            f"FROM tok2 t0 {joins} WHERE t0.term = '{toks[0]}' "
            f"GROUP BY t0.doc_id)")
        ctes.append(f"d{qid} AS (SELECT count(*)::BIGINT AS df FROM m{qid})")
        selects.append(f"""
          SELECT {qid} AS query_id, m.doc_id,
                 ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * m.tf * (1.2 + 1.0)
                 / (m.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl)) AS score
          FROM m{qid} m CROSS JOIN d{qid} d CROSS JOIN stats s
          JOIN dldocs dl ON dl.doc_id = m.doc_id""")
    body = " UNION ALL ".join(selects)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents
    ),
    tok2 AS (
      SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM toks WHERE term <> ''
    ),
    dldocs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dldocs),
    {', '.join(ctes)},
    scored AS ({body}),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
    """


def q_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-semantics BM25 top-k: only docs containing EVERY query term
    (ES bool/must twin). Same scorer, plus a per-doc matched-term count
    filter before ranking."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as postings_ops
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    qlist = [(1, "hash join merge"), (2, "window agg"), (3, "the zzznope")]
    # tf restricted to the query vocabulary via the tested analyzer twin
    # (filter below the agg — guide §2.3)
    from dp_search_data_importer_spark.functions.tokenize import (
        _simple_tokens_py,
    )

    vocab = sorted({t for _, q in qlist for t in _simple_tokens_py(q)})
    tf = postings_ops.term_freqs_sql(docs, id_col="doc_id",
                                     text_col="text", terms=vocab)
    queries = local_df(
        spark,
        qlist,
        "query_id long, query_text string",
    )
    qt = bm25_ops.query_terms(queries)
    n_terms = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("nt"))
    stats = postings_ops.corpus_stats_from_docs(docs)
    # dfs=None: df in-plan over the pruned tf (see bm25_scores)
    scores = bm25_ops.bm25_scores(tf, qt, None, stats)
    matched = (
        tf.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("nm"))
        .join(F.broadcast(n_terms), "query_id")
        .filter(F.col("nm") == F.col("nt"))
        .select("query_id", "doc_id")
    )
    return bm25_ops.topk(scores.join(matched, ["query_id", "doc_id"]), 10)


# ES bool compound queries (must + should/minimum_should_match + must_not):
# the composed form nearly every real ES consumer sends. BoolSpec resolves
# ES's msm default (1 with no must, else 0); both engines derive from the
# SAME spec objects.
def _bool_specs():
    from dp_search_data_importer_spark.operators.bm25 import BoolSpec

    return [
        BoolSpec(1, must=["hash"], should=["join", "merge"]),
        BoolSpec(2, should=["window", "agg", "sort"],
                 minimum_should_match=2),
        BoolSpec(3, must=["scan"], must_not=["window"]),
        BoolSpec(4, must=["the"], should=["zzznope"]),
        BoolSpec(5, should=["stream", "batch"], must_not=["merge"]),
    ]


def q_bool_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool-query twin over the documents table: one broadcast clause
    join + ONE hash agg carrying score and per-role matched-clause counts
    as conditional aggregates; HAVING-style gates apply must/msm/must_not.
    Oracle: the same per-clause matched sets + clause-count HAVING in
    SQL."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as postings_ops

    docs = load_table(spark, sf_dir, "documents")
    specs = _bool_specs()
    # tf restricted to the clause vocabulary, filter below the agg (§2.3)
    vocab = sorted({t for s in specs
                    for t in (*s.must, *s.should, *s.must_not)})
    tf = postings_ops.term_freqs_sql(docs, id_col="doc_id",
                                     text_col="text", terms=vocab)
    stats = postings_ops.corpus_stats_from_docs(docs)
    # dfs=None: df in-plan over the pruned tf (see bm25_scores)
    return bm25_ops.bool_topk(tf, specs, None, stats, k=10)


def _bool_search_sql() -> str:
    specs = _bool_specs()
    clause_vals = ", ".join(
        f"({s.query_id}, '{t}', '{role}')"
        for s in specs
        for role, terms in (("must", s.must), ("should", s.should),
                            ("not", s.must_not))
        for t in terms
    )
    tot_vals = ", ".join(
        f"({s.query_id}, {len(set(s.must))}, {s.minimum_should_match})"
        for s in specs
    )
    return f"""
    WITH clauses(query_id, term, role) AS (VALUES {clause_vals}),
    tot(query_id, n_must, msm) AS (VALUES {tot_vals}),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks
           WHERE term <> '' GROUP BY doc_id),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    j AS (
      SELECT c.query_id, t.doc_id, c.role, c.term, t.tf, dl.dl, d.df
      FROM clauses c
      JOIN dfs d USING (term)
      JOIN tf t USING (term)
      JOIN dl ON t.doc_id = dl.doc_id
    ),
    agg AS (
      SELECT j.query_id, j.doc_id,
             sum(CASE WHEN j.role <> 'not' THEN
                   ln(1.0 + (s.n_docs - j.df + 0.5) / (j.df + 0.5))
                   * j.tf * (1.2 + 1.0)
                   / (j.tf + 1.2 * ((1.0 - 0.75) + 0.75 * j.dl / s.avgdl))
                 ELSE 0.0::DOUBLE END) AS score,
             count(DISTINCT CASE WHEN j.role = 'must' THEN j.term END) AS nm,
             count(DISTINCT CASE WHEN j.role = 'should' THEN j.term END) AS ns,
             max(CASE WHEN j.role = 'not' THEN 1 ELSE 0 END) AS has_not
      FROM j CROSS JOIN stats s
      GROUP BY j.query_id, j.doc_id
    ),
    keep AS (
      SELECT a.query_id, a.doc_id, a.score
      FROM agg a JOIN tot USING (query_id)
      WHERE a.nm = tot.n_must AND a.ns >= tot.msm AND a.has_not = 0
    ),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM keep
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
    """


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup twin: maximal duplicated token spans
    (8-gram shingles in ≥2 docs) over the augmented corpus, whose
    truncated/exact copies guarantee non-trivial spans. Oracle replays
    the positional shingles, the distinct-doc gate, and the lag-window
    island merge in SQL (raw shingle strings where Spark buckets by
    xxhash64 — same groups, collision-free at test scale)."""
    return dd.duplicate_spans(_augmented_docs(spark, sf_dir), n=8)


SRT_QUERIES = [(1, "hash join merge"), (2, "window agg"), (3, "the")]


def _match_hits_df(spark: SparkSession, sf_dir: str, queries):
    """Hit set of an ES ``match`` (OR) query over the documents table:
    distinct (query_id, doc_id) containing ≥1 query term."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as po
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    tf = po.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    qdf = local_df(spark, queries, "query_id long, query_text string")
    qt = bm25_ops.query_terms(qdf)
    hits = (tf.join(F.broadcast(qt), "term")
            .select("query_id", "doc_id").distinct())
    return docs, hits


def q_sorted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sort-by-field twin: the match hit set ordered by a metadata
    field (n_chars desc — the release_date shape from
    ``/root/reference/models/elastic.go:13-14``) with doc_id tie-break,
    top-10 per query. Ranking is the salted two-phase window."""
    from dp_search_data_importer_spark.operators.bm25 import sort_topk

    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    meta = docs.select("doc_id", "n_chars")
    return sort_topk(hits.join(meta, "doc_id"), "n_chars", 10,
                     ascending=False)


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES query-scoped ``terms`` aggregation twin (faceted search):
    lang + source bucket counts over each query's FULL hit set, top-5
    buckets per (query, facet) by (doc_count desc, key asc) — the ES
    terms-agg default order."""
    from dp_search_data_importer_spark.operators.bm25 import facet_terms

    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    meta = docs.select("doc_id", "lang", "source")
    return facet_terms(hits, meta, ["lang", "source"], top_n=5)


def q_facet_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_histogram`` aggregation scoped to a query (bool filter:
    term + range), calendar-day buckets with doc_count and a sum metric
    — unlike the global events_hourly rollup, the histogram runs over a
    query's hit set only. Sum goes through DECIMAL so partial-agg order
    can't change the answer."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "click") & (F.col("value") >= 10.0))
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
             F.sum(F.col("value").cast("decimal(18,6)"))
             .cast("double").alias("sum_value"))
    )


def q_histogram_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``histogram`` aggregation over each query's hit set: fixed
    numeric interval buckets of n_chars (interval 200, ES default
    min_doc_count=1 semantics — empty buckets omitted)."""
    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    j = hits.join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        j.groupBy("query_id",
                  (F.floor(F.col("n_chars") / 200) * 200)
                  .cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"))
    )


def q_facet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``stats`` aggregation over each query's hit set: count, min,
    max, sum, avg of a numeric field (n_chars). Sum/avg go through exact
    integer arithmetic (BIGINT sum, avg = sum/count rounded) so
    partial-agg order can't change the answer."""
    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    j = hits.join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        j.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
             F.min("n_chars").cast("long").alias("min_chars"),
             F.max("n_chars").cast("long").alias("max_chars"),
             F.sum("n_chars").cast("long").alias("sum_chars"))
        .withColumn("avg_chars",
                    F.round(F.col("sum_chars") / F.col("doc_count"), 4))
    )


def q_range_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool filter-context twin as an oracle-checked contract query:
    BM25-ranked match hits gated by a metadata RANGE predicate
    (n_chars between 300 and 1500) that never contributes to the score —
    scoring statistics stay GLOBAL (corpus-wide df/avgdl), exactly ES
    filter semantics. The dataflow form of plans/query.filtered_topk."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import postings as po
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    tf = po.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    qdf = local_df(spark, SRT_QUERIES, "query_id long, query_text string")
    qt = bm25_ops.query_terms(qdf)
    scores = bm25_ops.bm25_scores(tf, qt, po.doc_freqs(tf),
                                  po.corpus_stats_from_docs(docs))
    allowed = docs.filter((F.col("n_chars") >= 300)
                          & (F.col("n_chars") <= 1500)).select("doc_id")
    return bm25_ops.topk(scores.join(F.broadcast(allowed), "doc_id",
                                     "left_semi"), 10)


RANGE_BUCKETS = [(None, 300.0), (300.0, 1000.0), (1000.0, 3000.0),
                 (3000.0, None)]
PCT_LIST = [25.0, 50.0, 75.0, 95.0]


def q_facet_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``range`` aggregation twin over each query's hit set: explicit
    [from, to) n_chars buckets, empty buckets emitted (ES range-agg
    contract, unlike histogram)."""
    from dp_search_data_importer_spark.operators import aggs

    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    return aggs.range_agg(hits, docs.select("doc_id", "n_chars"),
                          "n_chars", RANGE_BUCKETS)


def q_facet_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percentiles`` aggregation twin: exact linear-interpolation
    percentiles of n_chars per query hit set (the definition ES's
    t-digest approximates; swap for percentile_approx at 100 TB)."""
    from dp_search_data_importer_spark.operators import aggs

    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    return aggs.percentiles_agg(hits, docs.select("doc_id", "n_chars"),
                                "n_chars", PCT_LIST)


def q_facet_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``cardinality`` aggregation twin: exact distinct counts of
    lang/source per query hit set; the approx=True path is Spark's
    HLL++ — the literal ES algorithm — kept for the 100 TB shape and
    tested with tolerance in pytest."""
    from dp_search_data_importer_spark.operators import aggs

    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    return aggs.cardinality_agg(hits, docs.select("doc_id", "lang", "source"),
                                ["lang", "source"])


def q_facet_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``extended_stats`` twin: count/min/max/sum/sum_of_squares/avg/
    population variance/std-dev of n_chars per query hit set, derived
    from exact BIGINT sums so partial-agg order cannot flip bits."""
    from dp_search_data_importer_spark.operators import aggs

    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    return aggs.extended_stats_agg(hits, docs.select("doc_id", "n_chars"),
                                   "n_chars")


def q_facet_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms`` + ``top_hits`` sub-aggregation twin: per (query,
    lang) bucket the top-2 docs by n_chars desc (doc_id asc tie-break)
    — the "best result per category" shape."""
    from dp_search_data_importer_spark.operators import aggs

    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    return aggs.top_hits_agg(hits, docs.select("doc_id", "lang", "n_chars"),
                             "lang", "n_chars", hits_per_bucket=2)


def q_composite_agg_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``composite`` aggregation pagination twin: page 2 (size 5) of
    the (lang, source) bucket stream per query, resumed from page 1's
    ``after_key`` — the cursor is a pushed strict-greater predicate on
    the key tuple, so page 2 aggregates only buckets past it (oracle:
    ranks 6..10 of the same total bucket order)."""
    from dp_search_data_importer_spark.operators import aggs

    docs, hits = _match_hits_df(spark, sf_dir, SRT_QUERIES)
    meta = docs.select("doc_id", "lang", "source")
    keys = ["lang", "source"]
    page1 = aggs.composite_page(hits, meta, keys, 5).collect()
    after = aggs.composite_after_key(page1, keys)
    return aggs.composite_page(hits, meta, keys, 5, after=after)


DMX_QUERIES = [(1, "hash join"), (2, "window agg"), (3, "merge sort")]


def _dmx_branches(spark: SparkSession, sf_dir: str):
    """(match-scores, phrase-scores) branch frames for the dis_max /
    rescore twins: branch 1 is the plain BM25 OR-match, branch 2 the
    exact-phrase score of the same text."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import phrase as ph
    from dp_search_data_importer_spark.operators import postings as po
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    tf = po.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    qdf = local_df(spark, DMX_QUERIES, "query_id long, query_text string")
    qt = bm25_ops.query_terms(qdf)
    stats = po.corpus_stats_from_docs(docs)
    match_scores = bm25_ops.bm25_scores(tf, qt, po.doc_freqs(tf), stats)
    srow = stats.collect()[0]
    pos = ph.doc_positions(docs, code_aware=False)
    qtoks = [(qid, text.split()) for qid, text in DMX_QUERIES]
    m = ph.phrase_matches_batch(pos, qtoks)
    phrase_scores = ph.phrase_score_batch(m, srow["n_docs"], srow["avgdl"])
    return match_scores, phrase_scores


def q_dis_max_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``dis_max`` query twin over HETEROGENEOUS subqueries (the
    general form of best_fields): match(text) vs match_phrase(text)
    branches, tie_breaker=0.3, top-10. Oracle replays both scorers and
    the max + tb·(sum−max) combination in SQL."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops

    match_scores, phrase_scores = _dmx_branches(spark, sf_dir)
    combined = bm25_ops.dis_max_scores([match_scores, phrase_scores],
                                       tie_breaker=0.3)
    return bm25_ops.topk(combined, 10)


def q_rescore_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rescore`` twin: BM25 match top-50 window per query, re-ranked
    by query_weight·bm25 + rescore_weight·phrase (the canonical ES
    phrase-boost rescorer), top-10 of the combined order. Docs in the
    window the phrase misses keep qw·bm25 (left join) — exact ES
    ``total`` score mode."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops

    match_scores, phrase_scores = _dmx_branches(spark, sf_dir)
    return bm25_ops.rescore_topk(match_scores, phrase_scores,
                                 window_size=50, k=10,
                                 query_weight=1.0, rescore_weight=2.0)


PFX_PHRASES: list[tuple[int, list[str], str]] = [
    (1, ["hash"], "jo"), (2, ["window"], "s"), (3, ["big"], "ta")]


def q_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match_phrase_prefix`` twin: the last term is a PREFIX,
    expanded against the term dictionary in lexicographic order capped
    at max_expansions=50 (the documented ES behavior), then matched as
    a MultiPhraseQuery — last-slot positions are the UNION over
    expansions. Scored like match_phrase (exact df over the matched
    set), top-10."""
    from dp_search_data_importer_spark.operators import bm25 as bm25_ops
    from dp_search_data_importer_spark.operators import phrase as ph
    from dp_search_data_importer_spark.operators import postings as po

    docs = load_table(spark, sf_dir, "documents")
    tf = po.term_freqs_sql(docs, id_col="doc_id", text_col="text")
    term_dict = tf.select("term").distinct()
    pos = ph.doc_positions(docs, code_aware=False)
    srow = po.corpus_stats_from_docs(docs).collect()[0]
    batch = [(qid, toks, ph.expand_prefix_terms(term_dict, prefix))
             for qid, toks, prefix in PFX_PHRASES]
    m = ph.phrase_prefix_matches_batch(pos, batch)
    scored = ph.phrase_score_batch(m, srow["n_docs"], srow["avgdl"])
    return bm25_ops.topk(scored, 10)


ES_DSL_BODY = {
    "query": {"bool": {
        "must": [{"match": {"text": "hash join"}}],
        "filter": [{"range": {"n_chars": {"gte": 300, "lte": 1500}}}],
    }},
    "size": 10,
}


def _dsl_planner(spark: SparkSession, sf_dir: str):
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    return EsSearchPlanner(spark, load_table(spark, sf_dir, "documents"))


def q_es_dsl_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An ES ``_search`` JSON body compiled end-to-end by
    ``plans/es_dsl`` — the request shape the reference forwards verbatim
    to ES (``/root/reference/handler/handler.go:95``): bool must-match
    scored with GLOBAL statistics, filter-context range gate that never
    touches the score, top-10 by rounded BM25 with doc_id tie-break.
    Oracle replays BM25 OR-sum + the range gate in SQL, so the driver's
    hash check covers the JSON planner path, not only the direct
    operator calls."""
    return _dsl_planner(spark, sf_dir).search(ES_DSL_BODY).hits \
        .select("doc_id", "score")


def q_es_dsl_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms`` aggregation requested through the ``_search`` JSON
    body (size:0 faceting): top-5 lang buckets over the match hit set,
    (doc_count desc, key asc) — the ES terms-agg default order."""
    body = {"query": {"match": {"text": "window agg"}}, "size": 0,
            "aggs": {"langs": {"terms": {"field": "lang", "size": 5}}}}
    return _dsl_planner(spark, sf_dir).search(body).aggregations["langs"]


def q_es_dsl_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``suggest`` section through the ``_search`` JSON body:
    completion suggester, prefix 's' → top-5 dictionary completions by
    (df desc, term asc). One distributed dictionary pass, TakeOrdered
    ranking."""
    body = {"suggest": {"c": {"prefix": "s",
                              "completion": {"field": "text",
                                             "size": 5}}}}
    return _dsl_planner(spark, sf_dir).search(body).suggestions["c"]


def q_es_dsl_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``highlight`` section through the ``_search`` JSON body:
    ±5-token snippets for the query's scoring terms over the top-10 hit
    set ONLY (semi-join — the ES execution shape re-analyzes returned
    docs, not the corpus)."""
    body = {"query": {"match": {"text": "hash join"}}, "size": 10,
            "highlight": {"fields": {"text": {}}}}
    res = _dsl_planner(spark, sf_dir).search(body)
    return res.highlights.select("doc_id", "term", "pos", "snippet")


def q_es_dsl_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sort-by-field through the ``_search`` JSON body: match hits
    ordered by a metadata field desc with doc_id tie-break, top-10 —
    compiles to TakeOrdered (``orderBy().limit()``), no windows."""
    body = {"query": {"match": {"text": "hash"}},
            "sort": [{"n_chars": {"order": "desc"}}], "size": 10}
    return _dsl_planner(spark, sf_dir).search(body).hits


QS_BODY = {"query": {"query_string": {
    "query": "(hash OR merge) AND join AND n_chars:[300 TO 1500] -scan"}},
    "size": 10}


def q_es_dsl_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-syntax ``query_string`` through the ``_search`` JSON body:
    parsed by ``plans/query_string`` into the planner's node tree — an
    OR-group must-bound with a term, a meta-field range (constant-score
    +1.0 in scoring context, the ES behavior), and a pinned ``-`` negation.
    Oracle replays the gates (either of hash/merge, join, the range, no
    scan) and the matched-clause BM25 sum + 1.0 in SQL."""
    return _dsl_planner(spark, sf_dir).search(QS_BODY).hits \
        .select("doc_id", "score")


SQS_BODY = {"query": {"simple_query_string": {"query": "hash + s*"}},
            "size": 10}


def q_es_dsl_simple_query_string(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """``simple_query_string`` through the ``_search`` JSON body: ``+`` is
    binary AND, trailing ``*`` a prefix query expanded against the term
    dictionary capped at max_expansions=50 by (df desc, term asc). Score =
    BM25(hash) + OR-sum over the matched expansions; oracle mirrors the
    LIKE-expansion window cap and the sum."""
    return _dsl_planner(spark, sf_dir).search(SQS_BODY).hits \
        .select("doc_id", "score")


DH_BODY = {"query": {"match": {"text": "dup"}}, "size": 0,
           "aggs": {"per_day": {
               "date_histogram": {"field": "release_date",
                                  "calendar_interval": "day"},
               "aggs": {"sum_chars": {"sum": {"field": "n_chars"}}}}}}


def q_es_dsl_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_histogram`` through the ``_search`` JSON body: calendar-
    day buckets over a rare query's hit set with a sum metric sub-agg in
    the SAME groupBy, and the ES ``min_doc_count: 0`` default — EMPTY
    buckets between the first and last populated day are filled
    (doc_count 0, sum 0) via one single-row bounds agg + ``sequence``
    explode, no driver collect. ``release_date`` is derived
    deterministically from doc_id (the reference's documents carry the
    field — ``models/elastic.go:13``; the synthetic table does not), and
    the oracle replays the same derivation + generate_series fill."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "release_date",
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("doc_id") % 365).cast("int")))
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    res = EsSearchPlanner(spark, docs).search(DH_BODY)
    return res.aggregations["per_day"]


FD_BODY = {"query": {"function_score": {
    "query": {"match": {"text": "hash join"}},
    "functions": [
        {"gauss": {"n_chars": {"origin": 800, "scale": 400}},
         "weight": 2.0},
        {"filter": {"term": {"lang": "en"}}, "weight": 3.0},
    ],
    "score_mode": "sum", "boost_mode": "multiply", "max_boost": 4.0}},
    "size": 30}


def q_es_dsl_function_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``function_score`` with a ``functions`` array through the JSON
    body: a gauss decay on n_chars (weight 2) plus a filter-gated
    constant weight (lang=en → 3), score_mode sum over APPLIED functions,
    max_boost cap, boost_mode multiply. Every function column evaluates
    in ONE projection over docs (no extra joins); the oracle replays the
    published ES decay equation exp(−dist²/2σ²), σ² = −scale²/(2·ln
    decay) in SQL."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    p = EsSearchPlanner(spark, load_table(spark, sf_dir, "documents"))
    return p.search(FD_BODY).hits


def q_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_analyze``-shaped positional token stream, distributed:
    (doc_id, position, token) from the Catalyst tokenizer via
    ``posexplode`` — zero Python, and exactly the coordinates the
    positional block codec stores for phrase matching
    (``EsSearchPlanner.analyze`` is the single-string endpoint twin of
    the same analyzer). Bounded to doc_id < 30 for the gate."""
    from dp_search_data_importer_spark.functions.tokenize import (
        tokenize_expr,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 30)
    return (docs.select("doc_id",
                        F.posexplode(tokenize_expr(F.col("text")))
                        .alias("position", "token"))
            .select("doc_id", F.col("position").cast("long")
                    .alias("position"), "token"))


def q_es_dsl_missing_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms`` aggregation null-key semantics through the JSON body:
    lang nulled for doc_id % 7 == 0, then (a) default terms drops null
    keys, (b) the ``missing`` param buckets them under a literal, and
    (c) a ``missing`` agg counts them — all three in one request over
    the match hit set. Returned as (agg, key, doc_count) union; the
    oracle replays the null derivation."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 0, None)
        .otherwise(F.col("lang")))
    res = EsSearchPlanner(spark, docs).search(
        {"query": {"match": {"text": "hash"}}, "size": 0,
         "aggs": {"drop": {"terms": {"field": "lang", "size": 100}},
                  "keep": {"terms": {"field": "lang", "size": 100,
                                     "missing": "unknown"}},
                  "nolang": {"missing": {"field": "lang"}}}})
    a = res.aggregations["drop"].select(
        F.lit("drop").alias("agg"), "key", "doc_count")
    b = res.aggregations["keep"].select(
        F.lit("keep").alias("agg"), "key", "doc_count")
    c = res.aggregations["nolang"].select(
        F.lit("missing").alias("agg"), F.lit("-").alias("key"),
        "doc_count")
    return a.unionByName(b).unionByName(c)


FLT_BODY = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"by": {"filters": {"filters": {
                "short": {"range": {"n_chars": {"lt": 500}}},
                "long": {"range": {"n_chars": {"gte": 1500}}},
                "en": {"term": {"lang": "en"}}}}}}}


def q_es_dsl_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``filters`` aggregation through the ``_search`` JSON body:
    three named filter buckets counted over the match hit set in ONE
    conditional-sum aggregation (map-side partials, no per-filter jobs),
    then a width-3 stack to (key, doc_count) rows."""
    res = _dsl_planner(spark, sf_dir).search(FLT_BODY)
    return res.aggregations["by"]


def q_es_dsl_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_count`` endpoint twin: hit-set cardinality of a bool query
    (must match + filter range) as one aggregate — the scoring plan
    without ranking."""
    body = {"query": {"bool": {
        "must": [{"match": {"text": "hash join"}}],
        "filter": [{"range": {"n_chars": {"gte": 300, "lte": 1500}}}]}}}
    return _dsl_planner(spark, sf_dir).count(body)


MS_BODIES = [
    {"query": {"match": {"text": "hash join"}}, "size": 10},
    {"query": {"match": {"text": "window agg"}}, "size": 5},
    {"query": {"match": {"text": "dup"}}, "size": 3},
]


def q_es_dsl_msearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_msearch`` endpoint twin: three match bodies with different
    sizes in ONE call — ``EsSearchPlanner.msearch`` batches them into a
    single shared scoring job (one tf/dfs/stats scan set, one scoring
    shuffle keyed by request slot, one batch top-k window) instead of
    three independent plans; per-slot sizes trim the bounded persisted
    result. Scores are identical to per-body ``search`` (global BM25
    statistics). Returned as the union (slot, doc_id, score); the oracle
    replays each slot's BM25 ranking and its own size cap."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    p = EsSearchPlanner(spark, load_table(spark, sf_dir, "documents"))
    out = None
    for slot, res in enumerate(p.msearch(MS_BODIES)):
        h = res.hits.select(F.lit(slot).cast("long").alias("slot"),
                            "doc_id", "score")
        out = h if out is None else out.unionByName(h)
    return out


TMF_BODY = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"langs": {
                "terms": {"field": "lang", "size": 3,
                          "order": {"avg_chars": "desc"}},
                "aggs": {"avg_chars": {"avg": {"field": "n_chars"}},
                         "total_chars": {"sum": {"field": "n_chars"}},
                         "nsrc": {"cardinality": {"field": "source"}}}}}}


def q_terms_metric_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms`` aggregation with metric sub-aggs (avg/sum/cardinality)
    computed in the SAME hash aggregation as the bucket counts, buckets
    ordered by a metric sub-agg (``order: {avg_chars: desc}``) — one
    doc-level shuffle over the hit set, TakeOrdered bucket ranking."""
    res = _dsl_planner(spark, sf_dir).search(TMF_BODY)
    return res.aggregations["langs"]


NTF_BODY = {"query": {"match": {"text": "hash join"}}, "size": 0,
            "aggs": {"langs": {"terms": {"field": "lang", "size": 100},
                               "aggs": {"srcs": {
                                   "terms": {"field": "source", "size": 2},
                                   "aggs": {"avg_chars": {
                                       "avg": {"field": "n_chars"}}}}}}}}


def q_nested_terms_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level ES ``terms`` nesting (terms → terms + metric): ONE
    doc-level groupBy(parent, child) produces the child buckets; parent
    doc_counts re-derive from child partials at bucket scale; children
    rank top-2 per parent by (count desc, key asc). Flattened
    (key, doc_count, sub_key, sub_count, avg_chars) rows."""
    res = _dsl_planner(spark, sf_dir).search(NTF_BODY)
    return res.aggregations["langs"]


SCR_BODY = {"query": {"script_score": {
    "query": {"match": {"text": "hash join"}},
    "script": {"source": "_score * saturation(doc['n_chars'].value, "
                         "params.k) + Math.log10(1 + "
                         "doc['n_chars'].value)",
               "params": {"k": 500}}}},
    "size": 25}


def q_es_dsl_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``script_score`` query through the ``_search`` JSON body: the
    match hits re-scored by a Painless-subset script (saturation of the
    doc's length plus a log term), compiled on the driver into ONE
    Catalyst projection (``plans/painless``) — zero Python at execution,
    the doc_id join carries only the field the script references. Oracle
    replays BM25 + the identical arithmetic in SQL."""
    return _dsl_planner(spark, sf_dir).search(SCR_BODY).hits \
        .select("doc_id", "score")


PIN_BODY = {"query": {"pinned": {
    "ids": [7, 3, 999_999_999],
    "organic": {"match": {"text": "hash join"}}}},
    "size": 15}


def q_es_dsl_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``pinned`` query twin: ids [7, 3] rank first in LIST order
    (scores 1e9 − index — deterministic stand-ins for ES's
    above-any-float constants), the organic match follows by BM25 with
    pinned ids deduplicated out; an id absent from the corpus never
    surfaces (semi-join)."""
    return _dsl_planner(spark, sf_dir).search(PIN_BODY).hits \
        .select("doc_id", "score")


SIG_DSL_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
                "aggs": {"sig": {"significant_terms": {
                    "field": "text", "size": 15, "min_doc_count": 3}}}}


def q_es_dsl_significant_terms(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """ES ``significant_terms`` aggregation requested through the
    ``_search`` JSON body: the query's hit set is the foreground, JLH
    against the whole corpus — the faceted "what is distinctive about
    these results" shape every ES search UI sends. Routes to the same
    size-gated operator as the direct contract query; the oracle replays
    the fg/bg rate algebra with fg = docs matching the query term."""
    return _dsl_planner(spark, sf_dir).search(
        SIG_DSL_BODY).aggregations["sig"]


PIPE_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
             "aggs": {"per_week": {
                 "date_histogram": {"field": "release_date",
                                    "calendar_interval": "week"},
                 "aggs": {
                     "total": {"sum": {"field": "n_chars"}},
                     "deriv": {"derivative": {"buckets_path": "total"}},
                     "cum": {"cumulative_sum": {"buckets_path": "_count"}},
                     "mavg": {"moving_fn": {
                         "buckets_path": "total", "window": 3,
                         "script":
                             "MovingFunctions.unweightedAvg(values)"}},
                 }}}}


def _dated_planner(spark: SparkSession, sf_dir: str):
    """Planner over documents + the deterministic doc_id-derived
    release_date (the reference's documents carry the field —
    ``models/elastic.go:13``; the synthetic table does not)."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "release_date",
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("doc_id") % 365).cast("int")))
    return EsSearchPlanner(spark, docs)


def q_es_dsl_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES parent pipeline aggregations through the ``_search`` JSON
    body: weekly date_histogram over the hit set with a sum metric, then
    ``derivative`` (week-over-week delta, null first bucket),
    ``cumulative_sum`` of the doc counts, and ``moving_fn`` unweighted
    3-week average (ES shift=0: the window EXCLUDES the current bucket).
    The windows run over BUCKETS — cardinality = time-span ÷ interval,
    bucket-scale at any corpus size — never over the hit set. Oracle
    replays the same series with SQL window functions."""
    res = _dated_planner(spark, sf_dir).search(PIPE_BODY)
    return res.aggregations["per_week"]


BSORT_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
              "aggs": {"langs": {
                  "terms": {"field": "lang", "size": 100},
                  "aggs": {
                      "avg_len": {"avg": {"field": "n_chars"}},
                      "sel": {"bucket_selector": {
                          "buckets_path": {"n": "_count"},
                          "script": "params.n >= 3"}},
                      "srt": {"bucket_sort": {
                          "sort": [{"avg_len": {"order": "desc"}}],
                          "size": 5}},
                  }}}}


def q_es_dsl_bucket_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_selector`` + ``bucket_sort`` pipeline aggs under a
    terms agg (the HAVING + ORDER BY of faceted search): language
    buckets of the hit set keep doc_count >= 3 (a Painless-subset
    predicate over params bound to bucket columns — compiled on the
    driver, zero Python at execution), then rank by mean doc length,
    top 5. Both pipelines run over the final bucket frame (ES
    reduce-phase contract), bucket-scale input."""
    res = _dated_planner(spark, sf_dir).search(BSORT_BODY)
    return res.aggregations["langs"]


SBUCKET_BODY = {"query": {"match": {"text": "dup"}}, "size": 0,
                "aggs": {"per_day": {
                    "date_histogram": {"field": "release_date",
                                       "calendar_interval": "day"},
                    "aggs": {"total": {
                        "sum": {"field": "n_chars"}}}},
                    "count_stats": {"stats_bucket": {
                        "buckets_path": "per_day>_count"}}}}


def q_es_dsl_stats_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sibling pipeline agg (``stats_bucket``) through the JSON body:
    count/min/max/avg/sum over the daily bucket doc counts of a rare
    query — INCLUDING the min_doc_count:0 gap-filled empty days (count 0
    is a present value, the ES contract), so min exercises the fill.
    The sibling reduces the already-aggregated bucket frame: one tiny
    agg job over time-span ÷ interval rows."""
    res = _dated_planner(spark, sf_dir).search(SBUCKET_BODY)
    return res.aggregations["count_stats"]


SPAN_NEAR_BODY = {"query": {"span_first": {
    "match": {"span_near": {
        "clauses": [
            {"span_term": {"text": "hash"}},
            {"span_or": {"clauses": [
                {"span_term": {"text": "join"}},
                {"span_term": {"text": "merge"}}]}},
        ],
        "slop": 3, "in_order": True}},
    "end": 120}}, "size": 10}


def q_span_near_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span composition through the JSON body: span_first(span_near(
    [hash, span_or(join|merge)], slop 3, in_order), end 120) — an
    increasing chain with ≤3 intervening tokens whose minimal end sits
    inside the first 120 positions. One broadcast slot join + one hash
    agg + a Catalyst (start, cur) greedy fold; tf = chain starts, BM25
    over span frequencies. Oracle replays the chain as a range join with
    an IN-set slot and the end bound on the last position."""
    return _dsl_planner(spark, sf_dir).search(SPAN_NEAR_BODY).hits \
        .select("doc_id", "score")


SPAN_NOT_BODY = {"query": {"span_not": {
    "include": {"span_term": {"text": "hash"}},
    "exclude": {"span_or": {"clauses": [
        {"span_term": {"text": "join"}},
        {"span_term": {"text": "table"}}]}},
    "pre": 1, "post": 1}}, "size": 10}


def q_span_not_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``span_not`` with an exclusion window: occurrences of "hash"
    with neither "join" nor "table" in the adjacent ±1 positions (the
    anti-phrase shape); tf = surviving occurrences, BM25 as usual. Two
    term-pruned slot joins + one left join; the window test is a
    Catalyst filter/exists over two sorted position arrays."""
    return _dsl_planner(spark, sf_dir).search(SPAN_NOT_BODY).hits \
        .select("doc_id", "score")


RF_BODY = {"query": {"rank_feature": {
    "field": "n_chars", "log": {"scaling_factor": 0.01},
    "boost": 2.0}}, "size": 20}


def q_rank_feature_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rank_feature`` query (log function): score = boost ·
    ln(1 + 0.01·n_chars) over docs with a positive feature — one
    Catalyst projection over the docs frame, no shuffle, no join.
    Saturation (incl. the geometric-mean default pivot) and sigmoid are
    pytest-covered."""
    return _dsl_planner(spark, sf_dir).search(RF_BODY).hits \
        .select("doc_id", "score")


DFEAT_BODY = {"query": {"distance_feature": {
    "field": "n_chars", "origin": 800, "pivot": 200,
    "boost": 1.5}}, "size": 15}


def q_distance_feature_search(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """ES ``distance_feature`` (numeric): boost · pivot / (pivot +
    |n_chars − 800|) — the proximity-boost shape (dates take a duration
    pivot, pytest-covered). One projection, no shuffle."""
    return _dsl_planner(spark, sf_dir).search(DFEAT_BODY).hits \
        .select("doc_id", "score")


TSET_BODY = {"query": {"terms_set": {"text": {
    "terms": ["hash", "join", "merge", "sort"],
    "minimum_should_match_field": "required_matches"}}}, "size": 25}


def q_terms_set_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``terms_set``: term-set OR where each doc's required match
    count lives in a doc FIELD (required_matches, derived
    deterministically as doc_id % 3 + 1 — the reference's documents
    carry integer metadata the same way); BM25-sum scoring over matched
    terms, one tf-pruned agg for both score and distinct-match count.
    Oracle replays the count filter with HAVING."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "required_matches", (F.col("doc_id") % 3 + 1).cast("long"))
    return EsSearchPlanner(spark, docs).search(TSET_BODY).hits \
        .select("doc_id", "score")


def q_explain_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_explain`` endpoint twin: the flattened per-term BM25
    decomposition (tf, df, idf, tf_norm, contribution) for the docs
    matching "hash join" — Σ contribution reproduces the search score
    exactly (same formula, same inputs, pytest-asserted). Oracle
    replays each component column in SQL."""
    return _dsl_planner(spark, sf_dir).explain(
        {"match": {"text": "hash join"}})


ADJ_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"adj": {"adjacency_matrix": {"filters": {
                "en": {"term": {"lang": "en"}},
                "long": {"range": {"n_chars": {"gte": 300}}},
                "early": {"range": {"release_date":
                                    {"lt": "2024-04-01"}}},
            }}}}}


def q_adjacency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation over the hit set: singleton
    and pairwise-intersection buckets for three named filters, ALL as
    conditional sums in ONE aggregation pass (never n² scans of the hit
    set); empty buckets omitted, intersections keyed "a&b" in filter
    order — the ES response shape."""
    res = _dated_planner(spark, sf_dir).search(ADJ_BODY)
    return res.aggregations["adj"]


DR_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
           "aggs": {"dr": {"date_range": {
               "field": "release_date",
               "ranges": [
                   {"to": "2024-04-01", "key": "q1"},
                   {"from": "2024-04-01", "to": "2024-07-01",
                    "key": "q2"},
                   {"from": "2024-07-01"},
               ]}}}}


def q_date_range_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``date_range`` aggregation: from-inclusive / to-exclusive
    timestamp buckets (the ES contract) over the hit set, one
    conditional-sum pass, default "from-*" key synthesis for unnamed
    ranges."""
    res = _dated_planner(spark, sf_dir).search(DR_BODY)
    return res.aggregations["dr"]


IV_BODY = {"query": {"intervals": {"text": {"all_of": {
    "ordered": True, "max_gaps": 2,
    "intervals": [
        {"match": {"query": "hash"}},
        {"any_of": {"intervals": [
            {"match": {"query": "join"}},
            {"match": {"query": "merge"}}]}},
    ]}}}}, "size": 10}


def q_intervals_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``intervals`` query (all_of ordered + any_of union slot,
    max_gaps 2) routed onto the batch span machinery — same broadcast
    slot join + greedy chain fold, tf = minimal-interval starts. Oracle:
    the chain as a range join with an IN-set second slot (gap budget
    n−1+max_gaps = 3)."""
    return _dsl_planner(spark, sf_dir).search(IV_BODY).hits \
        .select("doc_id", "score")


WAVG_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
             "aggs": {"w": {"weighted_avg": {
                 "value": {"field": "n_chars"},
                 "weight": {"field": "doc_id"}}}}}


def q_facet_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``weighted_avg`` metric over the hit set: Σ(v·w)/Σ(w) in one
    agg (map-side partials)."""
    return _dsl_planner(spark, sf_dir).search(
        WAVG_BODY).aggregations["w"]


TMET_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
             "aggs": {"t": {"top_metrics": {
                 "metrics": [{"field": "n_chars"}],
                 "sort": {"n_chars": {"order": "desc"}},
                 "size": 7}}}}


def q_facet_top_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``top_metrics``: metric values of the top-7 hits by the sort
    field — a TakeOrdered over the joined hit set, doc_id tie-break,
    never a window."""
    return _dsl_planner(spark, sf_dir).search(
        TMET_BODY).aggregations["t"]


MAD_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"m": {"median_absolute_deviation": {
                "field": "n_chars"}}}}


def q_facet_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``median_absolute_deviation`` over the hit set: exact
    median-of-|v − median| via two bounded single-row percentile aggs
    (ES itself approximates with TDigest; exact matches the oracle's
    mad())."""
    return _dsl_planner(spark, sf_dir).search(
        MAD_BODY).aggregations["m"]


PERC_QUERIES = [
    (1, "match", ["hash", "quicksort"]),
    (2, "match_all", ["hash", "join"]),
    (3, "phrase", ["hash", "join"]),
    (4, "match_all", ["merge", "sort"]),
    (5, "phrase", ["merge", "sort"]),
]


def q_percolate_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``percolate`` twin (reverse search): five stored queries —
    OR, AND, and phrase kinds — matched against every document in ONE
    term-keyed join + ONE hash agg (queries inverted by term, the
    monitoring/alerting shape; phrase verified by the idx-shifted
    position fold). AND vs phrase on the same term pair (queries 4/5)
    shows the adjacency check biting. Oracle replays each kind in SQL."""
    from dp_search_data_importer_spark.operators.percolate import (
        percolate_batch,
    )
    from dp_search_data_importer_spark.operators.phrase import (
        doc_positions,
    )
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    queries = local_df(spark, PERC_QUERIES,
                       "query_id long, kind string, terms array<string>")
    # positions built for the stored queries' vocabulary only (§2.3)
    vocab = sorted({t for _, _, ts_ in PERC_QUERIES for t in ts_})
    return percolate_batch(queries,
                           doc_positions(docs, code_aware=False,
                                         terms=vocab))


NAGG_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
             "aggs": {"dims": {"nested": {"path": "dims"},
                               "aggs": {"names": {"terms": {
                                   "field": "dims.name",
                                   "size": 10}}}}}}


def q_nested_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``nested`` aggregation: terms over the array ELEMENTS of the
    hit set's dimensions (doc_count = element count — the nested-doc
    contract), one explode + one bucket agg. Dimensions synthesized
    deterministically from doc_id exactly like the nested-query twin
    (the reference's documents carry the array<struct> shape,
    ``schema/schema.go:41-51``)."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    docs = load_table(spark, sf_dir, "documents")
    mk = lambda noff, loff: F.struct(
        F.concat(F.lit("dim"), F.pmod(F.col("doc_id") + noff, F.lit(5))
                 .cast("string")).alias("name"),
        F.concat(F.lit("l"), F.pmod(F.col("doc_id") + loff, F.lit(7))
                 .cast("string")).alias("label"),
    )
    docs = docs.withColumn("dims", F.array(mk(0, 0), mk(1, 3)))
    return EsSearchPlanner(spark, docs).search(
        NAGG_BODY).aggregations["dims"]


def q_knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8-style ``knn`` section through the ``_search`` body: exact
    cosine top-15 over the embeddings table with a PRE-FILTER on label
    (semi-join prunes the vector pass — the ES knn filter semantic).
    The brute-force baseline of the ANN family, unified under the ES
    request surface."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    emb = load_table(spark, sf_dir, "embeddings")
    planner = EsSearchPlanner(spark, emb, text_fields=(),
                              id_col="vec_id")
    body = {"knn": {"field": "embedding",
                    "query_vector": _query_vec(spark, sf_dir),
                    "k": 15,
                    "filter": {"term": {"label": 3}}}}
    return planner.search(body).hits


def q_termvectors_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_termvectors`` twin: per-doc term vectors (tf + 0-based
    positions) for five docs, with the ``term_statistics`` corpus df/ttf
    joined from the memoized frames (one broadcast). Oracle replays the
    positional tokenization and the stats join. Positions are joined into
    one ``,``-separated string, ascending, so every row is hashable."""
    tv = _dsl_planner(spark, sf_dir).termvectors(
        doc_ids=[1, 2, 3, 4, 5], term_statistics=True)
    return tv.withColumn("positions", F.array_join(
        F.col("positions").cast("array<string>"), ","))


SPAN_UNORD_BODY = {"query": {"span_near": {
    "clauses": [{"span_term": {"text": "hash"}},
                {"span_term": {"text": "join"}}],
    "slop": 2, "in_order": False}}, "size": 10}


def q_span_unordered_search(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """ES ``span_near`` with ``in_order: false`` — window-cover
    semantics (stated exactly in operators/spans): both terms inside a
    length n+slop=4 window in either order; tf = covering window ends.
    One slot join + one agg + a Catalyst filter/forall/exists — no
    Python. Oracle replays the window test per candidate end."""
    return _dsl_planner(spark, sf_dir).search(SPAN_UNORD_BODY).hits \
        .select("doc_id", "score")


BSCRIPT_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
                "aggs": {"per_month": {
                    "date_histogram": {"field": "release_date",
                                       "calendar_interval": "month"},
                    "aggs": {
                        "total": {"sum": {"field": "n_chars"}},
                        "per_doc": {"bucket_script": {
                            "buckets_path": {"t": "total",
                                             "n": "_count"},
                            "script": "params.t / params.n"}},
                        "share": {"normalize": {
                            "buckets_path": "_count",
                            "method": "percent_of_sum"}},
                    }}}}


def q_facet_bucket_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``bucket_script`` + ``normalize`` pipeline aggs: a derived
    per-bucket ratio (Painless subset over params bound to bucket
    columns — the dashboard per-doc-average column) and the
    percent-of-total share of each month's doc count. Both run over the
    BUCKET frame (bucket-scale windows). Oracle replays the arithmetic
    and the window share."""
    res = _dated_planner(spark, sf_dir).search(BSCRIPT_BODY)
    return res.aggregations["per_month"]


RARE_BODY = {"query": {"match": {"text": "dup"}}, "size": 0,
             "aggs": {"rare": {"rare_terms": {
                 "field": "source", "max_doc_count": 2}}}}


def q_facet_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``rare_terms``: the long-tail buckets (doc_count ≤ 2) of the
    hit set's sources, count asc — exact here (ES approximates with a
    CuckooFilter at scale; same hash-agg shape as terms)."""
    res = _dated_planner(spark, sf_dir).search(RARE_BODY)
    return res.aggregations["rare"]


BOX_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"box": {"boxplot": {"field": "n_chars"}}}}


def q_facet_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``boxplot`` over the hit set: min/q1/q2/q3/max in ONE
    single-row agg — exact linear-interpolated percentiles (ES uses
    TDigest; the oracle's quantile_cont interpolates identically)."""
    res = _dated_planner(spark, sf_dir).search(BOX_BODY)
    return res.aggregations["box"]


SSTATS_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
               "aggs": {"s": {"string_stats": {"field": "text"}}}}


def q_facet_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``string_stats`` over the hit set's text: count + min/max/avg
    character length (show_distribution entropy not reproduced —
    documented)."""
    res = _dated_planner(spark, sf_dir).search(SSTATS_BODY)
    return res.aggregations["s"]


def q_composite_date_sources(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """ES ``composite`` with MIXED sources — (monthly date_histogram,
    terms lang) — page 2 of the export stream: page 1's after_key
    becomes a pushed strict-greater tuple predicate on the COMPUTED
    keys (truncated month, lang), so page 2 aggregates only buckets
    past the cursor. Buckets keyed by source name (the ES contract)."""
    p = _dated_planner(spark, sf_dir)
    src = [{"m": {"date_histogram": {"field": "release_date",
                                     "calendar_interval": "month"}}},
           {"l": {"terms": {"field": "lang"}}}]
    body1 = {"query": {"match": {"text": "hash"}}, "size": 0,
             "aggs": {"p": {"composite": {"size": 8, "sources": src}}}}
    page1 = p.search(body1).aggregations["p"].collect()
    last = page1[-1]
    body2 = {"query": {"match": {"text": "hash"}}, "size": 0,
             "aggs": {"p": {"composite": {
                 "size": 8, "sources": src,
                 "after": {"m": last["m"], "l": last["l"]}}}}}
    return p.search(body2).aggregations["p"]


PERC_BOOL = [
    (1, ["hash"], ["join", "merge"], ["table"], 1),
    (2, [], ["hash", "join", "merge"], [], 2),
    (3, ["sort"], [], ["merge"], 0),
]


def q_percolate_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored BOOL queries percolated against every document: ES
    compound gates (all must present, ≥ msm distinct should present, no
    must_not present) from ONE term-inverted join + one hash agg with
    three conditional distinct-counts. Oracle replays each gate."""
    from dp_search_data_importer_spark.operators.percolate import (
        percolate_bool_batch,
    )
    from dp_search_data_importer_spark.operators.phrase import (
        doc_positions,
    )
    from dp_search_data_importer_spark.session import local_df

    docs = load_table(spark, sf_dir, "documents")
    q = local_df(spark, PERC_BOOL,
                 "query_id long, must array<string>, "
                 "should array<string>, must_not array<string>, "
                 "minimum_should_match int")
    return percolate_bool_batch(q, doc_positions(docs, code_aware=False))


FAGG_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
             "aggs": {"en_only": {
                 "filter": {"term": {"lang": "en"}},
                 "aggs": {"srcs": {"terms": {"field": "source",
                                             "size": 5}}}}}}


def q_filter_subagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES single ``filter`` agg: the hit set narrowed by a filter-
    context predicate (lang=en), then a terms sub-agg over the subset —
    the facet-within-a-facet shape, one extra predicate on the same
    join."""
    res = _dated_planner(spark, sf_dir).search(FAGG_BODY)
    return res.aggregations["en_only"]


PRANK_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
              "aggs": {"pr": {"percentile_ranks": {
                  "field": "n_chars", "values": [200, 500, 900]}}}}


def q_facet_percentile_ranks(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """ES ``percentile_ranks`` over the hit set: exact CDF (percent of
    values ≤ v) in one conditional-sum pass (ES approximates with
    TDigest; exact is the oracle-replayable definition, noted in
    code)."""
    res = _dated_planner(spark, sf_dir).search(PRANK_BODY)
    return res.aggregations["pr"]


RT_BODY = {"runtime_mappings": {"kchars": {
               "type": "double",
               "script": {"source": "doc['n_chars'].value / params.k",
                          "params": {"k": 100}}}},
           "query": {"bool": {
               "must": [{"match": {"text": "hash"}}],
               "filter": [{"range": {"kchars": {"gte": 2.0}}}]}},
           "size": 0,
           "aggs": {"h": {"histogram": {"field": "kchars",
                                        "interval": 1}}}}


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking (pretraining/RAG prep): 32-token windows
    with 8-token overlap, tail kept — tokenize → sequence of window
    starts → ONE explode → slice/concat_ws. Zero joins/shuffles; output
    linear in corpus tokens ÷ stride. Oracle replays windows and slices
    with DuckDB list arithmetic."""
    from dp_search_data_importer_spark.operators.textstats import (
        chunk_documents,
    )

    return chunk_documents(load_table(spark, sf_dir, "documents"),
                           chunk_tokens=32, overlap=8)


def q_es_dsl_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``nested`` query through the ``_search`` planner (round-5
    close of the last documented query-DSL divergence): same
    deterministic dimensions synthesis as ``nested_dimension_search``,
    compiled to an F.exists element lambda inside a bool filter —
    hits where SOME dimension struct matches (name=dim2 AND label=l4),
    scored by the must match clause."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    docs = load_table(spark, sf_dir, "documents")
    mk = lambda noff, loff: F.struct(
        F.concat(F.lit("dim"), F.pmod(F.col("doc_id") + noff, F.lit(5))
                 .cast("string")).alias("name"),
        F.concat(F.lit("l"), F.pmod(F.col("doc_id") + loff, F.lit(7))
                 .cast("string")).alias("label"))
    docs = docs.withColumn("dimensions", F.array(mk(0, 0), mk(1, 3)))
    body = {"query": {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"nested": {"path": "dimensions", "query": {"bool": {
            "must": [{"term": {"dimensions.name": "dim2"}},
                     {"term": {"dimensions.label": "l4"}}]}}}}]}},
        "size": 10}
    return EsSearchPlanner(spark, docs).search(body).hits \
        .select("doc_id", "score")


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition proof: context-length chunks flow through the exact
    dedup screen unchanged (chunk key = doc_id·2²⁰ + chunk_id — chunk
    counts are bounded by doc length ÷ stride, far under 2²⁰). The
    repeated-window groups this finds are the chunk-level analogue of
    document dedup in a pretraining pipeline."""
    from dp_search_data_importer_spark.operators.dedup import (
        exact_duplicate_groups,
    )
    from dp_search_data_importer_spark.operators.textstats import (
        chunk_documents,
    )

    chunks = chunk_documents(load_table(spark, sf_dir, "documents"),
                             chunk_tokens=32, overlap=8)
    keyed = chunks.withColumn(
        "cid", F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_id"))
    return exact_duplicate_groups(keyed, text_col="chunk_text",
                                  id_col="cid")


def q_mget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_mget`` twin: fetch by id with ``_source`` filtering — a
    literal IN predicate pushed into the parquet scan plus the shared
    response-shaping join."""
    return _dsl_planner(spark, sf_dir).mget(
        [3, 7, 11, 400, 999999], source=["lang", "n_chars"])


def q_hashed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed TF-IDF doc vectors (sparse form): the hashing
    trick — md5-derived bucket mod 64, value = Σ tf·(ln((N+1)/(df+1))+1)
    — no vocabulary table, no driver state; tf/df are the same hash
    aggs the postings build uses. The dense/L2 form feeds the ANN
    stores (pytest-covered). Oracle replays buckets and idf in SQL."""
    from dp_search_data_importer_spark.operators.textstats import (
        hashed_tfidf_sparse,
    )

    return hashed_tfidf_sparse(load_table(spark, sf_dir, "documents"),
                               dim=64)


def q_rank_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_rank_eval`` twin: NDCG@10 for two match requests, ratings
    supplied as a DataFrame (the programmatic at-scale form — rating 1
    iff doc_id % 7 == 0). Each request compiles to the same top-k plan
    ``search`` uses; ratings attach via one broadcast join; DCG and the
    ideal-ranking normalizer are each one grouped aggregation. Oracle
    replays ranks, gains, and the IDCG series in SQL."""
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    docs = load_table(spark, sf_dir, "documents")
    p = EsSearchPlanner(spark, docs)
    rel = docs.filter("doc_id % 7 = 0").select("doc_id")
    ratings = None
    for qk in ("q1", "q2"):
        r = rel.select(F.lit(qk).alias("qkey"), "doc_id",
                       F.lit(1).alias("rating"))
        ratings = r if ratings is None else ratings.unionByName(r)
    body = {"requests": [
        {"id": "q1", "request": {"query": {"match": {"text": "hash"}}}},
        {"id": "q2",
         "request": {"query": {"match": {"text": "join merge"}}}}],
        "metric": {"dcg": {"k": 10, "normalize": True}}}
    return p.rank_eval(body, ratings_df=ratings)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality screen (Wenzek et al. 2020): bigram LM
    with stupid backoff trained on the even-doc_id half of the corpus,
    per-doc perplexity over ALL docs (odd docs exercise the unseen-
    bigram backoff path). Train = two hash aggs over exploded token
    frames; score = explode + term-keyed LM joins (size-gated
    broadcast) + one agg back to doc grain. Oracle replays the LM and
    the score in SQL."""
    from dp_search_data_importer_spark.operators.textstats import (
        lm_perplexity,
        train_bigram_lm,
    )

    docs = load_table(spark, sf_dir, "documents")
    uni, bi = train_bigram_lm(docs.filter("doc_id % 2 = 0"))
    return lm_perplexity(docs, uni, bi)


TOPICS_FACET_BODY = {"query": {"match": {"text": "hash"}}, "size": 0,
                     "aggs": {"topics": {"terms": {"field": "topics",
                                                   "size": 10}}}}


def q_topics_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms agg over a KEYWORD-ARRAY field (the reference model's
    ``topics``, models/elastic.go:17 — the ONS faceting shape): one
    bucket per distinct element per hit doc (explode(array_distinct) —
    a duplicate element never double-counts its doc; [] is missing).
    The synthetic topics column derives deterministically from doc_id;
    the oracle replays the derivation and the element unnest."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "topics",
        F.when(F.col("doc_id") % 10 == 0,
               F.array().cast("array<string>"))
        .otherwise(F.array_compact(F.array(
            F.concat(F.lit("t"), (F.col("doc_id") % 3).cast("string")),
            F.when(F.col("doc_id") % 2 == 0, F.lit("even"))))))
    from dp_search_data_importer_spark.plans.es_dsl import EsSearchPlanner

    res = EsSearchPlanner(spark, docs).search(TOPICS_FACET_BODY)
    return res.aggregations["topics"]


PHRASE_SUGGEST_BODY = {
    "suggest": {"fix": {"text": "bi ro",
                        "phrase": {"field": "text", "size": 5}}},
    "query": {"match_all": {}}, "size": 0}


def q_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``phrase`` suggester: whole-phrase did-you-mean. Per-token
    candidates from ONE batch pass over the term dictionary (salted
    two-phase per-pos top-5), combinations scored on the driver by the
    documented Σ(log10(df+1) − dist) — request-bounded, never
    data-bounded. Oracle replays candidates, ranking, and the
    combination score in SQL."""
    res = _dsl_planner(spark, sf_dir).search(PHRASE_SUGGEST_BODY)
    return res.suggestions["fix"]


SOURCE_BODY = {"query": {"match": {"text": "hash"}},
               "_source": ["lang", "n_chars"],
               "fields": [{"field": "source"}],
               "size": 10}


def q_source_filtered_search(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """ES ``_source`` / ``fields`` response shaping: hits carry the
    requested document columns (lang, n_chars via _source; source via
    the fields API) joined in one hits-sized (≤ size rows) broadcast
    join against an exactly-pruned docs projection. Oracle joins the
    same columns onto the BM25 top-10."""
    res = _dsl_planner(spark, sf_dir).search(SOURCE_BODY)
    return res.hits.select("doc_id", "score", "lang", "n_chars",
                           "source")


MATCH_MSM_BODY = {"query": {"match": {"text": {
    "query": "hash join merge", "minimum_should_match": 2}}},
    "size": 10}


def q_match_msm_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``match`` with ``minimum_should_match``: docs matching ≥2 of
    the 3 query terms, OR-sum scored. The distinct-matched-term gate is
    a sum of per-row term-count flags in the planner's one scoring
    statement — no second join (``EsSearchPlanner._score_terms``).
    Oracle counts matched terms in the same grouped pass."""
    res = _dsl_planner(spark, sf_dir).search(MATCH_MSM_BODY)
    return res.hits.select("doc_id", "score")


SCRIPT_FILTER_BODY = {
    "query": {"bool": {
        "must": [{"match": {"text": "hash"}}],
        "filter": [{"script": {"script": {
            "source": "doc['n_chars'].value % params.m == 0 "
                      "&& doc['n_chars'].value > params.lo",
            "params": {"m": 3, "lo": 200}}}}]}},
    "size": 10,
}


def q_script_filter_search(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """ES ``script`` query in filter context (the Kibana
    filter-by-script shape): a boolean Painless predicate over doc
    values gates the scored hit set without touching the score. The
    predicate compiles to ONE Catalyst expression on the docs scan —
    no Python, no extra join beyond the filter-context gate the bool
    query already carries. Oracle replays the arithmetic inline."""
    res = _dsl_planner(spark, sf_dir).search(SCRIPT_FILTER_BODY)
    return res.hits.select("doc_id", "score")


def q_runtime_field_search(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """ES ``runtime_mappings``: a query-time computed field (Painless
    subset → one Catalyst expression on the docs frame) used in BOTH a
    filter-context range AND a histogram agg — the runtime field folds
    into the same scan, no materialization. Oracle replays the
    arithmetic inline."""
    res = _dated_planner(spark, sf_dir).search(RT_BODY)
    return res.aggregations["h"]


EXT_QUERIES = {
    "es_dsl_nested": q_es_dsl_nested,
    "chunk_dedup": q_chunk_dedup,
    "chunk_documents": q_chunk_documents,
    "mget_docs": q_mget_docs,
    "hashed_tfidf": q_hashed_tfidf,
    "rank_eval_ndcg": q_rank_eval_ndcg,
    "lm_perplexity": q_lm_perplexity,
    "topics_facet": q_topics_facet,
    "phrase_suggest": q_phrase_suggest,
    "source_filtered_search": q_source_filtered_search,
    "match_msm_search": q_match_msm_search,
    "script_filter_search": q_script_filter_search,
    "runtime_field_search": q_runtime_field_search,
    "filter_subagg": q_filter_subagg,
    "facet_percentile_ranks": q_facet_percentile_ranks,
    "percolate_bool": q_percolate_bool,
    "composite_date_sources": q_composite_date_sources,
    "facet_bucket_script": q_facet_bucket_script,
    "facet_rare_terms": q_facet_rare_terms,
    "facet_boxplot": q_facet_boxplot,
    "facet_string_stats": q_facet_string_stats,
    "span_unordered_search": q_span_unordered_search,
    "termvectors_export": q_termvectors_export,
    "knn_search": q_knn_search,
    "nested_terms_agg": q_nested_terms_agg,
    "percolate_matches": q_percolate_matches,
    "facet_weighted_avg": q_facet_weighted_avg,
    "facet_top_metrics": q_facet_top_metrics,
    "facet_mad": q_facet_mad,
    "intervals_search": q_intervals_search,
    "adjacency_matrix_facets": q_adjacency_matrix,
    "date_range_facets": q_date_range_facets,
    "explain_score": q_explain_score,
    "rank_feature_search": q_rank_feature_search,
    "distance_feature_search": q_distance_feature_search,
    "terms_set_search": q_terms_set_search,
    "span_near_search": q_span_near_search,
    "span_not_search": q_span_not_search,
    "es_dsl_pipeline_aggs": q_es_dsl_pipeline_aggs,
    "es_dsl_bucket_sort": q_es_dsl_bucket_sort,
    "es_dsl_stats_bucket": q_es_dsl_stats_bucket,
    "es_dsl_script_score": q_es_dsl_script_score,
    "es_dsl_pinned": q_es_dsl_pinned,
    "es_dsl_significant_terms": q_es_dsl_significant_terms,
    "es_dsl_function_decay": q_es_dsl_function_decay,
    "token_positions": q_token_positions,
    "es_dsl_missing_buckets": q_es_dsl_missing_buckets,
    "es_dsl_filters": q_es_dsl_filters,
    "es_dsl_count": q_es_dsl_count,
    "es_dsl_msearch": q_es_dsl_msearch,
    "es_dsl_date_histogram": q_es_dsl_date_histogram,
    "es_dsl_query_string": q_es_dsl_query_string,
    "es_dsl_simple_query_string": q_es_dsl_simple_query_string,
    "terms_metric_facets": q_terms_metric_facets,
    "nested_terms_facets": q_nested_terms_facets,
    "es_dsl_search": q_es_dsl_search,
    "es_dsl_facets": q_es_dsl_facets,
    "es_dsl_sorted": q_es_dsl_sorted,
    "es_dsl_suggest": q_es_dsl_suggest,
    "es_dsl_highlight": q_es_dsl_highlight,
    "facet_range": q_facet_range,
    "facet_percentiles": q_facet_percentiles,
    "facet_cardinality": q_facet_cardinality,
    "facet_extended_stats": q_facet_extended_stats,
    "facet_top_hits": q_facet_top_hits,
    "composite_agg_page2": q_composite_agg_page2,
    "dis_max_search": q_dis_max_search,
    "rescore_phrase": q_rescore_phrase,
    "match_phrase_prefix": q_match_phrase_prefix,
    "duplicate_spans": q_duplicate_spans,
    "sorted_search": q_sorted_search,
    "facet_counts": q_facet_counts,
    "facet_date_histogram": q_facet_date_histogram,
    "histogram_facet": q_histogram_facet,
    "facet_stats": q_facet_stats,
    "range_filtered_search": q_range_filtered_search,
    "sessionize_events": q_sessionize_events,
    "bm25_conjunctive": q_bm25_conjunctive,
    "bool_search": q_bool_search,
    "phrase_search_slop": q_phrase_search_slop,
    "phrase_search": q_phrase_search,
    "windowed_event_counts": q_windowed_event_counts,
    "media_features": q_media_features,
    "frame_sample_plan": q_frame_sample_plan,
    "resize_plan": q_resize_plan,
    "dedup_exact_groups": q_dedup_exact_groups,
    "dedup_keep_representatives": q_dedup_keep_representatives,
    "ngram_jaccard_global_diag": q_ngram_jaccard,
    "ngram_jaccard_lsh": q_ngram_jaccard_lsh,
    "near_dup_clusters": q_near_dup_clusters,
    "dedup_near_representatives": q_dedup_near_representatives,
    "minhash_est_jaccard": q_minhash_est_jaccard,
    "simhash_fingerprints": q_simhash_fingerprints,
    "simhash_near_dups": q_simhash_near_dups,
    "language_id": q_language_id,
    "curation_verdicts": q_curation_verdicts,
    "multi_match_topk": q_multi_match,
    "multi_match_best_fields": q_multi_match_best_fields,
    "multi_match_cross_fields": q_multi_match_cross_fields,
    "synonym_search": q_synonym_search,
    "more_like_this": q_more_like_this,
    "significant_terms": q_significant_terms,
    "completion_suggest": q_completion_suggest,
    "function_score": q_function_score,
    "wildcard_search": q_wildcard_search,
    "nested_dimension_search": q_nested_dimension_search,
    "boosting_search": q_boosting_search,
    "decontamination_overlap": q_decontamination_overlap,
    "stratified_sample": q_stratified_sample,
    "field_collapse": q_field_collapse,
    "spell_suggest": q_spell_suggest,
    "search_highlights": q_search_highlights,
    "token_counts": q_token_counts,
    "quality_scores": q_quality_scores,
    "repetition_stats": q_repetition_stats,
    "pii_stats": q_pii_stats,
    "strip_html": q_strip_html,
    "doc_fingerprints": q_doc_fingerprints,
    "winnowing_fingerprints": q_winnowing,
    "embedding_cosine_topk": q_cosine_topk,
    "embedding_ann_topk": q_ann_topk,
    "embedding_ivf_topk": q_embedding_ivf_topk,
    "embedding_pq_topk": q_embedding_pq_topk,
    "embedding_near_dups": q_embedding_near_dups,
}


def _langid_sql() -> str:
    """SQL twin of ts.langid_expr_v3, generated from the SAME profile
    tables (LANG_PROFILES_V3 / SCRIPT_RANGES): 2×function-word hits +
    diacritic chars + weighted script-block chars (RE2 ``\\x{..}`` ranges)
    + 3×distinctive-letter chars, argmax with declaration-order
    tie-break."""
    from dp_search_data_importer_spark.operators.textstats import (
        LANG_PROFILES_V3,
        SCRIPT_RANGES,
    )

    def cls(ranges):
        return "[" + "".join(
            rf"\x{{{lo:04X}}}-\x{{{hi:04X}}}" for lo, hi in ranges) + "]"

    hit_cols = []
    for lang, (ws, chars, scripts, markers) in LANG_PROFILES_V3.items():
        parts = []
        if ws:
            lst = ", ".join(f"'{w}'" for w in ws)
            parts.append("2 * len(list_filter(arr, x -> x <> '' "
                         f"AND list_contains([{lst}], x)))")
        if chars:
            parts.append(f"len(regexp_extract_all(lt, '[{chars}]'))")
        for script, wgt in scripts.items():
            parts.append(
                f"({wgt}) * len(regexp_extract_all(lt, "
                f"'{cls(SCRIPT_RANGES[script])}'))")
        if markers:
            parts.append(f"3 * len(regexp_extract_all(lt, '[{markers}]'))")
        expr = " + ".join(parts) if parts else "0"
        hit_cols.append(f"{expr} AS h_{lang}")
    langs = list(LANG_PROFILES_V3)
    m = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = "CASE "
    for lg in langs:
        case += f"WHEN h_{lg} = m AND m > 0 THEN '{lg}' "
    case += "ELSE 'und' END"
    return rf"""
      WITH t AS (
        SELECT doc_id, lower(text) AS lt,
               regexp_split_to_array(lower(text), '[^\p{{L}}0-9]+') AS arr
        FROM documents
      ), h AS (SELECT doc_id, {', '.join(hit_cols)} FROM t),
      mm AS (SELECT doc_id, *, {m} AS m FROM h)
      SELECT doc_id, {case} AS lang_guess FROM mm
    """


_SRT_QUERY_VALUES = ", ".join(f"({qid}, '{qt}')" for qid, qt in SRT_QUERIES)

_MATCH_HITS_SQL = f"""
    q(query_id, query_text) AS (VALUES {_SRT_QUERY_VALUES}),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
      FROM q
    ),
    qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
    toks AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    hits AS (SELECT DISTINCT query_id, doc_id FROM qt2 JOIN toks USING (term))
"""

_BM25_CORPUS_SQL = """
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text),
             '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
              FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
"""

_SPAN_CORPUS_SQL = """
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text),
             '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), 1) AS pos
      FROM documents
    ),
    tok2 AS (
      SELECT doc_id, term,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM toks WHERE term <> ''
    ),
    dldocs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
              FROM dldocs)
"""

_SPAN_SCORE_SQL = """
    d AS (SELECT count(*)::BIGINT AS df FROM m),
    scored AS (
      SELECT m.doc_id,
             ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * m.tf * (1.2 + 1.0)
             / (m.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             AS score
      FROM m CROSS JOIN d CROSS JOIN stats s
      JOIN dldocs dl ON dl.doc_id = m.doc_id
    ),
    ranked AS (
      SELECT doc_id, round(score, 4) AS score,
             row_number() OVER (ORDER BY round(score, 4) DESC,
                                doc_id ASC) AS rn
      FROM scored
    )
    SELECT doc_id, score FROM ranked WHERE rn <= 10
"""

_HITS_HASH_SQL = """
    toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
             '[^a-z0-9]+')) AS term
      FROM documents
    ),
    hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash')
"""

EXT_ORACLES = {
    "es_dsl_nested": f"""
        WITH qt(term) AS (VALUES ('hash')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        dims AS (
          SELECT doc_id,
                 [{{'name': 'dim' || ((doc_id % 5))::VARCHAR,
                   'label': 'l' || ((doc_id % 7))::VARCHAR}},
                  {{'name': 'dim' || (((doc_id + 1) % 5))::VARCHAR,
                   'label': 'l' || (((doc_id + 3) % 7))::VARCHAR}}]
                   AS dims
          FROM documents
        ),
        allowed AS (
          SELECT doc_id FROM dims
          WHERE len(list_filter(dims,
                x -> x.name = 'dim2' AND x.label = 'l4')) > 0
        )
        SELECT sc.doc_id, round(sc.score, 4) AS score
        FROM scored sc JOIN allowed a USING (doc_id)
        ORDER BY round(sc.score, 4) DESC, sc.doc_id ASC LIMIT 10
    """,
    "chunk_dedup": """
        WITH tl AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                             '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents
        ),
        st AS (
          SELECT doc_id, t,
                 unnest(generate_series(0,
                   greatest((ceil((len(t) - 32)::DOUBLE / 24)::BIGINT)
                            * 24, 0), 24)) AS s
          FROM tl WHERE len(t) >= 1
        ),
        c AS (
          SELECT doc_id * 1048576 + (s / 24)::BIGINT AS cid,
                 array_to_string(t[s + 1 : s + 32], ' ') AS ctext
          FROM st WHERE len(t[s + 1 : s + 32]) >= 1
        )
        SELECT md5(ctext) AS content_hash,
               count(*)::BIGINT AS n_dups,
               min(cid)::BIGINT AS keep_doc_id
        FROM c GROUP BY md5(ctext) HAVING count(*) > 1
    """,
    "chunk_documents": """
        WITH tl AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                             '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents
        ),
        st AS (
          SELECT doc_id, t,
                 unnest(generate_series(0,
                   greatest((ceil((len(t) - 32)::DOUBLE / 24)::BIGINT)
                            * 24, 0), 24)) AS s
          FROM tl WHERE len(t) >= 1
        ),
        c AS (
          SELECT doc_id, (s / 24)::BIGINT AS chunk_id,
                 s::BIGINT AS start_tok, t[s + 1 : s + 32] AS piece
          FROM st
        )
        SELECT doc_id, chunk_id, start_tok,
               len(piece)::BIGINT AS n_tokens,
               array_to_string(piece, ' ') AS chunk_text
        FROM c WHERE len(piece) >= 1
    """,
    "mget_docs": """
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id IN (3, 7, 11, 400, 999999)
    """,
    "hashed_tfidf": f"""
        WITH {_BM25_CORPUS_SQL},
        n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        b AS (
          SELECT t.doc_id,
                 ('0x' || substr(md5(t.term), 1, 8))::UBIGINT % 64
                   AS bucket,
                 t.tf * (ln((n.n_docs + 1)::DOUBLE / (d.df + 1))
                         + 1.0) AS v
          FROM tf t JOIN dfs d USING (term) CROSS JOIN n
        )
        SELECT doc_id, bucket::BIGINT AS bucket,
               round(sum(v), 6) AS value
        FROM b GROUP BY doc_id, bucket
    """,
    "rank_eval_ndcg": f"""
        WITH qt(qkey, term) AS (
          VALUES ('q1', 'hash'), ('q2', 'join'), ('q2', 'merge')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT qt.qkey, t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY qt.qkey, t.doc_id
        ),
        ranked AS (
          SELECT qkey, doc_id, rnk FROM (
            SELECT qkey, doc_id, row_number() OVER (
              PARTITION BY qkey
              ORDER BY round(score, 4) DESC, doc_id ASC) AS rnk
            FROM scored
          ) WHERE rnk <= 10
        ),
        dcg AS (
          SELECT qkey,
                 sum(CASE WHEN doc_id % 7 = 0
                          THEN 1.0 / log2(rnk + 1) ELSE 0 END) AS dcg
          FROM ranked GROUP BY qkey
        ),
        nrel AS (SELECT count(*)::BIGINT AS n FROM documents
                 WHERE doc_id % 7 = 0),
        idcg AS (
          SELECT sum(1.0 / log2(i + 1)) AS idcg
          FROM (SELECT unnest(generate_series(
                  1, least(10, (SELECT n FROM nrel)))) AS i)
        ),
        perq AS (
          SELECT qkey AS id,
                 round(dcg / (SELECT idcg FROM idcg), 6) AS metric_score
          FROM dcg
        )
        SELECT id, metric_score FROM perq
        UNION ALL
        SELECT '_overall', round(avg(metric_score), 6) FROM perq
    """,
    "lm_perplexity": """
        WITH tl AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                             '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents
        ),
        train AS (SELECT * FROM tl WHERE doc_id % 2 = 0),
        uni AS (
          SELECT w, count(*)::BIGINT AS c
          FROM (SELECT unnest(t) AS w FROM train) GROUP BY w
        ),
        tot AS (SELECT sum(c)::BIGINT AS total FROM uni),
        tp AS (
          SELECT p[1] AS w1, p[2] AS w2
          FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
                FROM train WHERE len(t) >= 2)
        ),
        big AS (SELECT w1, w2, count(*)::BIGINT AS c12
                FROM tp GROUP BY w1, w2),
        dp AS (
          SELECT doc_id, p[1] AS w1, p[2] AS w2
          FROM (SELECT doc_id,
                       unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
                FROM tl WHERE len(t) >= 2)
        ),
        scored AS (
          SELECT dp.doc_id,
                 CASE WHEN b.c12 IS NOT NULL AND u1.c IS NOT NULL
                      THEN log10(b.c12::DOUBLE / u1.c)
                      ELSE log10(0.4 * (coalesce(u2.c, 0) + 1)::DOUBLE
                                 / (t.total + 1))
                 END AS lp
          FROM dp
          LEFT JOIN big b ON dp.w1 = b.w1 AND dp.w2 = b.w2
          LEFT JOIN uni u1 ON dp.w1 = u1.w
          LEFT JOIN uni u2 ON dp.w2 = u2.w
          CROSS JOIN tot t
        )
        SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               round(sum(lp), 4) AS log10_prob,
               round(pow(10.0, -sum(lp) / count(*)), 4) AS ppl
        FROM scored GROUP BY doc_id
    """,
    "topics_facet": f"""
        WITH {_HITS_HASH_SQL},
        topics AS (
          SELECT h.doc_id,
                 CASE WHEN d.doc_id % 10 = 0 THEN []
                      ELSE list_filter(
                        ['t' || (d.doc_id % 3)::VARCHAR,
                         CASE WHEN d.doc_id % 2 = 0 THEN 'even' END],
                        x -> x IS NOT NULL)
                 END AS topics
          FROM hits h JOIN documents d USING (doc_id)
        ),
        el AS (
          SELECT doc_id, unnest(list_distinct(topics)) AS key
          FROM topics
        ),
        b AS (SELECT key, count(*)::BIGINT AS doc_count
              FROM el GROUP BY key)
        SELECT key, doc_count FROM (
          SELECT *, row_number() OVER (
            ORDER BY doc_count DESC, key ASC) AS rn FROM b
        ) WHERE rn <= 10
    """,
    "phrase_suggest": f"""
        WITH {_BM25_CORPUS_SQL},
        q(pos, token) AS (VALUES (0, 'bi'), (1, 'ro')),
        cand AS (
          SELECT q.pos, d.term,
                 levenshtein(d.term, q.token)::BIGINT AS dist, d.df
          FROM dfs d CROSS JOIN q
          WHERE levenshtein(d.term, q.token) <= 2
        ),
        top AS (
          SELECT pos, term, dist, df FROM (
            SELECT *, row_number() OVER (PARTITION BY pos
              ORDER BY dist ASC, df DESC, term ASC) AS rn FROM cand
          ) WHERE rn <= 5
        ),
        combos AS (
          SELECT a.term || ' ' || b.term AS phrase,
                 round(log10((a.df + 1)::DOUBLE) - a.dist
                       + log10((b.df + 1)::DOUBLE) - b.dist,
                       6)::DOUBLE AS score
          FROM top a JOIN top b ON a.pos = 0 AND b.pos = 1
        )
        SELECT phrase, score FROM combos
        ORDER BY score DESC, phrase ASC LIMIT 5
    """,
    "source_filtered_search": f"""
        WITH qt(term) AS (VALUES ('hash')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        top AS (
          SELECT doc_id, round(score, 4) AS score FROM scored
          ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
        )
        SELECT t.doc_id, t.score, d.lang, d.n_chars, d.source
        FROM top t JOIN documents d USING (doc_id)
    """,
    "match_msm_search": f"""
        WITH qt(term) AS (VALUES ('hash'), ('join'), ('merge')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score,
                 count(*)::BIGINT AS nm
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        )
        SELECT doc_id, round(score, 4) AS score FROM scored
        WHERE nm >= 2
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
    "script_filter_search": f"""
        WITH qt(term) AS (VALUES ('hash')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        filt AS (
          SELECT sc.doc_id, round(sc.score, 4) AS score
          FROM scored sc JOIN documents dc ON sc.doc_id = dc.doc_id
          WHERE dc.n_chars % 3 = 0 AND dc.n_chars > 200
        )
        SELECT doc_id, score FROM filt
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
    "runtime_field_search": f"""
        WITH {_HITS_HASH_SQL},
        rt AS (
          SELECT h.doc_id,
                 (d.n_chars::DOUBLE / 100.0) AS kchars
          FROM hits h JOIN documents d USING (doc_id)
          WHERE (d.n_chars::DOUBLE / 100.0) >= 2.0
        )
        SELECT (floor(kchars / 1.0) * 1.0)::DOUBLE AS key,
               count(*)::BIGINT AS doc_count
        FROM rt GROUP BY 1
    """,
    "filter_subagg": f"""
        WITH {_HITS_HASH_SQL},
        en AS (
          SELECT h.doc_id, d.source
          FROM hits h JOIN documents d USING (doc_id)
          WHERE d.lang = 'en' AND d.source IS NOT NULL
        ),
        b AS (SELECT source AS key, count(*)::BIGINT AS doc_count
              FROM en GROUP BY source)
        SELECT key, doc_count FROM (
          SELECT *, row_number() OVER (
            ORDER BY doc_count DESC, key ASC) AS rn FROM b
        ) WHERE rn <= 5
    """,
    "facet_percentile_ranks": f"""
        WITH {_HITS_HASH_SQL},
        v AS (SELECT d.n_chars::DOUBLE AS x
              FROM hits h JOIN documents d USING (doc_id))
        SELECT
          (sum(CASE WHEN x <= 200 THEN 1 ELSE 0 END)::DOUBLE * 100.0
           / count(x)::DOUBLE) AS p200_0,
          (sum(CASE WHEN x <= 500 THEN 1 ELSE 0 END)::DOUBLE * 100.0
           / count(x)::DOUBLE) AS p500_0,
          (sum(CASE WHEN x <= 900 THEN 1 ELSE 0 END)::DOUBLE * 100.0
           / count(x)::DOUBLE) AS p900_0
        FROM v
    """,
    "percolate_bool": """
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        td AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
        d AS (
          SELECT doc_id,
                 max(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS hash,
                 max(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS jn,
                 max(CASE WHEN term = 'merge' THEN 1 ELSE 0 END) AS mrg,
                 max(CASE WHEN term = 'table' THEN 1 ELSE 0 END) AS tbl,
                 max(CASE WHEN term = 'sort' THEN 1 ELSE 0 END) AS srt
          FROM td GROUP BY doc_id
        )
        SELECT 1::BIGINT AS query_id, doc_id FROM d
        WHERE hash = 1 AND (jn + mrg) >= 1 AND tbl = 0
        UNION ALL
        SELECT 2::BIGINT, doc_id FROM d
        WHERE (hash + jn + mrg) >= 2
        UNION ALL
        SELECT 3::BIGINT, doc_id FROM d
        WHERE srt = 1 AND mrg = 0
    """,
    "composite_date_sources": f"""
        WITH {_HITS_HASH_SQL},
        keyed AS (
          SELECT date_trunc('month',
                   (DATE '2024-01-01'
                    + CAST(d.doc_id % 365 AS INT)))::TIMESTAMP AS m,
                 d.lang AS l
          FROM hits h JOIN documents d USING (doc_id)
          WHERE d.lang IS NOT NULL
        ),
        b AS (
          SELECT m, l, count(*)::BIGINT AS doc_count
          FROM keyed GROUP BY m, l
        ),
        ranked AS (
          SELECT *, row_number() OVER (ORDER BY m ASC, l ASC) AS rn
          FROM b
        )
        SELECT m, l, doc_count FROM ranked
        WHERE rn > 8 AND rn <= 16
    """,
    "facet_bucket_script": f"""
        WITH {_HITS_HASH_SQL},
        dated AS (
          SELECT h.doc_id,
                 (DATE '2024-01-01'
                  + CAST(d.doc_id % 365 AS INT)) AS release_date,
                 d.n_chars
          FROM hits h JOIN documents d USING (doc_id)
        ),
        b AS (
          SELECT date_trunc('month', release_date)::TIMESTAMP AS key,
                 count(*)::BIGINT AS doc_count,
                 sum(n_chars)::DOUBLE AS total
          FROM dated GROUP BY 1
        ),
        bounds AS (SELECT min(key) AS lo, max(key) AS hi FROM b),
        keys AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH))
            AS key FROM bounds
        ),
        filled AS (
          SELECT k.key, coalesce(b.doc_count, 0)::BIGINT AS doc_count,
                 coalesce(b.total, 0)::DOUBLE AS total
          FROM keys k LEFT JOIN b USING (key)
        )
        SELECT key, doc_count, total,
               (total / doc_count)::DOUBLE AS per_doc,
               (doc_count::DOUBLE
                / sum(doc_count::DOUBLE) OVER ())::DOUBLE AS share
        FROM filled
    """,
    "facet_rare_terms": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'dup')
        SELECT d.source AS key, count(*)::BIGINT AS doc_count
        FROM hits h JOIN documents d USING (doc_id)
        WHERE d.source IS NOT NULL
        GROUP BY d.source HAVING count(*) <= 2
        ORDER BY doc_count ASC, key ASC
    """,
    "facet_boxplot": f"""
        WITH {_HITS_HASH_SQL}
        SELECT min(d.n_chars)::DOUBLE AS min,
               quantile_cont(d.n_chars, 0.25)::DOUBLE AS q1,
               quantile_cont(d.n_chars, 0.5)::DOUBLE AS q2,
               quantile_cont(d.n_chars, 0.75)::DOUBLE AS q3,
               max(d.n_chars)::DOUBLE AS max
        FROM hits h JOIN documents d USING (doc_id)
    """,
    "facet_string_stats": f"""
        WITH {_HITS_HASH_SQL}
        SELECT count(*)::BIGINT AS count,
               min(length(d.text))::BIGINT AS min_length,
               max(length(d.text))::BIGINT AS max_length,
               (sum(length(d.text))::DOUBLE / count(*)::DOUBLE)
                 AS avg_length
        FROM hits h JOIN documents d USING (doc_id)
        WHERE d.text IS NOT NULL
    """,
    "span_unordered_search": f"""
        WITH {_SPAN_CORPUS_SQL},
        m AS (
          SELECT t0.doc_id, count(DISTINCT t0.p)::BIGINT AS tf
          FROM tok2 t0
          WHERE t0.term IN ('hash', 'join')
            AND EXISTS (SELECT 1 FROM tok2 a
                        WHERE a.doc_id = t0.doc_id AND a.term = 'hash'
                          AND a.p BETWEEN t0.p - 3 AND t0.p)
            AND EXISTS (SELECT 1 FROM tok2 b
                        WHERE b.doc_id = t0.doc_id AND b.term = 'join'
                          AND b.p BETWEEN t0.p - 3 AND t0.p)
          GROUP BY t0.doc_id
        ),
        {_SPAN_SCORE_SQL}
    """,
    "termvectors_export": f"""
        WITH {_SPAN_CORPUS_SQL},
        tv AS (
          SELECT doc_id, term, count(*)::BIGINT AS tf,
                 array_to_string(list((p - 1)::INT ORDER BY p), ',')
                   AS positions
          FROM tok2 WHERE doc_id IN (1, 2, 3, 4, 5)
          GROUP BY doc_id, term
        ),
        tfall AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                  FROM tok2 GROUP BY doc_id, term),
        st AS (SELECT term, count(*)::BIGINT AS df,
                      sum(tf)::BIGINT AS ttf
               FROM tfall GROUP BY term)
        SELECT tv.doc_id, tv.term, tv.tf, tv.positions, st.df, st.ttf
        FROM tv JOIN st USING (term)
    """,
    "knn_search": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 0),
        scored AS (
          SELECT vec_id AS doc_id,
                 round(list_dot_product(embedding::DOUBLE[], qv)
                       / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                embedding::DOUBLE[]))
                          * sqrt(list_dot_product(qv, qv))), 4) AS score
          FROM embeddings CROSS JOIN q
          WHERE label = 3
        )
        SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id ASC LIMIT 15
    """,
    "nested_terms_agg": f"""
        WITH {_HITS_HASH_SQL},
        dimmed AS (
          SELECT h.doc_id,
                 unnest([
                   'dim' || ((d.doc_id % 5))::VARCHAR,
                   'dim' || (((d.doc_id + 1) % 5))::VARCHAR
                 ]) AS name
          FROM hits h JOIN documents d USING (doc_id)
        ),
        b AS (
          SELECT name AS key, count(*)::BIGINT AS doc_count
          FROM dimmed GROUP BY name
        )
        SELECT key, doc_count FROM (
          SELECT *, row_number() OVER (
            ORDER BY doc_count DESC, key ASC) AS rn FROM b
        ) WHERE rn <= 10
    """,
    "percolate_matches": f"""
        WITH {_SPAN_CORPUS_SQL},
        terms_by_doc AS (
          SELECT doc_id, term FROM tok2 GROUP BY doc_id, term
        )
        SELECT 1::BIGINT AS query_id, doc_id FROM terms_by_doc
        WHERE term IN ('hash', 'quicksort') GROUP BY doc_id
        UNION ALL
        SELECT 2::BIGINT, doc_id FROM terms_by_doc
        WHERE term IN ('hash', 'join') GROUP BY doc_id
        HAVING count(DISTINCT term) = 2
        UNION ALL
        SELECT 3::BIGINT, t0.doc_id FROM tok2 t0
        WHERE t0.term = 'hash' AND EXISTS (
          SELECT 1 FROM tok2 t1 WHERE t1.doc_id = t0.doc_id
            AND t1.term = 'join' AND t1.p = t0.p + 1)
        GROUP BY t0.doc_id
        UNION ALL
        SELECT 4::BIGINT, doc_id FROM terms_by_doc
        WHERE term IN ('merge', 'sort') GROUP BY doc_id
        HAVING count(DISTINCT term) = 2
        UNION ALL
        SELECT 5::BIGINT, t0.doc_id FROM tok2 t0
        WHERE t0.term = 'merge' AND EXISTS (
          SELECT 1 FROM tok2 t1 WHERE t1.doc_id = t0.doc_id
            AND t1.term = 'sort' AND t1.p = t0.p + 1)
        GROUP BY t0.doc_id
    """,
    "facet_weighted_avg": f"""
        WITH {_HITS_HASH_SQL}
        SELECT sum(d.n_chars::DOUBLE * d.doc_id::DOUBLE)
               / sum(d.doc_id::DOUBLE) AS value
        FROM hits h JOIN documents d USING (doc_id)
    """,
    "facet_top_metrics": f"""
        WITH {_HITS_HASH_SQL}
        SELECT d.doc_id, d.n_chars
        FROM hits h JOIN documents d USING (doc_id)
        ORDER BY d.n_chars DESC, d.doc_id ASC LIMIT 7
    """,
    "facet_mad": f"""
        WITH {_HITS_HASH_SQL}
        SELECT mad(d.n_chars::DOUBLE)::DOUBLE AS value
        FROM hits h JOIN documents d USING (doc_id)
    """,
    "intervals_search": f"""
        WITH {_SPAN_CORPUS_SQL},
        m AS (
          SELECT t0.doc_id, count(DISTINCT t0.p)::BIGINT AS tf
          FROM tok2 t0
          JOIN tok2 t1 ON t1.doc_id = t0.doc_id
            AND t1.term IN ('join', 'merge')
            AND t1.p > t0.p AND t1.p <= t0.p + 3
          WHERE t0.term = 'hash'
          GROUP BY t0.doc_id
        ),
        {_SPAN_SCORE_SQL}
    """,
    "adjacency_matrix_facets": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash'),
        d AS (
          SELECT h.doc_id,
                 (dc.lang = 'en') AS f_en,
                 (dc.n_chars >= 300) AS f_long,
                 ((DATE '2024-01-01' + CAST(dc.doc_id % 365 AS INT))
                  < DATE '2024-04-01') AS f_early
          FROM hits h JOIN documents dc USING (doc_id)
        ),
        counts AS (
          SELECT 'en' AS key,
                 sum(CASE WHEN f_en THEN 1 ELSE 0 END)::BIGINT
                 AS doc_count FROM d
          UNION ALL SELECT 'long',
                 sum(CASE WHEN f_long THEN 1 ELSE 0 END)::BIGINT FROM d
          UNION ALL SELECT 'early',
                 sum(CASE WHEN f_early THEN 1 ELSE 0 END)::BIGINT FROM d
          UNION ALL SELECT 'en&long',
                 sum(CASE WHEN f_en AND f_long THEN 1 ELSE 0
                     END)::BIGINT FROM d
          UNION ALL SELECT 'en&early',
                 sum(CASE WHEN f_en AND f_early THEN 1 ELSE 0
                     END)::BIGINT FROM d
          UNION ALL SELECT 'long&early',
                 sum(CASE WHEN f_long AND f_early THEN 1 ELSE 0
                     END)::BIGINT FROM d
        )
        SELECT key, doc_count FROM counts WHERE doc_count > 0
    """,
    "date_range_facets": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash'),
        d AS (
          SELECT (DATE '2024-01-01'
                  + CAST(dc.doc_id % 365 AS INT))::TIMESTAMP AS rd
          FROM hits h JOIN documents dc USING (doc_id)
        )
        SELECT 'q1' AS key,
               sum(CASE WHEN rd < TIMESTAMP '2024-04-01' THEN 1 ELSE 0
                   END)::BIGINT AS doc_count FROM d
        UNION ALL SELECT 'q2',
               sum(CASE WHEN rd >= TIMESTAMP '2024-04-01'
                   AND rd < TIMESTAMP '2024-07-01' THEN 1 ELSE 0
                   END)::BIGINT FROM d
        UNION ALL SELECT '2024-07-01-*',
               sum(CASE WHEN rd >= TIMESTAMP '2024-07-01' THEN 1 ELSE 0
                   END)::BIGINT FROM d
    """,
    "explain_score": f"""
        WITH qt(term) AS (VALUES ('hash'), ('join')),
        {_BM25_CORPUS_SQL}
        SELECT t.doc_id, t.term, t.tf, d.df,
               round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)),
                     4) AS idf,
               round(t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl)), 4) AS tf_norm,
               round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl)), 4) AS contribution
        FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
        JOIN dl_docs dd ON t.doc_id = dd.doc_id
        CROSS JOIN stats s
    """,
    "rank_feature_search": """
        SELECT doc_id,
               round(2.0 * ln(1.0 + 0.01 * n_chars), 4) AS score
        FROM documents WHERE n_chars > 0
        ORDER BY score DESC, doc_id ASC LIMIT 20
    """,
    "distance_feature_search": """
        SELECT doc_id,
               round(1.5 * 200.0 / (200.0 + abs(n_chars - 800)), 4)
                 AS score
        FROM documents WHERE n_chars IS NOT NULL
        ORDER BY score DESC, doc_id ASC LIMIT 15
    """,
    "terms_set_search": f"""
        WITH qt(term) AS (VALUES ('hash'), ('join'), ('merge'),
                                 ('sort')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score,
                 count(DISTINCT t.term)::BIGINT AS nm
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        kept AS (
          SELECT doc_id, round(score, 4) AS score
          FROM scored WHERE nm >= (doc_id % 3 + 1)
        )
        SELECT doc_id, score FROM kept
        ORDER BY score DESC, doc_id ASC LIMIT 25
    """,
    "span_near_search": f"""
        WITH {_SPAN_CORPUS_SQL},
        m AS (
          SELECT t0.doc_id, count(DISTINCT t0.p)::BIGINT AS tf
          FROM tok2 t0
          JOIN tok2 t1 ON t1.doc_id = t0.doc_id
            AND t1.term IN ('join', 'merge')
            AND t1.p > t0.p AND t1.p <= t0.p + 4
            AND t1.p <= 120
          WHERE t0.term = 'hash'
          GROUP BY t0.doc_id
        ),
        {_SPAN_SCORE_SQL}
    """,
    "span_not_search": f"""
        WITH {_SPAN_CORPUS_SQL},
        m AS (
          SELECT t0.doc_id, count(*)::BIGINT AS tf
          FROM tok2 t0
          WHERE t0.term = 'hash' AND NOT EXISTS (
            SELECT 1 FROM tok2 e WHERE e.doc_id = t0.doc_id
              AND e.term IN ('join', 'table')
              AND e.p BETWEEN t0.p - 1 AND t0.p + 1)
          GROUP BY t0.doc_id
        ),
        {_SPAN_SCORE_SQL}
    """,
    "es_dsl_pipeline_aggs": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash'),
        dated AS (
          SELECT h.doc_id,
                 (DATE '2024-01-01'
                  + CAST(d.doc_id % 365 AS INT)) AS release_date,
                 d.n_chars
          FROM hits h JOIN documents d USING (doc_id)
        ),
        b AS (
          SELECT date_trunc('week', release_date)::TIMESTAMP AS key,
                 count(*)::BIGINT AS doc_count,
                 sum(n_chars)::DOUBLE AS total
          FROM dated GROUP BY 1
        ),
        bounds AS (SELECT min(key) AS lo, max(key) AS hi FROM b),
        keys AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 WEEK)) AS key
          FROM bounds
        ),
        filled AS (
          SELECT k.key,
                 coalesce(b.doc_count, 0)::BIGINT AS doc_count,
                 coalesce(b.total, 0)::DOUBLE AS total
          FROM keys k LEFT JOIN b USING (key)
        )
        SELECT key, doc_count, total,
               (total - lag(total) OVER w)::DOUBLE AS deriv,
               sum(doc_count) OVER (ORDER BY key
                 ROWS UNBOUNDED PRECEDING)::DOUBLE AS cum,
               avg(total) OVER (ORDER BY key
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)::DOUBLE
                 AS mavg
        FROM filled WINDOW w AS (ORDER BY key)
    """,
    "es_dsl_bucket_sort": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash'),
        b AS (
          SELECT d.lang AS key, count(*)::BIGINT AS doc_count,
                 (sum(d.n_chars)::DOUBLE
                  / count(d.n_chars)::DOUBLE) AS avg_len
          FROM hits h JOIN documents d USING (doc_id)
          WHERE d.lang IS NOT NULL
          GROUP BY d.lang HAVING count(*) >= 3
        )
        SELECT key, doc_count, avg_len FROM b
        ORDER BY avg_len DESC, key ASC LIMIT 5
    """,
    "es_dsl_stats_bucket": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'dup'),
        dated AS (
          SELECT h.doc_id,
                 (DATE '2024-01-01'
                  + CAST(d.doc_id % 365 AS INT)) AS release_date
          FROM hits h JOIN documents d USING (doc_id)
        ),
        b AS (
          SELECT date_trunc('day', release_date)::TIMESTAMP AS key,
                 count(*)::BIGINT AS doc_count
          FROM dated GROUP BY 1
        ),
        bounds AS (SELECT min(key) AS lo, max(key) AS hi FROM b),
        keys AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS key
          FROM bounds
        ),
        filled AS (
          SELECT coalesce(b.doc_count, 0)::DOUBLE AS v
          FROM keys k LEFT JOIN b USING (key)
        )
        SELECT count(v)::BIGINT AS count, min(v)::DOUBLE AS min,
               max(v)::DOUBLE AS max, avg(v)::DOUBLE AS avg,
               sum(v)::DOUBLE AS sum
        FROM filled
    """,
    "es_dsl_script_score": f"""
        WITH qt(term) AS (VALUES ('hash'), ('join')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS base
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        rescored AS (
          SELECT sc.doc_id,
                 round(sc.base * (dc.n_chars
                                  / (dc.n_chars + 500.0::DOUBLE))
                       + log10(1.0::DOUBLE + dc.n_chars), 4) AS score
          FROM scored sc JOIN documents dc ON sc.doc_id = dc.doc_id
        )
        SELECT doc_id, score FROM rescored
        ORDER BY score DESC, doc_id ASC LIMIT 25
    """,
    "es_dsl_pinned": f"""
        WITH qt(term) AS (VALUES ('hash'), ('join')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS base
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        pins(doc_id, score) AS (VALUES
          (7, 1000000000.0), (3, 999999999.0),
          (999999999, 999999998.0)),
        pe AS (
          SELECT p.doc_id::BIGINT AS doc_id, p.score::DOUBLE AS score
          FROM pins p JOIN documents d ON p.doc_id = d.doc_id
        ),
        org AS (
          SELECT sc.doc_id, round(sc.base, 4)::DOUBLE AS score
          FROM scored sc
          WHERE sc.doc_id NOT IN (SELECT doc_id FROM pins)
        ),
        u AS (SELECT * FROM pe UNION ALL SELECT * FROM org)
        SELECT doc_id, score FROM u
        ORDER BY score DESC, doc_id ASC LIMIT 15
    """,
    "es_dsl_significant_terms": """
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
               WHERE term <> '' GROUP BY doc_id, term),
        stats AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        fg AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'hash'),
        fgtot AS (SELECT count(*)::BIGINT AS n FROM fg),
        fgt AS (
          SELECT term, count(*)::BIGINT AS fg_df
          FROM tf JOIN fg USING (doc_id)
          GROUP BY term HAVING count(*) >= 3
        ),
        j AS (
          SELECT fgt.term, fgt.fg_df, dfs.df AS bg_df,
                 round(
                   (fgt.fg_df::DOUBLE / t.n - dfs.df::DOUBLE / s.n_docs)
                   * ((fgt.fg_df::DOUBLE / t.n)
                      / (dfs.df::DOUBLE / s.n_docs)),
                 4) AS jlh
          FROM fgt JOIN dfs USING (term)
          CROSS JOIN stats s CROSS JOIN fgtot t
        )
        SELECT term, fg_df, bg_df, jlh FROM (
          SELECT *, row_number() OVER (ORDER BY jlh DESC, term ASC)
            AS rn FROM j
        ) WHERE rn <= 15
    """,
    "es_dsl_function_decay": f"""
        WITH qt(term) AS (VALUES ('hash'), ('join')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS base
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        boosted AS (
          SELECT sc.doc_id,
                 round(sc.base * least(
                   exp(-pow(greatest(0.0, abs(dc.n_chars - 800.0)), 2)
                       / (2.0 * (-(400.0 * 400.0) / (2.0 * ln(0.5)))))
                   * 2.0
                   + CASE WHEN dc.lang = 'en' THEN 3.0 ELSE 0.0 END,
                   4.0), 4) AS score
          FROM scored sc JOIN documents dc ON sc.doc_id = dc.doc_id
        )
        SELECT doc_id, score FROM boosted
        ORDER BY score DESC, doc_id ASC LIMIT 30
    """,
    "token_positions": """
        WITH base AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                             '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM documents WHERE doc_id < 30
        )
        SELECT doc_id,
               unnest(generate_series(1, len(toks)))::BIGINT - 1
                 AS position,
               unnest(toks) AS token
        FROM base
    """,
    "es_dsl_missing_buckets": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash'),
        j AS (
          SELECT CASE WHEN d.doc_id % 7 = 0 THEN NULL
                 ELSE d.lang END AS lang
          FROM hits h JOIN documents d USING (doc_id)
        ),
        dropb AS (
          SELECT 'drop' AS agg, lang AS key, count(*)::BIGINT AS doc_count
          FROM j WHERE lang IS NOT NULL GROUP BY lang
        ),
        keepb AS (
          SELECT 'keep' AS agg, coalesce(lang, 'unknown') AS key,
                 count(*)::BIGINT AS doc_count
          FROM j GROUP BY coalesce(lang, 'unknown')
        ),
        miss AS (
          SELECT 'missing' AS agg, '-' AS key,
                 sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS doc_count
          FROM j
        )
        SELECT * FROM dropb UNION ALL
        SELECT * FROM keepb UNION ALL
        SELECT * FROM miss
    """,
    "es_dsl_filters": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN ('hash', 'join')),
        j AS (SELECT d.n_chars, d.lang
              FROM hits h JOIN documents d USING (doc_id)),
        agg AS (
          SELECT sum(CASE WHEN n_chars < 500 THEN 1 ELSE 0 END)::BIGINT
                   AS b_short,
                 sum(CASE WHEN n_chars >= 1500 THEN 1 ELSE 0 END)::BIGINT
                   AS b_long,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                   AS b_en
          FROM j
        )
        SELECT 'short' AS key, b_short AS doc_count FROM agg
        UNION ALL SELECT 'long', b_long FROM agg
        UNION ALL SELECT 'en', b_en FROM agg
    """,
    "es_dsl_count": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN ('hash', 'join'))
        SELECT count(*)::BIGINT AS count
        FROM hits h JOIN documents d USING (doc_id)
        WHERE d.n_chars >= 300 AND d.n_chars <= 1500
    """,
    "es_dsl_msearch": f"""
        WITH qt(slot, term) AS (VALUES
          (0, 'hash'), (0, 'join'),
          (1, 'window'), (1, 'agg'),
          (2, 'dup')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT q.slot, t.doc_id,
                 round(sum(ln(1.0 + (s.n_docs - d.df + 0.5)
                              / (d.df + 0.5))
                       * t.tf * (1.2 + 1.0)
                       / (t.tf + 1.2 * ((1.0 - 0.75)
                          + 0.75 * dd.dl / s.avgdl))), 4) AS score
          FROM tf t JOIN qt q USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY q.slot, t.doc_id
        ),
        ranked AS (
          SELECT slot, doc_id, score,
                 row_number() OVER (PARTITION BY slot
                                    ORDER BY score DESC, doc_id ASC) AS rn
          FROM scored
        )
        SELECT slot::BIGINT AS slot, doc_id, score FROM ranked
        WHERE rn <= CASE slot WHEN 0 THEN 10 WHEN 1 THEN 5 ELSE 3 END
    """,
    "es_dsl_date_histogram": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'dup'),
        dated AS (
          SELECT h.doc_id,
                 (DATE '2024-01-01'
                  + CAST(d.doc_id % 365 AS INT)) AS release_date,
                 d.n_chars
          FROM hits h JOIN documents d USING (doc_id)
        ),
        b AS (
          SELECT date_trunc('day', release_date)::TIMESTAMP AS key,
                 count(*)::BIGINT AS doc_count,
                 sum(n_chars)::DOUBLE AS sum_chars
          FROM dated GROUP BY 1
        ),
        bounds AS (SELECT min(key) AS lo, max(key) AS hi FROM b),
        keys AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS key
          FROM bounds
        )
        SELECT k.key,
               coalesce(b.doc_count, 0)::BIGINT AS doc_count,
               coalesce(b.sum_chars, 0)::DOUBLE AS sum_chars
        FROM keys k LEFT JOIN b USING (key)
    """,
    "es_dsl_query_string": f"""
        WITH qt(term) AS (VALUES ('hash'), ('merge'), ('join')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score,
                 max(CASE WHEN t.term IN ('hash', 'merge')
                     THEN 1 ELSE 0 END) AS has_hm,
                 max(CASE WHEN t.term = 'join' THEN 1 ELSE 0 END) AS has_j
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        keep AS (
          SELECT sc.doc_id, round(sc.score + 1.0, 4) AS score
          FROM scored sc JOIN documents dc ON sc.doc_id = dc.doc_id
          WHERE sc.has_hm = 1 AND sc.has_j = 1
            AND dc.n_chars >= 300 AND dc.n_chars <= 1500
            AND NOT EXISTS (SELECT 1 FROM tf x
                            WHERE x.doc_id = sc.doc_id
                              AND x.term = 'scan')
        )
        SELECT doc_id, score FROM keep
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
    "es_dsl_simple_query_string": f"""
        WITH {_BM25_CORPUS_SQL},
        exp AS (
          SELECT term FROM (
            SELECT term, row_number() OVER (
              ORDER BY df DESC, term ASC) AS rn
            FROM dfs WHERE term LIKE 's%'
          ) WHERE rn <= 50
        ),
        qt AS (SELECT 'hash' AS term UNION SELECT term FROM exp),
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score,
                 max(CASE WHEN t.term = 'hash' THEN 1 ELSE 0 END) AS h,
                 max(CASE WHEN t.term <> 'hash' THEN 1 ELSE 0 END) AS e
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        )
        SELECT doc_id, round(score, 4) AS score FROM scored
        WHERE h = 1 AND e = 1
        ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
    """,
    "terms_metric_facets": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN ('hash', 'join')),
        j AS (SELECT d.lang, d.source, d.n_chars
              FROM hits h JOIN documents d USING (doc_id)),
        b AS (
          SELECT lang AS key, count(*)::BIGINT AS doc_count,
                 (sum(n_chars)::DOUBLE
                  / count(n_chars)::DOUBLE) AS avg_chars,
                 sum(n_chars)::DOUBLE AS total_chars,
                 count(DISTINCT source)::BIGINT AS nsrc
          FROM j GROUP BY lang
        )
        SELECT key, doc_count, avg_chars, total_chars, nsrc FROM b
        ORDER BY avg_chars DESC, key ASC LIMIT 3
    """,
    "nested_terms_facets": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN ('hash', 'join')),
        j AS (SELECT d.lang, d.source, d.n_chars
              FROM hits h JOIN documents d USING (doc_id)),
        cb AS (
          SELECT lang AS key, source AS sub_key,
                 count(*)::BIGINT AS sub_count,
                 (sum(n_chars)::DOUBLE
                  / count(n_chars)::DOUBLE) AS avg_chars
          FROM j GROUP BY lang, source
        ),
        parents AS (
          SELECT key, sum(sub_count)::BIGINT AS doc_count
          FROM cb GROUP BY key
        )
        SELECT cb.key, p.doc_count, cb.sub_key, cb.sub_count, cb.avg_chars
        FROM cb JOIN parents p USING (key)
        QUALIFY row_number() OVER (
          PARTITION BY cb.key
          ORDER BY cb.sub_count DESC, cb.sub_key ASC) <= 2
    """,
    "es_dsl_search": f"""
        WITH qt(term) AS (VALUES ('hash'), ('join')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        filt AS (
          SELECT sc.doc_id, round(sc.score, 4) AS score
          FROM scored sc JOIN documents dc ON sc.doc_id = dc.doc_id
          WHERE dc.n_chars >= 300 AND dc.n_chars <= 1500
        )
        SELECT doc_id, score FROM filt
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
    "es_dsl_facets": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks
                 WHERE term IN ('window', 'agg')),
        g AS (
          SELECT d.lang AS key, count(*)::BIGINT AS doc_count
          FROM hits h JOIN documents d USING (doc_id)
          GROUP BY d.lang
        )
        SELECT key, doc_count FROM g
        ORDER BY doc_count DESC, key ASC LIMIT 5
    """,
    "es_dsl_sorted": """
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash')
        SELECT h.doc_id, d.n_chars
        FROM hits h JOIN documents d USING (doc_id)
        ORDER BY d.n_chars DESC, h.doc_id ASC LIMIT 10
    """,
    "es_dsl_suggest": """
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+')) AS term
          FROM documents
        ),
        tf AS (SELECT doc_id, term FROM toks WHERE term <> ''
               GROUP BY doc_id, term),
        dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)
        SELECT term, df FROM dfs WHERE term LIKE 's%'
        ORDER BY df DESC, term ASC LIMIT 5
    """,
    "es_dsl_highlight": f"""
        WITH qt(term) AS (VALUES ('hash'), ('join')),
        {_BM25_CORPUS_SQL},
        scored AS (
          SELECT t.doc_id,
                 sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * t.tf * (1.2 + 1.0)
                     / (t.tf + 1.2 * ((1.0 - 0.75)
                        + 0.75 * dd.dl / s.avgdl))) AS score
          FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
          JOIN dl_docs dd ON t.doc_id = dd.doc_id
          CROSS JOIN stats s
          GROUP BY t.doc_id
        ),
        top10 AS (
          SELECT doc_id FROM scored
          ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
        ),
        tk AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                   '[^a-z0-9]+'), x -> x <> '') AS tk
          FROM documents JOIN top10 USING (doc_id)
        ),
        h AS (
          SELECT doc_id, term, tk, list_position(tk, term) AS pos1
          FROM tk CROSS JOIN qt
        )
        SELECT doc_id, term, (pos1 - 1)::BIGINT AS pos,
               array_to_string(tk[greatest(pos1 - 5, 1)
                 : greatest(pos1 - 5, 1) + 10], ' ') AS snippet
        FROM h WHERE pos1 > 0
    """,
    "duplicate_spans": f"""
        WITH aug AS ({_AUG_SQL}),
        toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                   '[^a-z0-9]+'), x -> x <> '') AS tk
          FROM aug
        ),
        pos AS (
          SELECT doc_id, unnest(generate_series(1, len(tk) - 7)) AS i, tk
          FROM toks WHERE len(tk) >= 8
        ),
        sh AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(tk[i : i + 7], ' ') AS shingle
          FROM pos
        ),
        dup AS (
          SELECT shingle FROM sh GROUP BY shingle
          HAVING count(DISTINCT doc_id) >= 2
        ),
        m AS (SELECT DISTINCT doc_id, pos FROM sh JOIN dup USING (shingle)),
        g AS (
          SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER w IS NULL
                           OR pos - lag(pos) OVER w > 8
                      THEN 1 ELSE 0 END AS new_isl
          FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        s AS (
          SELECT doc_id, pos,
                 sum(new_isl) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS island
          FROM g
        )
        SELECT doc_id, min(pos)::BIGINT AS start_pos,
               (max(pos) + 8)::BIGINT AS end_pos,
               (max(pos) + 8 - min(pos))::BIGINT AS n_tokens
        FROM s GROUP BY doc_id, island
    """,
    "sorted_search": f"""
        WITH {_MATCH_HITS_SQL}
        SELECT query_id, h.doc_id, d.n_chars
        FROM hits h JOIN documents d ON h.doc_id = d.doc_id
        QUALIFY row_number() OVER (
          PARTITION BY query_id ORDER BY d.n_chars DESC, h.doc_id ASC) <= 10
    """,
    "facet_counts": f"""
        WITH {_MATCH_HITS_SQL},
        j AS (
          SELECT h.query_id, d.doc_id, d.lang, d.source
          FROM hits h JOIN documents d ON h.doc_id = d.doc_id
        ),
        b AS (
          SELECT query_id, 'lang' AS facet, lang AS key,
                 count(*)::BIGINT AS doc_count FROM j GROUP BY 1, 3
          UNION ALL
          SELECT query_id, 'source' AS facet, source AS key,
                 count(*)::BIGINT AS doc_count FROM j GROUP BY 1, 3
        )
        SELECT query_id, facet, key, doc_count FROM b
        QUALIFY row_number() OVER (
          PARTITION BY query_id, facet
          ORDER BY doc_count DESC, key ASC) <= 5
    """,
    "facet_date_histogram": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               count(*)::BIGINT AS doc_count,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_type = 'click' AND value >= 10.0
        GROUP BY 1
    """,
    "sessionize_events": """
        WITH g AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        s AS (
          SELECT user_id, ts,
                 sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 )::BIGINT AS session_id
          FROM g
        )
        SELECT user_id, session_id, count(*)::BIGINT AS n_events,
               (floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT) AS session_seconds
        FROM s GROUP BY user_id, session_id
    """,
    "bm25_conjunctive": """
        WITH q(query_id, query_text) AS (
          VALUES (1, 'hash join merge'), (2, 'window agg'), (3, 'the zzznope')
        ),
        qt AS (
          SELECT DISTINCT query_id,
                 unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
          FROM q
        ),
        qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
        nt AS (SELECT query_id, count(*)::BIGINT AS n FROM qt2 GROUP BY query_id),
        toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
          FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
               WHERE term <> '' GROUP BY doc_id, term),
        dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks
               WHERE term <> '' GROUP BY doc_id),
        dl_docs AS (
          SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents),
        stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_docs),
        dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        matched AS (
          SELECT qt2.query_id, tf.doc_id
          FROM qt2 JOIN tf USING (term)
          GROUP BY qt2.query_id, tf.doc_id
          HAVING count(*) = (SELECT n FROM nt WHERE nt.query_id = qt2.query_id)
        ),
        scored AS (
          SELECT qt2.query_id, tf.doc_id,
                 sum(
                   ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
                   * tf.tf * (1.2 + 1.0)
                   / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
                 ) AS score
          FROM qt2
          JOIN dfs USING (term)
          JOIN tf USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats s
          GROUP BY qt2.query_id, tf.doc_id
        ),
        ranked AS (
          SELECT sc.query_id, sc.doc_id, round(sc.score, 4) AS score,
                 row_number() OVER (
                   PARTITION BY sc.query_id
                   ORDER BY round(sc.score, 4) DESC, sc.doc_id ASC
                 ) AS rn
          FROM scored sc JOIN matched m
            ON m.query_id = sc.query_id AND m.doc_id = sc.doc_id
        )
        SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
    """,
    "simhash_fingerprints": r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
          WHERE term <> '' GROUP BY doc_id, term
        ),
        h AS (
          SELECT doc_id, tf,
                 ('0x' || substr(md5(term), 1, 16))::UBIGINT AS hv
          FROM tf
        ),
        bits AS (
          SELECT doc_id, b.bit,
                 sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN tf ELSE -tf END) AS acc
          FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
          GROUP BY doc_id, b.bit
        ),
        fp0 AS (
          SELECT doc_id,
                 sum(CASE WHEN acc > 0 THEN (1::UBIGINT << bit) ELSE 0::UBIGINT END)::UBIGINT AS fp
          FROM bits GROUP BY doc_id
        )
        SELECT doc_id,
               CASE WHEN fp >= 9223372036854775808::UBIGINT
                    THEN (fp::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                    ELSE fp::BIGINT END AS simhash
        FROM fp0
    """,
    "winnowing_fingerprints": r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
                 generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
          FROM documents
        ),
        tok2 AS (
          SELECT doc_id, term,
                 row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
          FROM toks WHERE term <> ''
        ),
        grams AS (
          SELECT a.doc_id, a.p,
                 a.term || ' ' || b.term || ' ' || c.term || ' ' || d.term
                        || ' ' || e.term AS g
          FROM tok2 a
          JOIN tok2 b ON b.doc_id = a.doc_id AND b.p = a.p + 1
          JOIN tok2 c ON c.doc_id = a.doc_id AND c.p = a.p + 2
          JOIN tok2 d ON d.doc_id = a.doc_id AND d.p = a.p + 3
          JOIN tok2 e ON e.doc_id = a.doc_id AND e.p = a.p + 4
        ),
        h AS (
          SELECT doc_id, p,
                 ('0x' || substr(md5(g), 1, 16))::UBIGINT AS hv,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM grams
        ),
        wins AS (
          SELECT doc_id,
                 min(hv) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
          FROM h WHERE TRUE QUALIFY p <= greatest(n - 3, 1)
        )
        SELECT DISTINCT doc_id,
               CASE WHEN mh >= 9223372036854775808::UBIGINT
                    THEN (mh::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                    ELSE mh::BIGINT END AS fp
        FROM wins
    """,
    "windowed_event_counts": """
        SELECT date_trunc('hour', ts) AS win_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
               event_type,
               count(*)::BIGINT AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    "dedup_exact_groups": f"""
        SELECT md5(text) AS content_hash, count(*)::BIGINT AS n_dups,
               min(doc_id) AS keep_doc_id
        FROM ({_AUG_SQL}) GROUP BY md5(text) HAVING count(*) > 1
    """,
    "dedup_keep_representatives": f"""
        WITH aug AS ({_AUG_SQL}),
        keep AS (SELECT min(doc_id) AS doc_id FROM aug GROUP BY md5(text))
        SELECT a.doc_id, length(a.text)::BIGINT AS text_len
        FROM aug a JOIN keep USING (doc_id)
    """,
    "ngram_jaccard_global_diag": f"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
                 generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
          FROM ({_AUG_SQL})
        ),
        tok2 AS (
          SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
          FROM toks WHERE term <> ''
        ),
        sh AS (
          SELECT DISTINCT a.doc_id,
                 a.term || ' ' || b.term || ' ' || c.term AS shingle
          FROM tok2 a
          JOIN tok2 b ON a.doc_id = b.doc_id AND b.p = a.p + 1
          JOIN tok2 c ON a.doc_id = c.doc_id AND c.p = a.p + 2
        ),
        sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(i::DOUBLE / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(i::DOUBLE / (sa.n_sh + sb.n_sh - i), 4) >= 0.5
    """,
    "minhash_est_jaccard": None,  # assigned below from _MINHASH_CTES
    "ngram_jaccard_lsh": None,    # assigned below from _MINHASH_CTES
    "bool_search": _bool_search_sql(),
    "phrase_search_slop": _phrase_search_slop_sql(),
    "synonym_search": _synonym_search_sql(),
    "more_like_this": _MLT_SQL,
    "significant_terms": _SIGTERMS_SQL,
    "completion_suggest": _SUGGEST_SQL,
    "function_score": _FUNCTION_SCORE_SQL,
    "wildcard_search": _wildcard_search_sql(),
    "nested_dimension_search": _NESTED_SQL,
    "boosting_search": _BOOSTING_SQL,
    "decontamination_overlap": _DECON_SQL,
    "stratified_sample": _stratified_sample_sql(),
    "field_collapse": _field_collapse_sql(),
    "spell_suggest": _spell_suggest_sql(),
    "language_id": _langid_sql(),
    "token_counts": r"""
        SELECT doc_id,
          len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))::BIGINT AS ws_tokens,
          len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS analyzer_tokens,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'))::BIGINT AS bpeish_tokens
        FROM documents
    """,
    "quality_scores": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
          FROM documents
        ), f AS (
          SELECT doc_id, len(toks)::BIGINT AS n,
                 CASE WHEN len(toks) > 0 THEN
                   list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                 ELSE 0.0 END AS mean_len,
                 CASE WHEN len(toks) > 0 THEN
                   len(list_filter(toks, x -> list_contains([{SW}], x)))::DOUBLE / len(toks)
                 ELSE 0.0 END AS stop_ratio
          FROM t
        )
        SELECT doc_id, n AS n_tokens,
               round(mean_len, 4) AS mean_token_len,
               round(stop_ratio, 4) AS stopword_ratio,
               round(
                 (CASE WHEN n >= 20 AND n <= 100000 THEN 0.4::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 0.3::DOUBLE ELSE 0.0 END)
                 + (CASE WHEN stop_ratio >= 0.01 AND stop_ratio <= 0.6 THEN 0.3::DOUBLE ELSE 0.0 END)
               , 2) AS quality_score
        FROM f
    """,
    "pii_stats": r"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact u' || doc_id || '@example.com'
                      || ' host 10.0.' || (doc_id % 256) || '.7 tel +1 415 555 01'
                      || lpad((doc_id % 100)::VARCHAR, 2, '0') AS text
          FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
               len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4,
               len(regexp_extract_all(text, '\+?\d[\d\s().-]{7,}\d'))::BIGINT AS n_phones
        FROM aug
    """,
    "strip_html": r"""
        WITH aug AS (
          SELECT doc_id,
                 '<html><body><p class="x">' || text
                 || '</p><script>var x = 1 &amp;&amp; 2;</script>'
                 || '<div>tail &lt;ok&gt;</div></body></html>' AS text
          FROM documents
        )
        SELECT doc_id,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                       '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                     '(?s)<[^>]+>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g')) AS clean_text
        FROM aug
    """,
    "repetition_stats": r"""
        WITH lines AS (
          SELECT doc_id,
                 list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
          FROM documents
        ),
        linestats AS (
          SELECT doc_id,
                 CASE WHEN len(ls) > 0
                      THEN round(1.0 - len(list_distinct(ls))::DOUBLE / len(ls), 4)
                      ELSE 0.0 END AS dup_line_frac
          FROM lines
        ),
        toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
                 generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
          FROM documents
        ),
        tok2 AS (
          SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
          FROM toks WHERE term <> ''
        ),
        g2 AS (
          SELECT a.doc_id, a.term || ' ' || b.term AS g, count(*)::BIGINT AS c
          FROM tok2 a JOIN tok2 b ON b.doc_id = a.doc_id AND b.p = a.p + 1
          GROUP BY a.doc_id, a.term || ' ' || b.term
        ),
        t2 AS (
          SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 4) AS top_2gram_frac
          FROM g2 GROUP BY doc_id
        ),
        g3 AS (
          SELECT a.doc_id, a.term || ' ' || b.term || ' ' || c3.term AS g,
                 count(*)::BIGINT AS c
          FROM tok2 a
          JOIN tok2 b ON b.doc_id = a.doc_id AND b.p = a.p + 1
          JOIN tok2 c3 ON c3.doc_id = a.doc_id AND c3.p = a.p + 2
          GROUP BY a.doc_id, a.term || ' ' || b.term || ' ' || c3.term
        ),
        t3 AS (
          SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 4) AS top_3gram_frac
          FROM g3 GROUP BY doc_id
        )
        SELECT l.doc_id, l.dup_line_frac,
               coalesce(t2.top_2gram_frac, 0.0) AS top_2gram_frac,
               coalesce(t3.top_3gram_frac, 0.0) AS top_3gram_frac
        FROM linestats l
        LEFT JOIN t2 USING (doc_id)
        LEFT JOIN t3 USING (doc_id)
    """,
    "doc_fingerprints": """
        SELECT doc_id, md5(text) AS exact_md5,
               md5(array_to_string(
                 list_sort(list_distinct(
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> ''))), ' ')) AS termset_md5
        FROM documents
    """,
    "embedding_cosine_topk": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id,
                 round(list_dot_product(embedding::DOUBLE[], qv)
                       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                          * sqrt(list_dot_product(qv, qv))), 4) AS cosine
          FROM embeddings CROSS JOIN q
        )
        SELECT vec_id, cosine FROM scored
        ORDER BY cosine DESC, vec_id ASC LIMIT 20
    """,
}

# inject stopword list into the quality oracle
from dp_search_data_importer_spark.config import ENGLISH_STOPWORDS as _SW  # noqa: E402

EXT_ORACLES["quality_scores"] = EXT_ORACLES["quality_scores"].replace(
    "{SW}", ", ".join(f"'{w}'" for w in sorted(_SW))
)

# ---------------------------------------------------------------------------
# shared MinHash-LSH CTE chain over the augmented corpus — mirrors
# dd.minhash_signatures / dd.minhash_candidates exactly (deterministic md5
# "permutations", so the candidate set is bit-identical across engines)

_MINHASH_CTES = f"""
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM ({_AUG_SQL})
    ),
    tok2 AS (
      SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM toks WHERE term <> ''
    ),
    sh AS (
      SELECT DISTINCT a.doc_id,
             a.term || ' ' || b.term || ' ' || c.term AS shingle
      FROM tok2 a
      JOIN tok2 b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      JOIN tok2 c ON a.doc_id = c.doc_id AND c.p = a.p + 2
    ),
    seeds AS (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS seed),
    mh AS (
      SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || shingle)) AS mh
      FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    sig AS (
      SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, band,
             md5(array_to_string(sig[band * {N_HASHES // BANDS} + 1 :
                                     (band + 1) * {N_HASHES // BANDS}], '|')) AS bh
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {BANDS - 1})) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
"""

EXT_ORACLES["minhash_est_jaccard"] = f"""
    WITH {_MINHASH_CTES},
    est AS (
      SELECT doc_a, doc_b,
             round(len(list_filter(
                 list_zip(sa.sig, sb.sig), z -> z[1] = z[2]
             ))::DOUBLE / {N_HASHES}, 4) AS est_jaccard
      FROM cand
      JOIN sig sa ON sa.doc_id = doc_a
      JOIN sig sb ON sb.doc_id = doc_b
    )
    SELECT * FROM est WHERE est_jaccard >= 0.5
"""

EXT_ORACLES["ngram_jaccard_lsh"] = f"""
    WITH {_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           round(i::DOUBLE / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i::DOUBLE / (sa.n_sh + sb.n_sh - i), 4) >= 0.5
"""


EXT_ORACLES["near_dup_clusters"] = f"""
    WITH RECURSIVE {_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(i::DOUBLE / (sa.n_sh + sb.n_sh - i), 4) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id::BIGINT AS doc_id,
           coalesce(c.cluster_id, d.doc_id)::BIGINT AS cluster_id
    FROM (SELECT doc_id FROM ({_AUG_SQL})) d
    LEFT JOIN comp c ON c.node = d.doc_id
"""


EXT_ORACLES["dedup_near_representatives"] = f"""
    WITH reps AS (    WITH RECURSIVE {_MINHASH_CTES},
        sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS i
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b
        ),
        pairs AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(i::DOUBLE / (sa.n_sh + sb.n_sh - i), 4) >= 0.5
        ),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
        ),
        comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
        SELECT d.doc_id::BIGINT AS doc_id,
               coalesce(c.cluster_id, d.doc_id)::BIGINT AS cluster_id
        FROM (SELECT doc_id FROM ({_AUG_SQL})) d
        LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT d.doc_id, length(d.text)::BIGINT AS text_len
    FROM ({_AUG_SQL}) d
    JOIN reps ON reps.doc_id = d.doc_id AND reps.cluster_id = d.doc_id
"""

# ---------------------------------------------------------------------------
# SimHash near-dups: fingerprint kernel (already oracled) + 16-bit band
# blocking + bit_count hamming verify — all in SQL over the augmented corpus

EXT_ORACLES["simhash_near_dups"] = rf"""
    WITH aug AS ({_AUG_SQL}),
    toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM aug
    ),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
      WHERE term <> '' GROUP BY doc_id, term
    ),
    h AS (
      SELECT doc_id, tf,
             ('0x' || substr(md5(term), 1, 16))::UBIGINT AS hv
      FROM tf
    ),
    bits AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN tf ELSE -tf END) AS acc
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    fp0 AS (
      SELECT doc_id,
             sum(CASE WHEN acc > 0 THEN (1::UBIGINT << bit) ELSE 0::UBIGINT END)::UBIGINT AS fp
      FROM bits GROUP BY doc_id
      UNION ALL
      -- zero-token docs: the engine emits fp=0 for every doc
      SELECT doc_id, 0::UBIGINT AS fp FROM aug
      WHERE doc_id NOT IN (SELECT doc_id FROM tf)
    ),
    bandedf AS (
      SELECT doc_id, fp, b.band, (fp >> (b.band * 16)) & 65535 AS bh
      FROM fp0 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
    ),
    candf AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.fp AS fp_a,
                      b.doc_id AS doc_b, b.fp AS fp_b
      FROM bandedf a JOIN bandedf b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b))::INT AS hamming
    FROM candf WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""

# ---------------------------------------------------------------------------
# multimodal: the synthetic payload (repeat(sha256 digest)) and the fake
# feature kernel (md5 over the payload hex) replay exactly in SQL

_MEDIA_GEN = """
    SELECT i AS media_id,
           CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           repeat(sha256('42:' || i), (4 + i % 8)::INT) AS payload_hex,
           CASE WHEN i % 3 = 2 THEN (i % 40) * 500 ELSE 0 END AS duration_ms,
           CASE WHEN i % 3 = 0 THEN 64 + (i % 16) * 16 ELSE 0 END AS width,
           CASE WHEN i % 3 = 0 THEN 64 + (i % 9) * 16 ELSE 0 END AS height
    FROM range(120) t(i)
"""

EXT_ORACLES["media_features"] = f"""
    WITH m AS ({_MEDIA_GEN}),
    h AS (SELECT media_id, kind, md5(payload_hex) AS mh FROM m)
    SELECT media_id, kind,
           round((('0x' || substr(mh, 7, 2) || substr(mh, 5, 2)
                        || substr(mh, 3, 2) || substr(mh, 1, 2))::UINTEGER)::DOUBLE
                 / 4294967296.0, 6) AS f0
    FROM h
"""

EXT_ORACLES["frame_sample_plan"] = f"""
    WITH m AS ({_MEDIA_GEN})
    SELECT media_id,
           unnest(generate_series(0, duration_ms - 1, 1000))::BIGINT AS frame_ts_ms
    FROM m WHERE kind = 'video' AND duration_ms > 0
"""

EXT_ORACLES["resize_plan"] = f"""
    WITH m AS ({_MEDIA_GEN}),
    s AS (
      SELECT media_id, width, height,
             least(224.0 / width, 224.0 / height, 1.0) AS scale
      FROM m WHERE kind = 'image' AND width > 0 AND height > 0
    )
    SELECT media_id, width, height,
           greatest(floor(width * scale), 1)::BIGINT AS out_w,
           greatest(floor(height * scale), 1)::BIGINT AS out_h,
           round(scale, 6) AS scale
    FROM s
"""

# ---------------------------------------------------------------------------
# embedding LSH oracles: the seeded hyperplanes are plan-time constants, so
# they inject into SQL as literals (same trick as embedding_cosine_topk's
# query vector); multiprobe-2 ≡ hamming(bucket, query_bucket) ≤ 2


def _plane_sql(p) -> str:
    return "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"


def _bucket_sql(planes, vec: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec}, {_plane_sql(p)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + "\n + ".join(terms) + ")::BIGINT"


def _embedding_near_dups_sql() -> str:
    planes = sim.hyperplanes(64, 8, seed=7)
    bucket = _bucket_sql(planes, "embedding::DOUBLE[]")
    return f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings
      WHERE vec_id % 4 = 0
    ),
    b AS (
      SELECT vec_id, embedding::DOUBLE[] AS e, {bucket} AS bucket FROM aug
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, bb.vec_id AS vec_b,
             round(list_dot_product(a.e, bb.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(bb.e, bb.e))), 4) AS cosine
      FROM b a JOIN b bb
        ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.99
    """


def _embedding_ann_topk_sql() -> str:
    planes = sim.hyperplanes(64, ANN_PLANES, seed=42)
    bucket = _bucket_sql(planes, "embedding::DOUBLE[]")
    return f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS e, {bucket} AS bucket
      FROM embeddings
    ),
    q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0),
    probed AS (
      SELECT vec_id,
             round(list_dot_product(e, qe)
                   / (sqrt(list_dot_product(e, e))
                      * sqrt(list_dot_product(qe, qe))), 4) AS cosine
      FROM b CROSS JOIN q
      WHERE bit_count(xor(bucket, qb)) <= 2
    )
    SELECT vec_id, cosine FROM probed
    ORDER BY cosine DESC, vec_id ASC LIMIT 20
    """


EXT_ORACLES["embedding_near_dups"] = _embedding_near_dups_sql()
EXT_ORACLES["embedding_ann_topk"] = _embedding_ann_topk_sql()


def _embedding_ivf_topk_sql() -> str | None:
    """Replay the deterministic k-means on the sf0.01 embeddings (same
    id-ordered rows, same seeded numpy kernel ⇒ bit-identical centroids),
    inject centroids + probe cells as literals, and express the nearest-
    centroid argmin as a first-min CASE over expanded ‖x‖²−2x·c+‖c‖²
    distances — the same expression structure the Arrow kernel computes."""
    import os

    import numpy as _np

    path = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(path):  # oracle only runs at sf0.01
        return None
    import duckdb as _duck

    rows = _duck.connect().execute(
        f"SELECT vec_id, embedding FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    x = _np.asarray([r[1] for r in rows], dtype=_np.float64)
    cents = sim.kmeans(x, IVF_CELLS, iters=8, seed=42)
    qv = x[next(i for i, r in enumerate(rows) if r[0] == 0)]
    probes = sim.ivf_probes(cents, qv, IVF_NPROBE)

    d_exprs = []
    for i, c in enumerate(cents):
        c2 = repr(float((c * c).sum()))
        d_exprs.append(
            f"list_dot_product(e, e) - 2 * list_dot_product(e, {_plane_sql(c)})"
            f" + {c2} AS d{i}"
        )
    n = len(cents)
    whens = []
    for i in range(n):
        conds = ([f"d{i} < d{j}" for j in range(i)]
                 + [f"d{i} <= d{j}" for j in range(i + 1, n)])
        whens.append("WHEN " + " AND ".join(conds) + f" THEN {i}")
    case = "CASE " + " ".join(whens) + " END"
    return f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    d AS (SELECT vec_id, e, {', '.join(d_exprs)} FROM b),
    cells AS (SELECT vec_id, e, {case} AS cell FROM d),
    q AS (SELECT e AS qe FROM b WHERE vec_id = 0)
    SELECT vec_id,
           round(list_dot_product(e, qe)
                 / (sqrt(list_dot_product(e, e))
                    * sqrt(list_dot_product(qe, qe))), 4) AS cosine
    FROM cells CROSS JOIN q
    WHERE cell IN ({', '.join(str(p) for p in probes)})
    ORDER BY cosine DESC, vec_id ASC LIMIT 20
    """


_ivf_sql = _embedding_ivf_topk_sql()
if _ivf_sql is not None:
    EXT_ORACLES["embedding_ivf_topk"] = _ivf_sql


def _embedding_pq_topk_sql() -> str | None:
    """Replay PQ codebook training (per-subspace seeded k-means on the
    id-ordered rows ⇒ bit-identical codebooks), then express encoding
    (first-min CASE per subspace) + the ADC sum (code → literal
    query-distance) in SQL."""
    import os

    import numpy as _np

    path = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(path):  # oracle only runs at sf0.01
        return None
    import duckdb as _duck

    rows = _duck.connect().execute(
        f"SELECT vec_id, embedding FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    x = _np.asarray([r[1] for r in rows], dtype=_np.float64)
    d = x.shape[1]
    ds = d // PQ_M
    cbs = _np.stack([
        sim.kmeans(x[:, i * ds:(i + 1) * ds], PQ_KS, iters=8, seed=42 + i)
        for i in range(PQ_M)
    ])
    qv = x[next(i for i, r in enumerate(rows) if r[0] == 0)]
    dtable = sim.pq_adc_table(cbs, qv)

    sub_cols = ", ".join(
        f"e[{i * ds + 1}:{(i + 1) * ds}] AS s{i}" for i in range(PQ_M))
    d_exprs = []
    for i in range(PQ_M):
        for c in range(PQ_KS):
            cent = cbs[i][c]
            c2 = repr(float((cent * cent).sum()))
            d_exprs.append(
                f"round(list_dot_product(s{i}, s{i})"
                f" - 2 * list_dot_product(s{i}, {_plane_sql(cent)})"
                f" + {c2}, 6) AS d{i}_{c}")
    adc_terms = []
    for i in range(PQ_M):
        whens = []
        for c in range(PQ_KS):
            conds = ([f"d{i}_{c} < d{i}_{j}" for j in range(c)]
                     + [f"d{i}_{c} <= d{i}_{j}"
                        for j in range(c + 1, PQ_KS)])
            whens.append("WHEN " + " AND ".join(conds)
                         + f" THEN {repr(float(dtable[i][c]))}")
        adc_terms.append("(CASE " + " ".join(whens) + " END)")
    adc = " + ".join(adc_terms)
    return f"""
    WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    s AS (SELECT vec_id, {sub_cols} FROM b),
    dd AS (SELECT vec_id, {', '.join(d_exprs)} FROM s)
    SELECT vec_id, round(({adc})::DOUBLE, 4) AS adc
    FROM dd
    ORDER BY adc ASC, vec_id ASC LIMIT 20
    """


_pq_sql = _embedding_pq_topk_sql()
if _pq_sql is not None:
    EXT_ORACLES["embedding_pq_topk"] = _pq_sql


def _phrase_search_sql() -> str:
    """Adjacency self-joins per phrase (same CTE family as the winnowing
    oracle) + exact-phrase-df BM25, mirroring q_phrase_search's float
    expression structure."""
    ctes = []
    selects = []
    for qid, text in PHRASES:
        toks = text.split()
        joins = " ".join(
            f"JOIN tok2 t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.p = t0.p + {i}"
            for i in range(1, len(toks)))
        wheres = " AND ".join(f"t{i}.term = '{t}'" for i, t in enumerate(toks))
        ctes.append(
            f"m{qid} AS (SELECT t0.doc_id, count(*)::BIGINT AS tf "
            f"FROM tok2 t0 {joins} WHERE {wheres} GROUP BY t0.doc_id)")
        ctes.append(f"d{qid} AS (SELECT count(*)::BIGINT AS df FROM m{qid})")
        selects.append(f"""
          SELECT {qid} AS query_id, m.doc_id,
                 ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * m.tf * (1.2 + 1.0)
                 / (m.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl)) AS score
          FROM m{qid} m CROSS JOIN d{qid} d CROSS JOIN stats s
          JOIN dldocs dl ON dl.doc_id = m.doc_id""")
    body = " UNION ALL ".join(selects)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents
    ),
    tok2 AS (
      SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM toks WHERE term <> ''
    ),
    dldocs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dldocs),
    {', '.join(ctes)},
    scored AS ({body}),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
    """


EXT_ORACLES["phrase_search"] = _phrase_search_sql()


# ---------------------------------------------------------------------------
# fused curation pass: compose the signal oracles (lang subquery is the
# generated 25-language twin; quality reuses the {SW}-injected SQL; PII runs
# the raw-text patterns; dup-line matches repetition_stats' linestats CTE)

_PII_RAW_SQL = r"""
    SELECT doc_id,
           (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
            + len(regexp_extract_all(text, '\+?\d[\d\s().-]{7,}\d')))::BIGINT AS pii_total
    FROM documents
"""

EXT_ORACLES["curation_verdicts"] = f"""
    WITH lang AS ({_langid_sql()}),
    q AS ({EXT_ORACLES["quality_scores"]}),
    p AS ({_PII_RAW_SQL}),
    r AS (
      SELECT doc_id,
             CASE WHEN len(ls) > 0
                  THEN round(1.0 - len(list_distinct(ls))::DOUBLE / len(ls), 4)
                  ELSE 0.0 END AS dup_line_frac
      FROM (SELECT doc_id,
                   list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
            FROM documents)
    ),
    j AS (
      SELECT lang.doc_id, lang.lang_guess, q.quality_score, p.pii_total,
             r.dup_line_frac,
             (lang.lang_guess <> 'en') AS bad_lang,
             (q.quality_score < 0.7) AS bad_quality,
             (p.pii_total > 0) AS bad_pii,
             (r.dup_line_frac > 0.3) AS bad_rep
      FROM lang JOIN q USING (doc_id) JOIN p USING (doc_id)
      JOIN r USING (doc_id)
    )
    SELECT doc_id, lang_guess, quality_score, pii_total, dup_line_frac,
           (CASE WHEN bad_lang OR bad_quality OR bad_pii OR bad_rep
                 THEN 0 ELSE 1 END)::BIGINT AS keep,
           concat_ws(',',
             CASE WHEN bad_lang THEN 'lang' END,
             CASE WHEN bad_quality THEN 'quality' END,
             CASE WHEN bad_pii THEN 'pii' END,
             CASE WHEN bad_rep THEN 'repetition' END) AS reasons
    FROM j
"""

EXT_ORACLES["multi_match_topk"] = """
    WITH q(query_id, query_text) AS (VALUES (1, 'hash join merge'), (2, 'window agg'), (3, 'scan batch stream'), (4, 'the zzznope')),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
      FROM q
    ),
    qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
    docs_body AS (SELECT doc_id, text FROM documents),
    docs_title AS (SELECT doc_id, substring(text, 1, 80) AS text FROM documents),
    toks_body AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM docs_body
    ),
    tn_body AS (SELECT doc_id, term FROM toks_body WHERE term <> ''),
    tf_body AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tn_body GROUP BY doc_id, term),
    dl_body AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     x -> x <> ''))::BIGINT AS dl
      FROM docs_body
    ),
    stats_body AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_body),
    dfs_body AS (SELECT term, count(*)::BIGINT AS df FROM tf_body GROUP BY term),
    scored_body AS (
      SELECT qt2.query_id, t.doc_id,
             1.0 * sum(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs_body d USING (term)
      JOIN tf_body t USING (term)
      JOIN dl_body dl ON t.doc_id = dl.doc_id
      CROSS JOIN stats_body s
      GROUP BY qt2.query_id, t.doc_id
    ),
    toks_title AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM docs_title
    ),
    tn_title AS (SELECT doc_id, term FROM toks_title WHERE term <> ''),
    tf_title AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tn_title GROUP BY doc_id, term),
    dl_title AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     x -> x <> ''))::BIGINT AS dl
      FROM docs_title
    ),
    stats_title AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_title),
    dfs_title AS (SELECT term, count(*)::BIGINT AS df FROM tf_title GROUP BY term),
    scored_title AS (
      SELECT qt2.query_id, t.doc_id,
             2.0 * sum(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs_title d USING (term)
      JOIN tf_title t USING (term)
      JOIN dl_title dl ON t.doc_id = dl.doc_id
      CROSS JOIN stats_title s
      GROUP BY qt2.query_id, t.doc_id
    ),
    summed AS (
      SELECT query_id, doc_id, sum(score) AS score
      FROM (SELECT * FROM scored_body UNION ALL SELECT * FROM scored_title)
      GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM summed
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
"""


# best_fields: identical per-field scored CTEs, DisMax combination —
# derive from the most_fields oracle by swapping the combining aggregate
EXT_ORACLES["multi_match_best_fields"] = EXT_ORACLES["multi_match_topk"].replace(
    "SELECT query_id, doc_id, sum(score) AS score",
    "SELECT query_id, doc_id, "
    "max(score) + 0.3 * (sum(score) - max(score)) AS score",
)
assert "max(score)" in EXT_ORACLES["multi_match_best_fields"]

_MM_QUERY_VALUES = ", ".join(f"({qid}, '{qt}')" for qid, qt in MM_QUERIES)

EXT_ORACLES["multi_match_cross_fields"] = f"""
    WITH q(query_id, query_text) AS (VALUES {_MM_QUERY_VALUES}),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
      FROM q
    ),
    qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
    toks_body AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf_body AS (
      SELECT doc_id, term, count(*)::DOUBLE * 1.0 AS wtf FROM toks_body
      WHERE term <> '' GROUP BY doc_id, term
    ),
    toks_title AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(substring(text, 1, 80)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf_title AS (
      SELECT doc_id, term, count(*)::DOUBLE * 2.0 AS wtf FROM toks_title
      WHERE term <> '' GROUP BY doc_id, term
    ),
    tfw AS (
      SELECT doc_id, term, sum(wtf) AS tf
      FROM (SELECT * FROM tf_body UNION ALL SELECT * FROM tf_title)
      GROUP BY doc_id, term
    ),
    dld AS (
      SELECT doc_id,
             coalesce(len(list_filter(regexp_split_to_array(lower(text),
               '[^a-z0-9]+'), x -> x <> '')), 0)::DOUBLE * 1.0
             + coalesce(len(list_filter(regexp_split_to_array(lower(substring(text, 1, 80)),
               '[^a-z0-9]+'), x -> x <> '')), 0)::DOUBLE * 2.0 AS dl
      FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dld),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tfw GROUP BY term),
    scored AS (
      SELECT qt2.query_id, t.doc_id,
             sum(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs d USING (term)
      JOIN tfw t USING (term)
      JOIN dld dl ON t.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY qt2.query_id, t.doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 10
"""

EXT_ORACLES["search_highlights"] = """
    WITH t(term) AS (VALUES ('hash'), ('window'), ('batch'), ('zzznope')),
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    h AS (
      SELECT doc_id, term, tk, list_position(tk, term) AS pos1
      FROM toks CROSS JOIN t
    )
    SELECT doc_id, term, (pos1 - 1)::BIGINT AS pos,
           array_to_string(tk[greatest(pos1 - 5, 1) : greatest(pos1 - 5, 1) + 10], ' ') AS snippet
    FROM h WHERE pos1 > 0
"""

EXT_ORACLES["histogram_facet"] = f"""
    WITH {_MATCH_HITS_SQL}
    SELECT query_id, (floor(d.n_chars / 200) * 200)::BIGINT AS bucket,
           count(*)::BIGINT AS doc_count
    FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    GROUP BY 1, 2
"""

EXT_ORACLES["facet_stats"] = f"""
    WITH {_MATCH_HITS_SQL}
    SELECT query_id, count(*)::BIGINT AS doc_count,
           min(d.n_chars)::BIGINT AS min_chars,
           max(d.n_chars)::BIGINT AS max_chars,
           sum(d.n_chars)::BIGINT AS sum_chars,
           round(sum(d.n_chars)::DOUBLE / count(*), 4) AS avg_chars
    FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    GROUP BY 1
"""

EXT_ORACLES["range_filtered_search"] = f"""
    WITH q(query_id, query_text) AS (VALUES {_SRT_QUERY_VALUES}),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
      FROM q
    ),
    qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
      WHERE term <> '' GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs,
             coalesce(sum(l.dl), 0)::DOUBLE / count(*) AS avgdl
      FROM documents d LEFT JOIN dl l ON d.doc_id = l.doc_id
    ),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    scored AS (
      SELECT qt2.query_id, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY qt2.query_id, tf.doc_id
    ),
    gated AS (
      SELECT sc.query_id, sc.doc_id, round(sc.score, 4) AS score
      FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
      WHERE d.n_chars BETWEEN 300 AND 1500
    )
    SELECT query_id, doc_id, score FROM gated
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id ASC) <= 10
"""


# ---------------------------------------------------------------------------
# round-5 wave 2: aggregation family + dis_max / rescore / phrase_prefix

_RANGE_VALUES = ", ".join(
    "('{key}', {lo}, {hi})".format(
        key=("*" if lo is None else f"{lo:g}") + "-"
            + ("*" if hi is None else f"{hi:g}"),
        lo="CAST(NULL AS DOUBLE)" if lo is None else f"{lo!r}::DOUBLE",
        hi="CAST(NULL AS DOUBLE)" if hi is None else f"{hi!r}::DOUBLE")
    for lo, hi in RANGE_BUCKETS)

EXT_ORACLES["facet_range"] = f"""
    WITH {_MATCH_HITS_SQL},
    r(range_key, range_from, range_to) AS (VALUES {_RANGE_VALUES}),
    j AS (
      SELECT h.query_id, d.n_chars::DOUBLE AS v
      FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    ),
    c AS (
      SELECT j.query_id, r.range_key, count(*)::BIGINT AS doc_count
      FROM j JOIN r ON (r.range_from IS NULL OR j.v >= r.range_from)
                   AND (r.range_to IS NULL OR j.v < r.range_to)
      GROUP BY 1, 2
    ),
    qids AS (SELECT DISTINCT query_id FROM hits)
    SELECT q.query_id, r.range_key, r.range_from, r.range_to,
           coalesce(c.doc_count, 0)::BIGINT AS doc_count
    FROM qids q CROSS JOIN r
    LEFT JOIN c ON c.query_id = q.query_id AND c.range_key = r.range_key
"""

EXT_ORACLES["facet_percentiles"] = f"""
    WITH {_MATCH_HITS_SQL},
    j AS (
      SELECT h.query_id, d.n_chars::DOUBLE AS v
      FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    )
    {" UNION ALL ".join(
        f"SELECT query_id, {p!r}::DOUBLE AS percent, "
        f"round(quantile_cont(v, {p / 100.0!r}), 4) AS value "
        f"FROM j GROUP BY query_id"
        for p in PCT_LIST)}
"""

EXT_ORACLES["facet_cardinality"] = f"""
    WITH {_MATCH_HITS_SQL},
    j AS (
      SELECT h.query_id, d.lang, d.source
      FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    )
    SELECT query_id, 'lang' AS field, count(DISTINCT lang)::BIGINT AS value
    FROM j GROUP BY query_id
    UNION ALL
    SELECT query_id, 'source' AS field, count(DISTINCT source)::BIGINT AS value
    FROM j GROUP BY query_id
"""

EXT_ORACLES["facet_extended_stats"] = f"""
    WITH {_MATCH_HITS_SQL},
    j AS (
      SELECT h.query_id, d.n_chars::BIGINT AS v
      FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    ),
    agg AS (
      SELECT query_id, count(*)::BIGINT AS doc_count,
             min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v,
             sum(v)::BIGINT AS sum_v, sum(v * v)::BIGINT AS sum_sq
      FROM j GROUP BY query_id
    )
    SELECT query_id, doc_count, min_v, max_v, sum_v, sum_sq,
           round(sum_v::DOUBLE / doc_count::DOUBLE, 4) AS avg_v,
           round(sum_sq::DOUBLE / doc_count::DOUBLE
                 - (sum_v::DOUBLE / doc_count::DOUBLE)
                   * (sum_v::DOUBLE / doc_count::DOUBLE), 4) AS variance,
           round(sqrt(greatest(sum_sq::DOUBLE / doc_count::DOUBLE
                 - (sum_v::DOUBLE / doc_count::DOUBLE)
                   * (sum_v::DOUBLE / doc_count::DOUBLE), 0.0)), 4)
             AS std_deviation
    FROM agg
"""

EXT_ORACLES["facet_top_hits"] = f"""
    WITH {_MATCH_HITS_SQL}
    SELECT h.query_id, d.lang AS bucket, h.doc_id, d.n_chars,
           row_number() OVER (
             PARTITION BY h.query_id, d.lang
             ORDER BY d.n_chars DESC, h.doc_id ASC)::INTEGER AS hit_rank
    FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    QUALIFY hit_rank <= 2
"""

EXT_ORACLES["composite_agg_page2"] = f"""
    WITH {_MATCH_HITS_SQL},
    b AS (
      SELECT h.query_id, d.lang, d.source, count(*)::BIGINT AS doc_count
      FROM hits h JOIN documents d ON h.doc_id = d.doc_id
      GROUP BY 1, 2, 3
    )
    SELECT query_id, lang, source, doc_count FROM b
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY lang ASC, source ASC)
      BETWEEN 6 AND 10
"""


def _dmx_scored_ctes() -> str:
    """Shared CTE block scoring DMX_QUERIES both ways: ``mscored`` is the
    raw (unrounded) BM25 OR-match score, ``pscored`` the raw exact-phrase
    score with per-phrase exact df — mirrors _dmx_branches."""
    qvals = ", ".join(f"({qid}, '{qt}')" for qid, qt in DMX_QUERIES)
    phrase_ctes = []
    phrase_selects = []
    for qid, text in DMX_QUERIES:
        toks = text.split()
        joins = " ".join(
            f"JOIN tok2 t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.p = t0.p + {i}"
            for i in range(1, len(toks)))
        wheres = " AND ".join(f"t{i}.term = '{t}'" for i, t in enumerate(toks))
        phrase_ctes.append(
            f"pm{qid} AS (SELECT t0.doc_id, count(*)::BIGINT AS tf "
            f"FROM tok2 t0 {joins} WHERE {wheres} GROUP BY t0.doc_id)")
        phrase_ctes.append(
            f"pd{qid} AS (SELECT count(*)::BIGINT AS df FROM pm{qid})")
        phrase_selects.append(f"""
          SELECT {qid} AS query_id, m.doc_id,
                 ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * m.tf * (1.2 + 1.0)
                 / (m.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl)) AS score
          FROM pm{qid} m CROSS JOIN pd{qid} d CROSS JOIN stats s
          JOIN dldocs dl ON dl.doc_id = m.doc_id""")
    return f"""
    q(query_id, query_text) AS (VALUES {qvals}),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+')) AS term
      FROM q
    ),
    qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
    toksr AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents
    ),
    tok2 AS (
      SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM toksr WHERE term <> ''
    ),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok2 GROUP BY 1, 2),
    dldocs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dldocs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    mscored AS (
      SELECT qt2.query_id, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dldocs dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY qt2.query_id, tf.doc_id
    ),
    {', '.join(phrase_ctes)},
    pscored AS ({' UNION ALL '.join(phrase_selects)})
    """


EXT_ORACLES["dis_max_search"] = f"""
    WITH {_dmx_scored_ctes()},
    allb AS (
      SELECT query_id, doc_id, score FROM mscored
      UNION ALL
      SELECT query_id, doc_id, score FROM pscored
    ),
    comb AS (
      SELECT query_id, doc_id,
             max(score) + 0.3 * (sum(score) - max(score)) AS score
      FROM allb GROUP BY 1, 2
    )
    SELECT query_id, doc_id, round(score, 4) AS score FROM comb
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC) <= 10
"""

EXT_ORACLES["rescore_phrase"] = f"""
    WITH {_dmx_scored_ctes()},
    win AS (
      SELECT query_id, doc_id, round(score, 4) AS base FROM mscored
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(score, 4) DESC, doc_id ASC) <= 50
    ),
    comb AS (
      SELECT w.query_id, w.doc_id,
             1.0 * w.base + 2.0 * coalesce(p.score, 0.0) AS score
      FROM win w LEFT JOIN pscored p
        ON p.query_id = w.query_id AND p.doc_id = w.doc_id
    )
    SELECT query_id, doc_id, round(score, 4) AS score FROM comb
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC) <= 10
"""


def _match_phrase_prefix_sql() -> str:
    """MultiPhrase oracle: leading tokens by exact adjacency, the LAST
    slot matches ANY dictionary term with the prefix (expansion set =
    first 50 in lexicographic term order, mirroring expand_prefix_terms),
    tf = DISTINCT start positions, df exact from the matched set."""
    ctes = []
    selects = []
    for qid, toks, prefix in PFX_PHRASES:
        n = len(toks)
        joins = " ".join(
            f"JOIN tok2 t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.p = t0.p + {i}"
            for i in range(1, n))
        wheres = " AND ".join(f"t{i}.term = '{t}'" for i, t in enumerate(toks))
        ctes.append(
            f"exp{qid} AS (SELECT term FROM ("
            f"SELECT DISTINCT term FROM tok2 WHERE term LIKE '{prefix}%' "
            f"ORDER BY term LIMIT 50))")
        ctes.append(
            f"m{qid} AS (SELECT t0.doc_id, count(DISTINCT t0.p)::BIGINT AS tf "
            f"FROM tok2 t0 {joins} "
            f"JOIN tok2 tl ON tl.doc_id = t0.doc_id AND tl.p = t0.p + {n} "
            f"AND tl.term IN (SELECT term FROM exp{qid}) "
            f"WHERE {wheres} GROUP BY t0.doc_id)")
        ctes.append(f"d{qid} AS (SELECT count(*)::BIGINT AS df FROM m{qid})")
        selects.append(f"""
          SELECT {qid} AS query_id, m.doc_id,
                 ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * m.tf * (1.2 + 1.0)
                 / (m.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl)) AS score
          FROM m{qid} m CROSS JOIN d{qid} d CROSS JOIN stats s
          JOIN dldocs dl ON dl.doc_id = m.doc_id""")
    body = " UNION ALL ".join(selects)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents
    ),
    tok2 AS (
      SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
      FROM toks WHERE term <> ''
    ),
    dldocs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dldocs),
    {', '.join(ctes)},
    scored AS ({body})
    SELECT query_id, doc_id, round(score, 4) AS score FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY round(score, 4) DESC, doc_id ASC) <= 10
    """


EXT_ORACLES["match_phrase_prefix"] = _match_phrase_prefix_sql()


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (pretraining batch prep): concatenate the corpus
    in doc_id order and cut exact 256-token context windows — documents
    crossing a boundary split into contiguous pieces. The global concat
    offset comes from a two-phase distributed prefix sum
    (``textstats.global_exclusive_cumsum``: partition-local running sums
    + a broadcast per-partition offset table — no single-task window).
    Oracle replays the offsets with a SQL window cumsum."""
    from dp_search_data_importer_spark.operators.textstats import (
        pack_sequences,
    )

    return pack_sequences(load_table(spark, sf_dir, "documents"),
                          seq_tokens=256)


EXT_QUERIES["pack_sequences"] = q_pack_sequences
EXT_ORACLES["pack_sequences"] = """
    WITH tl AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_tokens
      FROM documents
    ),
    f AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS start_tok
      FROM tl WHERE n_tokens >= 1
    ),
    p AS (
      SELECT doc_id, n_tokens, start_tok,
             unnest(generate_series(start_tok // 256,
                    (start_tok + n_tokens - 1) // 256)) AS seq_id
      FROM f
    )
    SELECT seq_id::BIGINT AS seq_id, doc_id, start_tok,
           (greatest(start_tok, seq_id * 256) - start_tok)::BIGINT
             AS doc_tok_start,
           (least(start_tok + n_tokens, (seq_id + 1) * 256)
            - greatest(start_tok, seq_id * 256))::BIGINT
             AS piece_tokens
    FROM p
"""


# ---------------------------------------------------------------- federated
# multi-index (alias) search — the index-per-partition pattern the reference
# deployment would adopt at 10^12 files (one ES index cannot hold it; an
# alias over member indexes does). Twin of ES search_type semantics.

_MI_QUERY_VALUES = "(1, 'hash join merge'), (2, 'window agg sort'), (3, 'the')"


def _mi_frames(spark: SparkSession, sf_dir: str):
    from dp_search_data_importer_spark.operators import postings as P
    from dp_search_data_importer_spark.operators.bm25 import query_terms

    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id", "text",
        F.concat(F.lit("idx"), (F.col("doc_id") % 3).cast("string"))
        .alias("index_name"))
    qlist = [(1, "hash join merge"), (2, "window agg sort"), (3, "the")]
    from dp_search_data_importer_spark.functions.tokenize import (
        _simple_tokens_py,
    )

    # tf restricted to the query vocabulary via the tested analyzer twin
    # (filter below the agg — guide §2.3); per-index stats stay corpus-wide
    vocab = sorted({t for _, q in qlist for t in _simple_tokens_py(q)})
    # index_name is a pure function of doc_id, so the tf rows can derive
    # it as a projection — no join back to the docs frame (guide §2.4)
    tf = P.term_freqs_sql(tagged, terms=vocab).withColumn(
        "index_name",
        F.concat(F.lit("idx"), (F.col("doc_id") % 3).cast("string")))
    dfs = tf.groupBy("index_name", "term").agg(
        F.count(F.lit(1)).alias("df"))
    # stats include zero-token docs (Lucene docCount semantics);
    # token_count_expr = counting twin, no token-array materialization
    from dp_search_data_importer_spark.functions.tokenize import (
        token_count_expr,
    )

    stats = (tagged.select(
        "index_name",
        token_count_expr("text").cast("long").alias("dl"))
        .groupBy("index_name")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")))
    from dp_search_data_importer_spark.session import local_df

    queries = local_df(spark, qlist, "query_id long, query_text string")
    return tf, query_terms(queries), dfs, stats


def q_multi_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``query_then_fetch`` across 3 alias-member indexes (documents
    split by doc_id mod 3): every posting scores with its HOME index's
    statistics (df, N, avgdl), then one coordinating top-10 merge per
    query — per-index stats joins are broadcast, scoring is one hash agg
    over the union (`operators/federate.py`). Stored-index form:
    `plans/multi_index.search_indices` (property-tested)."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.operators.federate import (
        federated_scores,
        federated_topk,
    )

    tf, qt, dfs, stats = _mi_frames(spark, sf_dir)
    return federated_topk(
        federated_scores(tf, qt, dfs, stats, EngineConfig(),
                         mode="query_then_fetch"), 10)


def q_multi_index_dfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``dfs_query_then_fetch`` across the same 3 alias members: a
    statistics phase merges df/N/avgdl globally (broadcast-sized frames),
    so scores are exactly the single-merged-index scores — the property
    `tests/test_multi_index.py` pins against a real merged index."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.operators.federate import (
        federated_scores,
        federated_topk,
    )

    tf, qt, dfs, stats = _mi_frames(spark, sf_dir)
    return federated_topk(
        federated_scores(tf, qt, dfs, stats, EngineConfig(),
                         mode="dfs_query_then_fetch"), 10)


EXT_QUERIES["multi_index_search"] = q_multi_index_search
EXT_QUERIES["multi_index_dfs"] = q_multi_index_dfs

_MI_COMMON_SQL = f"""
    q(query_id, query_text) AS (VALUES {_MI_QUERY_VALUES}),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(regexp_split_to_array(lower(query_text), '[^a-z0-9]+'))
               AS term
      FROM q
    ),
    qt2 AS (SELECT query_id, term FROM qt WHERE term <> ''),
    tok AS (
      SELECT doc_id, 'idx' || (doc_id % 3)::VARCHAR AS index_name,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, index_name, term, count(*)::BIGINT AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2, 3
    ),
    dl_docs AS (
      SELECT doc_id, 'idx' || (doc_id % 3)::VARCHAR AS index_name,
             len(list_filter(regexp_split_to_array(lower(text),
                 '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl
      FROM documents
    )
"""

EXT_ORACLES["multi_index_search"] = f"""
    WITH {_MI_COMMON_SQL.strip()},
    stats AS (
      SELECT index_name, count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
      FROM dl_docs GROUP BY 1
    ),
    dfs AS (
      SELECT index_name, term, count(*)::BIGINT AS df
      FROM tf GROUP BY 1, 2
    ),
    scored AS (
      SELECT qt2.query_id, tf.index_name, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN tf USING (term)
      JOIN dfs ON dfs.index_name = tf.index_name AND dfs.term = tf.term
      JOIN dl_docs dl ON tf.doc_id = dl.doc_id
      JOIN stats s ON s.index_name = tf.index_name
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT query_id, index_name, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, index_name ASC, doc_id ASC
             ) AS rn
      FROM scored
    )
    SELECT query_id, index_name, doc_id, score FROM ranked WHERE rn <= 10
"""

EXT_ORACLES["multi_index_dfs"] = f"""
    WITH {_MI_COMMON_SQL.strip()},
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
              FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT qt2.query_id, tf.index_name, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) AS score
      FROM qt2
      JOIN dfs USING (term)
      JOIN tf USING (term)
      JOIN dl_docs dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT query_id, index_name, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, index_name ASC, doc_id ASC
             ) AS rn
      FROM scored
    )
    SELECT query_id, index_name, doc_id, score FROM ranked WHERE rn <= 10
"""


def q_sliced_scroll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sliced-scroll twin (dataflow form): the FULL hit set of a match
    query over documents, split into 4 independent export slices by
    ``pmod(doc_id, 4)`` — disjoint, exhaustive, no global sort/window;
    each slice resumes independently with a doc_id cursor. Stored-index
    form: `plans/query.sliced_scroll` (property-tested)."""
    from dp_search_data_importer_spark.functions.tokenize import tokenize_expr

    docs = load_table(spark, sf_dir, "documents")
    hits = (docs.select(
        "doc_id", "lang",
        F.array_intersect(
            tokenize_expr(F.col("text")),
            F.array(F.lit("hash"), F.lit("join"))).alias("_m"))
        .filter(F.size("_m") > 0))
    return hits.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("slice_id"),
        "lang")


EXT_QUERIES["sliced_scroll"] = q_sliced_scroll
EXT_ORACLES["sliced_scroll"] = """
    SELECT doc_id, (((doc_id % 4) + 4) % 4)::INTEGER AS slice_id, lang
    FROM documents
    WHERE len(list_intersect(
            list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                        x -> x <> ''),
            ['hash', 'join'])) > 0
"""


def q_explain_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_explain`` endpoint twin (dataflow form): the per-term BM25
    breakdown — (term, tf, dl, df, idf, tf_norm, contribution) — of one
    document's score for one query; contributions sum to the doc's
    ``bm25_topk`` score. Absent query terms drop at the df join exactly
    as in scoring. Stored form: `plans/query.explain_score` (doc_id
    pushdown into the term-pruned postings scan)."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.operators import postings as P
    from dp_search_data_importer_spark.operators.bm25 import (
        bm25_term_score,
        query_terms,
        sql_number,
    )
    from dp_search_data_importer_spark.session import local_df

    from dp_search_data_importer_spark.functions.tokenize import (
        _simple_tokens_py,
    )

    cfg = EngineConfig()
    docs = load_table(spark, sf_dir, "documents")
    qtext = "window merge join zzznope"
    # tf restricted to the query vocabulary (filter below the agg — §2.3)
    tf = P.term_freqs_sql(docs, terms=sorted(set(_simple_tokens_py(qtext))))
    stats = P.corpus_stats_from_docs(docs).collect()[0]
    queries = local_df(spark, [(0, qtext)],
                       "query_id long, query_text string")
    qt = query_terms(queries).select("term").distinct()
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs, avgdl = F.lit(stats["n_docs"]), F.lit(stats["avgdl"])
    idf = F.log(F.lit(1.0) + (n_docs - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tf_norm = (F.col("tf").cast("double") * F.lit(cfg.k1 + 1.0)
               / (F.col("tf").cast("double") + F.lit(cfg.k1)
                  * (F.lit(1.0 - cfg.b)
                     + F.lit(cfg.b) * F.col("dl").cast("double") / avgdl)))
    return (tf.filter(F.col("doc_id") == 3)
            .join(F.broadcast(qt), "term")
            .join(F.broadcast(dfs), "term")
            .select("term", "tf", "dl", "df",
                    F.round(idf, 6).alias("idf"),
                    F.round(tf_norm, 6).alias("tf_norm"),
                    F.round(bm25_term_score(
                        "tf", "dl", "df", sql_number(int(stats["n_docs"])),
                        sql_number(float(stats["avgdl"])), cfg),
                        6).alias("contribution")))


EXT_QUERIES["explain_search"] = q_explain_search
EXT_ORACLES["explain_search"] = """
    WITH qt(term) AS (VALUES ('window'), ('merge'), ('join'), ('zzznope')),
    tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ),
    dl_docs AS (
      SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS dl
      FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
              FROM dl_docs),
    dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
    SELECT tf.term, tf.tf, dl.dl, dfs.df,
           round(ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)), 6)
             AS idf,
           round(tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                 / s.avgdl)), 6) AS tf_norm,
           round(ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
                 * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                 / s.avgdl)), 6) AS contribution
    FROM tf
    JOIN qt USING (term)
    JOIN dfs USING (term)
    JOIN dl_docs dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
    WHERE tf.doc_id = 3
"""


# ------------------------------------------------------------- boilerplate
# line-level boilerplate removal (C4/RefinedWeb): the synthetic documents
# carry no newlines, so BOTH engines append the same deterministic footer
# lines — every doc gets a newsletter footer, every 4th doc a cookie
# notice — and the screen must strip exactly those (each original text is
# its own unique line and survives).

_FOOTER = "subscribe to our newsletter for updates"
_COOKIE = "this site uses cookies to improve your experience"


def _boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n" + _FOOTER),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit("\n" + _COOKIE)).otherwise(F.lit("")))
        .alias("text"))


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb boilerplate screen: lines repeated across ≥ 5
    distinct docs (lower+trim normalized, ≥ 10 chars) are detected with
    one explode + one hash agg and stripped by an AQE-planned anti-join;
    per-doc reassembly preserves line order. Surviving text returned per
    doc (docs stripped to nothing keep an empty row)."""
    from dp_search_data_importer_spark.operators.textstats import (
        boilerplate_lines,
        strip_boilerplate_lines,
    )

    docs = _boilerplate_docs(spark, sf_dir)
    bl = boilerplate_lines(docs, min_docs=5)
    return strip_boilerplate_lines(docs, bl)


EXT_QUERIES["boilerplate_strip"] = q_boilerplate_strip
EXT_ORACLES["boilerplate_strip"] = f"""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || '{_FOOTER}'
               || CASE WHEN doc_id % 4 = 0
                       THEN chr(10) || '{_COOKIE}' ELSE '' END AS text
      FROM documents
    ),
    ex AS (
      SELECT doc_id, generate_subscripts(string_split(text, chr(10)), 1)
               AS pos,
             unnest(string_split(text, chr(10))) AS line
      FROM aug
    ),
    keyed AS (SELECT doc_id, pos, line, lower(trim(line)) AS line_norm
              FROM ex),
    bl AS (
      SELECT line_norm FROM keyed
      WHERE len(line_norm) >= 10
      GROUP BY line_norm HAVING count(DISTINCT doc_id) >= 5
    ),
    kept AS (
      SELECT k.doc_id, k.pos, k.line FROM keyed k
      WHERE NOT EXISTS (SELECT 1 FROM bl WHERE bl.line_norm = k.line_norm)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id, coalesce(r.clean_text, '') AS clean_text
    FROM aug a LEFT JOIN rebuilt r ON a.doc_id = r.doc_id
"""


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction + application (Sennrich 2016): train 40
    merges from the corpus word-frequency table (one explode + one hash
    agg; deterministic (freq desc, word asc) cap; driver-side merge loop
    bounded by the cap) and tokenize every document with the learned
    vocabulary (Arrow-batched, per-batch word memo). Iterative training
    is not SQL-expressible — registered WITHOUT an oracle (rows-only
    driver check); determinism is pinned by pytest instead
    (`test_bpe.py`: textbook merge order, pure-python trainer
    equivalence, character conservation)."""
    from dp_search_data_importer_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_bpe(
        bpe.word_frequencies(docs, max_words=50_000), 40)
    return (bpe.apply_bpe(docs, merges)
            .select("doc_id", "n_tokens")
            .orderBy("doc_id"))


EXT_QUERIES["bpe_tokenize"] = q_bpe_tokenize


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality classifier (CCNet / GPT-3-style learned screen):
    full-batch logistic-regression GD over feature-hashed TF-IDF rows,
    trained ENTIRELY in DataFrame ops — the weight vector is a
    ``(bucket, w)`` frame, never a driver array. Seed labels are
    deterministic (docs with ``doc_id % 5 = 0``, label 1 iff
    ``lang = 'en'``), so the fixed 3-iteration descent is exactly
    replayable; the oracle unrolls the same three updates as a SQL CTE
    chain. Returns the fitted weights (the trainer's artifact; scoring
    is pytest-covered in test_classifier.py)."""
    from dp_search_data_importer_spark.operators.classifier import (
        fit_logreg,
    )
    from dp_search_data_importer_spark.operators.textstats import (
        hashed_tfidf_sparse,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = hashed_tfidf_sparse(docs, dim=64)
    seed = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("label"))
    w = fit_logreg(feats, seed, iters=3, lr=0.5, l2=0.01, dim=64)
    return w.select("bucket", F.round("w", 4).alias("w"))


def _logreg_gd_sql(iters: int, lr: float, l2: float) -> str:
    """Unroll fit_logreg's fixed-iteration update into a DuckDB CTE
    chain: w{i} -> margins -> residuals -> gradient -> w{i+1}, the same
    textbook estimator the Spark trainer implements."""
    steps = []
    for i in range(iters):
        steps.append(f"""
    z{i} AS (SELECT x.doc_id, sum(x.value * w.w) AS z
             FROM x JOIN w{i} w USING (bucket) GROUP BY x.doc_id),
    g{i} AS (SELECT z.doc_id, 1.0 / (1.0 + exp(-z.z)) - lab.label AS g
             FROM z{i} z JOIN lab USING (doc_id)),
    gr{i} AS (SELECT x.bucket, sum(x.value * g.g) / (SELECT n FROM nn)
                AS grad
              FROM x JOIN g{i} g USING (doc_id) GROUP BY x.bucket),
    w{i + 1} AS (SELECT w.bucket,
                        w.w - {lr!r} * (coalesce(gr.grad, 0.0)
                          + CASE WHEN w.bucket = -1 THEN 0.0
                                 ELSE {l2!r} * w.w END) AS w
                 FROM w{i} w LEFT JOIN gr{i} gr USING (bucket))""")
    return ",".join(steps)


EXT_QUERIES["quality_classifier"] = q_quality_classifier
EXT_ORACLES["quality_classifier"] = f"""
    WITH {_BM25_CORPUS_SQL},
    n_t AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    feats AS (
      SELECT doc_id, bucket::BIGINT AS bucket, round(sum(v), 6) AS value
      FROM (
        SELECT t.doc_id,
               ('0x' || substr(md5(t.term), 1, 8))::UBIGINT % 64 AS bucket,
               t.tf * (ln((n.n_docs + 1)::DOUBLE / (d.df + 1)) + 1.0) AS v
        FROM tf t JOIN dfs d USING (term) CROSS JOIN n_t n)
      GROUP BY doc_id, bucket
    ),
    lab AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS label
      FROM documents WHERE doc_id % 5 = 0
    ),
    x AS (
      SELECT f.doc_id, f.bucket, f.value FROM feats f JOIN lab USING (doc_id)
      UNION ALL
      SELECT doc_id, CAST(-1 AS BIGINT) AS bucket, 1.0 AS value FROM lab
    ),
    nn AS (SELECT count(*)::DOUBLE AS n
           FROM (SELECT DISTINCT doc_id FROM x)),
    w0 AS (SELECT DISTINCT bucket, 0.0 AS w FROM x),
    {_logreg_gd_sql(3, 0.5, 0.01)}
    SELECT bucket, round(w, 4) AS w FROM w3
"""


SEARCH_TEMPLATE_SRC = (
    '{"query": {"bool": {'
    '"must": [{"match": {"text": "{{qtext}}"}}],'
    '"filter": [{"range": {"n_chars": {{#toJson}}rng{{/toJson}}}}]'
    '}}, "size": {{size}}{{^size}}10{{/size}}}'
)


def q_search_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``_search/template`` twin: a mustache-subset template —
    ``{{var}}`` substitution, ``{{#toJson}}`` object injection, and the
    inverted-section default idiom ``{{size}}{{^size}}10{{/size}}`` —
    renders driver-side to exactly ``ES_DSL_BODY`` and compiles through
    the same ``search`` plan, so templating provably adds zero execution
    surface. Oracle = the es_dsl_search SQL with the params inlined."""
    return _dsl_planner(spark, sf_dir).search_template(
        SEARCH_TEMPLATE_SRC,
        {"qtext": "hash join", "rng": {"gte": 300, "lte": 1500}},
    ).hits.select("doc_id", "score")


EXT_QUERIES["search_template"] = q_search_template
EXT_ORACLES["search_template"] = EXT_ORACLES["es_dsl_search"]


def q_facet_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``matrix_stats`` aggregation twin over a query's hit set:
    per-field moments (count/mean/sample variance/skewness/kurtosis)
    plus the sample covariance/correlation matrix for (n_chars, doc_id),
    computed as ONE map-side-combinable hash agg of raw power sums with
    the O(F²) matrix assembled by exploding the single result row —
    one scan, one agg, any corpus size. Oracle replays the identical
    power-sum formulas in SQL."""
    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"m": {"matrix_stats":
                           {"fields": ["n_chars", "doc_id"]}}}}
    return _dsl_planner(spark, sf_dir).search(body).aggregations["m"]


def _matrix_pair_sql(a: str, b: str) -> str:
    """One (field, other_field) row of the matrix_stats oracle from the
    power-sum row ``s`` — same formulas as plans/es_dsl.py."""
    sxy = f"s2_{a}" if a == b else f"sxy_{min(a, b)}_{max(a, b)}"
    return f"""
      SELECT '{a}' AS field, '{b}' AS other_field,
             n::BIGINT AS count,
             round(s1_{a} / n, 4) AS mean,
             round((s2_{a} - n * (s1_{a} / n) * (s1_{a} / n)) / (n - 1),
                   4) AS variance,
             round((s3_{a} / n - 3 * (s1_{a} / n) * s2_{a} / n
                    + 2 * power(s1_{a} / n, 3))
                   / power(s2_{a} / n - (s1_{a} / n) * (s1_{a} / n),
                           1.5), 4) AS skewness,
             round((s4_{a} / n - 4 * (s1_{a} / n) * s3_{a} / n
                    + 6 * (s1_{a} / n) * (s1_{a} / n) * s2_{a} / n
                    - 3 * power(s1_{a} / n, 4))
                   / power(s2_{a} / n - (s1_{a} / n) * (s1_{a} / n), 2),
                   4) AS kurtosis,
             round(({sxy} - n * (s1_{a} / n) * (s1_{b} / n)) / (n - 1),
                   4) AS covariance,
             round((({sxy} - n * (s1_{a} / n) * (s1_{b} / n)) / (n - 1))
                   / sqrt(((s2_{a} - n * (s1_{a} / n) * (s1_{a} / n))
                           / (n - 1))
                          * ((s2_{b} - n * (s1_{b} / n) * (s1_{b} / n))
                             / (n - 1))), 4) AS correlation
      FROM s"""


EXT_QUERIES["facet_matrix_stats"] = q_facet_matrix_stats
EXT_ORACLES["facet_matrix_stats"] = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
             '[^a-z0-9]+')) AS term
      FROM documents
    ),
    hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash'),
    j AS (
      SELECT d.n_chars::DOUBLE AS v_n_chars, d.doc_id::DOUBLE AS v_doc_id
      FROM hits h JOIN documents d USING (doc_id)
      WHERE d.n_chars IS NOT NULL AND d.doc_id IS NOT NULL
    ),
    s AS (
      SELECT count(*)::DOUBLE AS n,
             sum(v_n_chars) AS s1_n_chars,
             sum(v_n_chars * v_n_chars) AS s2_n_chars,
             sum(v_n_chars * v_n_chars * v_n_chars) AS s3_n_chars,
             sum(v_n_chars * v_n_chars * v_n_chars * v_n_chars)
               AS s4_n_chars,
             sum(v_doc_id) AS s1_doc_id,
             sum(v_doc_id * v_doc_id) AS s2_doc_id,
             sum(v_doc_id * v_doc_id * v_doc_id) AS s3_doc_id,
             sum(v_doc_id * v_doc_id * v_doc_id * v_doc_id) AS s4_doc_id,
             sum(v_n_chars * v_doc_id) AS sxy_doc_id_n_chars
      FROM j
    )
    {_matrix_pair_sql('n_chars', 'n_chars')}
    UNION ALL {_matrix_pair_sql('n_chars', 'doc_id')}
    UNION ALL {_matrix_pair_sql('doc_id', 'n_chars')}
    UNION ALL {_matrix_pair_sql('doc_id', 'doc_id')}
"""


def q_facet_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``t_test`` aggregation twin (Welch, the ES default): n_chars of
    English vs non-English docs within the match hit set. ONE
    map-side-combinable conditional hash agg collects both populations'
    count/Σx/Σx²; the statistic assembles on the 1-row result.
    Documented divergence: ES returns the p-value — the Student CDF is a
    scalar driver-side lookup with no distributed component, so the twin
    returns (t_stat, df, n_a, n_b), the CDF's inputs. Oracle replays the
    Welch formulas over the identical conditional sums."""
    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"t": {"t_test": {
                "a": {"field": "n_chars",
                      "filter": {"term": {"lang": "en"}}},
                "b": {"field": "n_chars",
                      "filter": {"__not__": {"term": {"lang": "en"}}}},
                "type": "heteroscedastic"}}}}
    return _dsl_planner(spark, sf_dir).search(body).aggregations["t"]


EXT_QUERIES["facet_t_test"] = q_facet_t_test
EXT_ORACLES["facet_t_test"] = """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
             '[^a-z0-9]+')) AS term
      FROM documents
    ),
    hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash'),
    j AS (
      SELECT d.n_chars::DOUBLE AS v, d.lang = 'en' AS is_a
      FROM hits h JOIN documents d USING (doc_id)
      WHERE d.n_chars IS NOT NULL
    ),
    s AS (
      SELECT sum(CASE WHEN is_a THEN 1.0 ELSE 0.0 END) AS na,
             sum(CASE WHEN is_a THEN v ELSE 0.0 END) AS sa1,
             sum(CASE WHEN is_a THEN v * v ELSE 0.0 END) AS sa2,
             sum(CASE WHEN NOT is_a THEN 1.0 ELSE 0.0 END) AS nb,
             sum(CASE WHEN NOT is_a THEN v ELSE 0.0 END) AS sb1,
             sum(CASE WHEN NOT is_a THEN v * v ELSE 0.0 END) AS sb2
      FROM j
    ),
    m AS (
      SELECT na, nb,
             (sa2 - na * (sa1 / na) * (sa1 / na)) / (na - 1) / na AS se1,
             (sb2 - nb * (sb1 / nb) * (sb1 / nb)) / (nb - 1) / nb AS se2,
             sa1 / na - sb1 / nb AS dmean
      FROM s
    )
    SELECT 'heteroscedastic' AS type,
           round(dmean / sqrt(se1 + se2), 4) AS t_stat,
           round((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (na - 1) + se2 * se2 / (nb - 1)), 4)
             AS df,
           na::BIGINT AS n_a, nb::BIGINT AS n_b
    FROM m
"""


def q_scripted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``scripted_metric`` aggregation twin: the associative
    accumulator pattern (the only distributable scripted_metric shape —
    init/map/combine/reduce is exactly Spark's partial-agg contract)
    compiled from the Painless subset into ONE map-side-combinable hash
    agg; order-dependent state, list appends, mismatched merge ops, and
    the shard-count-dependent nonzero += init are refused at compile
    time. Here: Σ n_chars² over the match hit set."""
    body = {"query": {"match": {"text": "hash"}}, "size": 0,
            "aggs": {"sq": {"scripted_metric": {
                "init_script": "state.sq = 0",
                "map_script": "state.sq += doc['n_chars'].value "
                              "* doc['n_chars'].value",
                "combine_script": "return state.sq",
                "reduce_script": "double s = 0; "
                                 "for (t in states) { s += t } "
                                 "return s"}}}}
    return _dsl_planner(spark, sf_dir).search(body).aggregations["sq"]


EXT_QUERIES["scripted_metric"] = q_scripted_metric
EXT_ORACLES["scripted_metric"] = """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text),
             '[^a-z0-9]+')) AS term
      FROM documents
    ),
    hits AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'hash')
    SELECT CAST(sum(d.n_chars::DOUBLE * d.n_chars::DOUBLE) AS DOUBLE)
             AS value
    FROM hits h JOIN documents d USING (doc_id)
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII anonymization keep-pass (ROOTS/StarCoder-style): each doc is
    deterministically augmented with an email + IPv4 + phone line (the
    synthetic corpus carries no PII), then redacted with typed
    placeholders in the fixed email→IP→phone order; per-type counts are
    taken on the text AFTER the preceding replacements, so they are
    well-defined. One zero-shuffle Catalyst projection; the oracle
    replays the same chain with RE2 regexp_replace('g')."""
    from dp_search_data_importer_spark.operators.textstats import (
        pii_redact,
    )

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncontact: user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call +1 (555) 010-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"))
    return pii_redact(aug)


EXT_QUERIES["pii_redact"] = q_pii_redact
EXT_ORACLES["pii_redact"] = r"""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'contact: user' || doc_id::VARCHAR
               || '@example.com from 10.0.' || (doc_id % 256)::VARCHAR
               || '.7 call +1 (555) 010-'
               || (1000 + doc_id % 9000)::VARCHAR AS text
      FROM documents
    ),
    s1 AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
               AS n_emails,
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS t1
      FROM aug
    ),
    s2 AS (
      SELECT doc_id, n_emails,
             len(regexp_extract_all(t1,
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4,
             regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b',
                            '<IP>', 'g') AS t2
      FROM s1
    )
    SELECT doc_id,
           regexp_replace(t2, '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g')
             AS clean_text,
           n_emails, n_ipv4,
           len(regexp_extract_all(t2,
               '\+?\d[\d\s().-]{7,}\d'))::BIGINT AS n_phones
    FROM s2
"""


def q_collapse_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``collapse.inner_hits`` twin: top-2 docs of every collapse
    group that made the page (collapse on lang over the match hit set).
    The per-group rank is the same salted two-phase window as the
    winner pass (never one task per group); the page's group keys
    broadcast-semi-join the expansion, so only page groups rank."""
    body = {"query": {"match": {"text": "hash"}}, "size": 10,
            "collapse": {"field": "lang",
                         "inner_hits": {"name": "per_lang", "size": 2}}}
    return _dsl_planner(spark, sf_dir).search(body).inner_hits


EXT_QUERIES["collapse_inner_hits"] = q_collapse_inner_hits
EXT_ORACLES["collapse_inner_hits"] = f"""
    WITH qt(term) AS (VALUES ('hash')),
    {_BM25_CORPUS_SQL},
    scored AS (
      SELECT t.doc_id,
             sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * t.tf * (1.2 + 1.0)
                 / (t.tf + 1.2 * ((1.0 - 0.75)
                    + 0.75 * dd.dl / s.avgdl))) AS score
      FROM tf t JOIN qt USING (term) JOIN dfs d USING (term)
      JOIN dl_docs dd ON t.doc_id = dd.doc_id
      CROSS JOIN stats s
      GROUP BY t.doc_id
    ),
    jj AS (
      SELECT sc.doc_id, round(sc.score, 4) AS score, dc.lang
      FROM scored sc JOIN documents dc ON sc.doc_id = dc.doc_id
    ),
    win AS (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS rn
      FROM jj
    ),
    page AS (
      SELECT lang FROM win WHERE rn = 1
      ORDER BY score DESC, doc_id ASC LIMIT 10
    )
    SELECT jj.lang, jj.doc_id, jj.score,
           row_number() OVER (
             PARTITION BY jj.lang
             ORDER BY jj.score DESC, jj.doc_id ASC)::INTEGER AS hit_rank
    FROM jj JOIN page USING (lang)
    QUALIFY hit_rank <= 2
"""


def q_multi_index_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ``indices_boost`` twin: the same query_then_fetch federated
    search with per-index score multipliers (idx0 ×2.0, idx2 ×0.5 —
    the fresh-over-stale alias weighting). The boost is a literal CASE
    projection applied BEFORE the coordinating top-k, so the rounded
    ranking order sees boosted scores; nothing joins, nothing shuffles.
    Stored-index form: `search_indices(..., indices_boost=...)`."""
    from dp_search_data_importer_spark.config import EngineConfig
    from dp_search_data_importer_spark.operators.federate import (
        apply_indices_boost,
        federated_scores,
        federated_topk,
    )

    tf, qt, dfs, stats = _mi_frames(spark, sf_dir)
    scores = federated_scores(tf, qt, dfs, stats, EngineConfig(),
                              mode="query_then_fetch")
    return federated_topk(
        apply_indices_boost(scores, {"idx0": 2.0, "idx2": 0.5}), 10)


EXT_QUERIES["multi_index_boosted"] = q_multi_index_boosted
EXT_ORACLES["multi_index_boosted"] = f"""
    WITH {_MI_COMMON_SQL.strip()},
    stats AS (
      SELECT index_name, count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
      FROM dl_docs GROUP BY 1
    ),
    dfs AS (
      SELECT index_name, term, count(*)::BIGINT AS df
      FROM tf GROUP BY 1, 2
    ),
    scored AS (
      SELECT qt2.query_id, tf.index_name, tf.doc_id,
             sum(
               ln(1.0 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / s.avgdl))
             ) * CASE tf.index_name WHEN 'idx0' THEN 2.0
                                    WHEN 'idx2' THEN 0.5
                                    ELSE 1.0 END AS score
      FROM qt2
      JOIN tf USING (term)
      JOIN dfs ON dfs.index_name = tf.index_name AND dfs.term = tf.term
      JOIN dl_docs dl ON tf.doc_id = dl.doc_id
      JOIN stats s ON s.index_name = tf.index_name
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT query_id, index_name, doc_id, round(score, 4) AS score,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(score, 4) DESC, index_name ASC, doc_id ASC
             ) AS rn
      FROM scored
    )
    SELECT query_id, index_name, doc_id, score FROM ranked WHERE rn <= 10
"""
