"""ES ``_reindex`` twin — rebuild an index into a new layout WITHOUT
re-tokenizing.

In ES, changing an index's shard count (or copying a filtered subset)
means `_reindex`: re-reading every source document through the full
analysis chain. This engine can do better because the postings ALREADY
hold everything analysis produced (term, tf, dl, positions): re-sharding
is scan → reassign shard = pmod(doc_id, n') → sort and write, one
shuffle over postings-sized data, with the raw text never touched. At
10^12 files that is the difference between re-running the tokenizer over
the whole corpus and a single postings-table repartition — the text is
orders of magnitude larger than the index.

The output is ARTIFACT-IDENTICAL to a fresh build of the same corpus at
the new layout (property-tested on per-shard content fingerprints): the
rewrite uses the same writer and (shard, term, doc_id) sort as a build,
term_df / corpus stats are carried over exactly (or exactly recounted
for a query-filtered subset), and ``hot_terms`` re-derives from the
destination dictionary, as a fresh build's stats.json records it.

Crash story: the destination is a NEW directory; every artifact is
written before ``stats.json``, and readers refuse an index without
``stats.json`` — an interrupted reindex leaves an inert partial dir and
an untouched source, never a half-readable index.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dp_search_data_importer_spark.checkpoint import (
    POSTINGS_FORMAT,
    manifest_rows,
    read_stats_json,
    write_stats_json,
)
from dp_search_data_importer_spark.operators.postings import hot_terms
from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.plans.build_index import (
    repartition_by_shard,
    term_df_files,
    write_postings,
    write_term_df,
)
from dp_search_data_importer_spark.plans.query import (
    decompress_blocks,
    load_blocks,
    load_term_df,
)
from dp_search_data_importer_spark.plans.update_index import (
    match_ids,
    recover_for_read,
)


def reindex(spark: SparkSession, src_dir: str, dst_dir: str, *,
            n_shards: int | None = None,
            query: str | None = None, operator: str = "or") -> dict:
    """Copy ``src_dir``'s index into ``dst_dir`` with a new shard count,
    optionally restricted to the full hit set of a
    ``match`` query (``query``/``operator`` — the ES `_reindex` body's
    ``source.query``). Returns the destination stats dict.

    No re-tokenization: postings rows are read, reassigned and rewritten.
    The analyzer (``code_aware``), BM25 parameters, and — for the
    unfiltered form — the exact corpus statistics and term dictionary all
    carry over; the filtered form recounts df / N / Σdl exactly from the
    kept postings.
    """
    if os.path.exists(os.path.join(dst_dir, "stats.json")):
        raise ValueError(f"destination already holds an index: {dst_dir}")
    recover_for_read(src_dir)
    stats = read_stats_json(src_dir)
    has_pos = bool(stats.get("positions", False))
    n_new = int(n_shards or stats["n_shards"])
    cfg = EngineConfig(n_shards=n_new, k1=stats["k1"], b=stats["b"])

    tf = decompress_blocks(load_blocks(spark, src_dir),
                           include_positions=has_pos)
    docs_store = spark.read.parquet(os.path.join(src_dir, "docs")) \
        .drop("shard")
    term_df = load_term_df(spark, src_dir)

    if query is not None:
        ids = match_ids(spark, src_dir, query, operator=operator)
        if ids is None:
            raise ValueError(f"query tokenizes to nothing: {query!r}")
        # freeze the kept-id set on disk: the postings/doc writes below
        # must not re-derive it from the source while the source could be
        # mutated by a concurrent upsert
        ids_tmp = os.path.join(dst_dir, "_reindex_ids")
        ids.write.mode("overwrite").parquet(ids_tmp)
        ids = spark.read.parquet(ids_tmp)
        tf = tf.join(ids, "doc_id", "left_semi")
        docs_store = docs_store.join(ids, "doc_id", "left_semi")
        # exact recount for the subset (a matched doc always has postings,
        # so per-doc dl is present in tf)
        term_df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        agg = (tf.groupBy("doc_id").agg(F.max("dl").alias("dl"))
               .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
               .collect()[0])
        n_docs, sum_dl = int(agg["n"] or 0), int(agg["s"] or 0)
    else:
        n_docs = int(stats["n_docs"])
        sum_dl = int(stats.get("sum_dl", round(stats["avgdl"] * n_docs)))

    tf = tf.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_new)).cast("int"))
    write_postings(tf, list(range(n_new)), os.path.join(dst_dir, "postings"),
                   positions=has_pos)

    docs_out = docs_store.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(n_new)).cast("int"))
    (repartition_by_shard(docs_out, list(range(n_new)))
     .write.mode("overwrite").partitionBy("shard")
     .parquet(os.path.join(dst_dir, "docs")))
    write_term_df(term_df, os.path.join(dst_dir, "term_df"),
                  None if query is not None
                  else term_df_files(os.path.join(src_dir, "term_df")))

    # zero-doc shards keep an explicit 0 entry, exactly as a fresh
    # build's docs-write observation records them
    shard_docs = {s: 0 for s in range(n_new)}
    shard_docs.update({
        int(r["shard"]): int(r["n"]) for r in
        spark.read.parquet(os.path.join(dst_dir, "docs"))
        .groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()})
    (manifest_rows(spark, os.path.join(dst_dir, "postings"), shard_docs)
     .write.mode("overwrite").parquet(os.path.join(dst_dir, "_manifest")))

    new_stats = {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": float(sum_dl / n_docs) if n_docs else 0.0,
        "k1": cfg.k1, "b": cfg.b,
        "n_shards": n_new,
        "postings_format": POSTINGS_FORMAT,
        "code_aware": bool(stats.get("code_aware", False)),
        "positions": has_pos,
        "shard_docs": shard_docs,
        "hot_terms": hot_terms(load_term_df(spark, dst_dir), n_docs, cfg),
    }
    write_stats_json(dst_dir, new_stats)
    if query is not None:
        import shutil
        shutil.rmtree(os.path.join(dst_dir, "_reindex_ids"),
                      ignore_errors=True)
    return new_stats
