"""Engine configuration.

The reference reads env config with defaults (``config/config.go:55-86``:
BATCH_SIZE=500, BATCH_WAIT_TIME=5s, KAFKA_NUM_WORKERS=1, …). Our analogue is a
small dataclass with Spark-shaped knobs; batch bounds become partition sizing,
worker count becomes executor parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# BM25 constants: Elasticsearch 7.10 / Lucene BM25Similarity defaults.
# (Public knowledge; the reference delegates all scoring to ES — README.md:18.)
BM25_K1 = 1.2
BM25_B = 0.75

# Code-aware stopwords: English stopwords plus keywords so common in source
# code they carry no signal. BASELINE.json north_star calls out 'import'/'def'
# as hot terms — they stay *indexable* (queries may ask for them); stopword
# filtering here applies only to the quality/text-analysis operators, NOT to
# the index (Elasticsearch's default standard analyzer also keeps stopwords).
ENGLISH_STOPWORDS = frozenset(
    """a an and are as at be by for from has he in is it its of on that the to
    was were will with this these those not or if then else than so no yes
    i you we they them his her our your""".split()
)

# Seed list of heavy-hitter terms (north_star: 'import', 'def'), recorded
# with the measured ones as stats.json ``hot_terms``. At runtime the build
# *measures* df and extends this list — a static list alone does not
# survive corpus drift (SURVEY.md §7 hard part b). Aggregations over a hot
# term rely on map-side partial aggregation; only the per-key top-N
# (``operators/bm25.salted_topn``) salts.
STATIC_HOT_TERMS = ("import", "def", "the", "class", "return", "self")


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for the index build + query engine."""

    k1: float = BM25_K1
    b: float = BM25_B
    # Number of doc-shards for the index. Each shard holds the full
    # term->postings map for its slice of docs (Elasticsearch-style document
    # partitioning): queries fan out to all shards, each returns a local
    # top-k, merged globally. At 10^12 docs this is the axis that scales —
    # shards = O(cluster size), each shard's postings bounded by shard size.
    n_shards: int = 8
    # Terms whose measured df exceeds this fraction of N are treated as hot.
    hot_term_df_fraction: float = 0.05
    static_hot_terms: tuple[str, ...] = STATIC_HOT_TERMS
    # Top-k default (reference query set uses k=10 — FIXTURES.md §2).
    k: int = 10
    stopwords: frozenset[str] = field(default_factory=lambda: ENGLISH_STOPWORDS)
