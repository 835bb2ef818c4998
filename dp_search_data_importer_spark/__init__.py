"""dp_search_data_importer_spark — a PySpark-native full-text index + BM25 engine.

A from-scratch, idiomatic-Spark re-expression of the capabilities of
``flaxandteal/dp-search-data-importer`` (reference: Go streaming importer that
ships documents to Elasticsearch 7.10; see SURVEY.md). Instead of delegating
tokenization / inverted-index construction / BM25 top-k to Elasticsearch, this
engine builds the index and answers queries inside Spark itself:

- ``sources``     — table loaders + deterministic synthetic ``repo_files`` corpus
                    (the reference's test producer, ``cmd/producer/main.go``, re-imagined)
- ``functions``   — tokenizers (Catalyst + code-aware Arrow UDF), text analysis
- ``operators``   — ingest/normalize, postings build, BM25, dedup,
                    similarity search, reference-projection parity
- ``plans``       — end-to-end build-index / query pipelines (sharded index)
- ``streaming``   — Structured Streaming ingestion twin of the reference's
                    Kafka micro-batch path (``handler/handler.go``)
"""

__version__ = "0.1.0"
