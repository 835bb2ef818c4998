"""Parquet table loaders for the driver testdata (TESTDATA.md).

Batch analogue of the reference's Kafka stream source (A1,
``/root/reference/service/initialise.go:41-66``): in production the engine
reads an Iceberg ``repo_files`` table; in the sandbox, parquet directories.
The loader is format-abstracted so Iceberg (``spark.read.format("iceberg")``)
is a drop-in when the runtime jar is present (SURVEY.md §7 hard part c).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dp_search_data_importer_spark.session import cached_plan

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Column pruning + predicate pushdown reach the
    parquet scan because this returns the raw declarative reader result.
    The reader plan is cached by ``session.cached_plan`` on its path."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return cached_plan(spark, ("load_table", path),
                       lambda: spark.read.schema(footer_schema(path))
                       .parquet(path))


def footer_schema(path: str) -> StructType:
    """The schema Spark infers for a parquet table, read from one footer on
    the driver (Spark's inference runs a job, and a plan whose build runs a
    job is not cached): the stored Spark schema, else the Parquet schema
    with zoneless timestamps as ``timestamp_ntz``, as Spark reads them."""
    import pyarrow.dataset as pads
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = pads.dataset(path, format="parquet").schema
    stored = (schema.metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata")
    if stored:
        return StructType.fromJson(json.loads(stored))
    return from_arrow_schema(schema, prefer_timestamp_ntz=True)


def load_documents(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    return load_table(spark, sf_dir, "documents")
