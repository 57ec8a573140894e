"""Fixture table loaders.

All queries load their inputs through :func:`load_table` so that
schema-normalization (the events ns-timestamp fix) happens in exactly one
place. Column pruning / predicate pushdown still applies: the normalization
is a projection Catalyst folds into the scan.

Schema inference is a Spark job (a footer read on an executor) that every
``spark.read.parquet(path)`` pays, whatever the file's size.
:func:`parquet_schema` infers each fixture file's schema once per process
and every later read passes it with ``.schema(...)``, which runs no job.
The cache key is the file's path, ``st_mtime_ns`` and size (a file
rewritten in place is inferred again) plus the session values of the confs
that change Spark's parquet type mapping. No other module asks Spark for an
inferred schema with ``spark.read.parquet(...).schema``
(``tests/test_plans.py::test_one_schema_inference_site``); reads of the
package's own scratch outputs (partitioned directories) still infer theirs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import ensure_session_confs

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Confs that change how Spark maps parquet types to its own.
_TYPE_MAPPING_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_schemas: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file at ``path``, inferred
    once per (path, mtime, size, type-mapping confs)."""
    st = os.stat(path)
    key = (
        os.path.abspath(path), st.st_mtime_ns, st.st_size,
        *(spark.conf.get(k, None) for k in _TYPE_MAPPING_CONFS),
    )
    schema = _schemas.get(key)
    if schema is None:
        schema = _schemas[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame with normalized schema.

    events.ts is physically INT64 TIMESTAMP(NANOS); Spark reads it as long
    (spark.sql.legacy.parquet.nanosAsLong) and we truncate to microseconds —
    exactly what DuckDB does when it reads the same file — yielding a
    TIMESTAMP_NTZ column. Integer division (DIV) avoids double-precision
    loss on epoch-nanosecond magnitudes.
    """
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df
