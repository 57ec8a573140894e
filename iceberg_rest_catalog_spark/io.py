"""Fixture table loaders.

All queries load their inputs through :func:`load_table` so that
schema-normalization (the events ns-timestamp fix) happens in exactly one
place. Column pruning / predicate pushdown still applies: the normalization
is a projection Catalyst folds into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_session_confs

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame with normalized schema.

    events.ts is physically INT64 TIMESTAMP(NANOS); Spark reads it as long
    (spark.sql.legacy.parquet.nanosAsLong) and we truncate to microseconds —
    exactly what DuckDB does when it reads the same file — yielding a
    TIMESTAMP_NTZ column. Integer division (DIV) avoids double-precision
    loss on epoch-nanosecond magnitudes.
    """
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df

