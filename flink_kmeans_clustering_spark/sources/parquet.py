"""Parquet scans over the driver testdata star schema (TESTDATA.md).

Columnar scans with Catalyst pushdown: callers filter/select on the
returned DataFrame and the parquet reader prunes columns and row groups
automatically — verify with ``.explain`` (``PushedFilters``/``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one testdata table (lazy — no job until an action)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce an event-time column to session-tz TIMESTAMP (micros).

    Handles both physical layouts the testdata has shipped with:

    - parquet INT64 TIMESTAMP(NANOS) read as a raw long under
      ``nanosAsLong`` — floor-divide to microseconds with integer
      ``div`` (a double division would lose precision on ~1.7e18
      nanosecond values), matching DuckDB's ``epoch_us`` truncation;
    - parquet TIMESTAMP(MICROS) without tz, which Spark reads as
      TIMESTAMP_NTZ — cast to TIMESTAMP, value-preserving because the
      session timezone is pinned UTC (matching DuckDB's naive
      timestamps on the same file).
    """
    dt = dict(df.dtypes)[col]
    if dt == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt != "timestamp":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Events scan with a proper TIMESTAMP ``ts`` column."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # formatted-date outputs (date_format/window starts) must not depend
    # on the host session's timezone — pin UTC like the DuckDB oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_event_ts(load_table(spark, "events", sf_dir))
