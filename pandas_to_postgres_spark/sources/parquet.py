"""Parquet sources (SURVEY.md §2.1 S5/S6/S13).

The reference streams Parquet through pandas in 10**7-row batches
(`/root/reference/pandas_to_postgres/copy_parquet.py:96-126`). Spark's native
parquet scan already reads row-group-parallel with the vectorized reader,
predicate pushdown, and column pruning — so the "small vs big" strategy choice
(`copy_parquet.py:32-41`) disappears: partitions ARE the chunks, sized by
``spark.sql.files.maxPartitionBytes``.

At 100 TB: the scan parallelizes across executors by row group / file split;
filters and projections expressed on the returned DataFrame reach the scan via
Catalyst (check ``PushedFilters`` / ``ReadSchema`` in ``.explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: tables in the driver-generated star schema (TESTDATA.md)
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    reader rejects — [PARQUET_TYPE_ILLEGAL]) and as naive TIMESTAMP(MICROS)
    (which Spark reads as TIMESTAMP_NTZ). Both are normalized to
    TIMESTAMP_NTZ: naive micros pass through; nanos are read as a long
    (legacy conf) and rebuilt with integer division (``DIV`` — double math
    would lose precision on ~1.7e18 ns epochs) via ``timestampadd`` on an
    NTZ epoch literal, which is session-timezone-independent. DuckDB applies
    the same ns→µs truncation and treats naive timestamps identically, so
    oracle comparisons agree regardless of the driver session's timezone.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        df = read_raw_events(spark, sf_dir)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts DIV 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.parquet`` as stored, for the batch and streaming readers
    to normalize: a TIMESTAMP(NANOS) ``ts`` reads as a long through the
    legacy conf set here (the one place the package sets it), which must
    be set BEFORE the read or Spark rejects the column."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to watermark-eligible TIMESTAMP for the
    streaming paths.

    Structured Streaming rejects TIMESTAMP_NTZ event-time columns
    ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]), so unlike the batch reader
    (which keeps NTZ — naive end-to-end like DuckDB) the stream gets a
    TIMESTAMP: nanos-longs rebuild as UTC instants; NTZ casts via the
    session timezone (UTC in `session.get_spark`), preserving wall time.
    Window bounds formatted back to strings therefore agree with the
    DuckDB oracle's naive arithmetic."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table of the star schema as a dict (lazy scans)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
