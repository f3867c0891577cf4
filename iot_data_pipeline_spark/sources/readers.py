"""Readers: the reference's CSV scan contract + the testdata parquet catalog.

CSV contract (reference S1, ``/root/reference/src/jobs/process_iot_data.py:245-253``):
explicit 22-column schema, ``header=True``, ``sep=','``, ``nullValue='-'``
(Zeek's unset marker), ``recursiveFileLookup=True``, ``enforceSchema=True``.
Enforcing the schema skips Spark's CSV inference pass — one scan, not two —
which matters at 39 GB+ of input.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from iot_data_pipeline_spark.session import scoped_conf

# The reference's enforced input schema, 1:1
# (/root/reference/src/jobs/process_iot_data.py:79-104). Column names keep the
# raw dots/hyphens; normalize_columns() rewrites them after the scan.
IOT_SCHEMA = StructType(
    [
        StructField("uid", StringType(), True),
        StructField("id.orig_h", StringType(), True),
        StructField("id.orig_p", IntegerType(), True),
        StructField("id.resp_h", StringType(), True),
        StructField("id.resp_p", IntegerType(), True),
        StructField("proto", StringType(), True),
        StructField("service", StringType(), True),
        StructField("duration", StringType(), True),
        StructField("orig_bytes", LongType(), True),
        StructField("resp_bytes", LongType(), True),
        StructField("conn_state", StringType(), True),
        StructField("local_orig", StringType(), True),
        StructField("local_resp", StringType(), True),
        StructField("missed_bytes", LongType(), True),
        StructField("history", StringType(), True),
        StructField("orig_pkts", LongType(), True),
        StructField("orig_ip_bytes", LongType(), True),
        StructField("resp_pkts", LongType(), True),
        StructField("resp_ip_bytes", LongType(), True),
        StructField("tunnel_parents", StringType(), True),
        StructField("label", StringType(), True),
        StructField("detailed-label", StringType(), True),
    ]
)

# Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
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


def read_iot_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    **options,
) -> DataFrame:
    """Scan IoT-23-style CSV with the reference's exact reader contract.
    Extra ``options`` (e.g. ``mode='FAILFAST'``) layer on top of it."""
    return spark.read.csv(
        path,
        header=True,
        schema=schema or IOT_SCHEMA,
        sep=",",
        nullValue="-",
        recursiveFileLookup=True,
        enforceSchema=True,
        **options,
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Plain parquet scan: Catalyst gets min/max
    stats, predicate pushdown, and column pruning for free.

    ``events.ts`` has been written by different testdata generations as
    either parquet TIMESTAMP(NANOS) (which Spark's µs TimestampType rejects
    outright) or TIMESTAMP(MICROS) (which Spark resolves as TIMESTAMP_NTZ
    when ``isAdjustedToUTC=false``). Sniff the *resolved* dtype and
    normalize both generations to the same session-TZ ``TimestampType``
    column (the session runs UTC, so NTZ wall-time == instant):

    - nanos → read raw longs via the ``nanosAsLong`` legacy conf, truncate
      to µs (the same truncation DuckDB applies casting TIMESTAMP_NS →
      TIMESTAMP, so oracles agree);
    - µs timestamp / TIMESTAMP_NTZ → plain ``cast("timestamp")``.

    The legacy conf is scoped to the read (set, resolve the scan schema,
    restore) so it never leaks into the caller's session. Emitting
    TimestampType (never NTZ) keeps ``unix_micros()`` et al. valid
    downstream regardless of which generation produced the file.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampType

        # inferTimestampNTZ=false makes Spark resolve a µs
        # isAdjustedToUTC=false column as TimestampType AT THE SCAN, not
        # TIMESTAMP_NTZ — no cast layer on top, so time-range predicates
        # still push down to the parquet reader (a post-cast filter would
        # scan everything at 100 TB). Both confs are scoped to the
        # schema-resolving read (set, resolve, restore).
        confs = {
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        }
        with scoped_conf(spark, confs):
            # .read.parquet resolves the schema eagerly, which is the only
            # point these confs are consulted (verified value-identical
            # with the confs restored before any action runs).
            df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # legacy TIMESTAMP(NANOS) generation: raw nanos → µs instant
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampType):
            # µs generation, resolved directly as session-TZ TimestampType
            return df
        # Defensive fallback (should not occur with inferTimestampNTZ off):
        # UTC session makes the NTZ wall-time reinterpretation exact.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load several testdata tables at once."""
    return [load_table(spark, sf_dir, n) for n in (names or TABLES)]
