"""Table catalog over the driver's Parquet fixtures.

One call loads a scale-factor directory (``/root/testdata/sf*/``) into
DataFrames / temp views. Reads are plain ``spark.read.parquet`` so
Catalyst's predicate pushdown, column pruning, and partition coalescing
all apply; at 100 TB these would be partitioned/bucketed tables behind
the same names, and every query in ``plans/`` is written against the
*names*, not the storage layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Fixture tables generated by the driver (TESTDATA.md).
TABLES: tuple[str, ...] = (
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; path layout is ``{sf_dir}/{name}.parquet``.

    The ``events`` fixture stores ``ts`` as Parquet TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects outright. We read nanos as
    INT64 (legacy conf) and truncate to microsecond timestamps — the
    same ns→µs truncation DuckDB applies, so oracle parity holds.
    (Assumption: a bigint ``ts`` IS annotated TIMESTAMP(NANOS) read
    under nanosAsLong — a plain unannotated INT64 column would be
    mis-scaled by the div 1000. The fixture generator only ships the
    annotated form.) Micros-typed fixtures may surface as
    TIMESTAMP_NTZ depending on writer metadata; cast those to
    session-zoned TIMESTAMP so batch and streaming frames over the
    same fixture carry the SAME ts type (streaming/jobs.py applies the
    identical cast — watermarks require the zoned type).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; valid: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            # order/interval-preserving under the session's UTC timezone
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}

