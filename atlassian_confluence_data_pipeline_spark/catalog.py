"""Table catalog over the driver's Parquet fixtures.

One call loads a scale-factor directory (``/root/testdata/sf*/``) into
DataFrames / temp views. Reads are plain ``spark.read.parquet`` so
Catalyst's predicate pushdown, column pruning, and partition coalescing
all apply; at 100 TB these would be partitioned/bucketed tables behind
the same names, and every query in ``plans/`` is written against the
*names*, not the storage layout.

Each ``spark.read.parquet`` without a schema launches a schema-inference
job: on a 4-cpu host a first ``load_table`` of an sf0.01 table took
0.13-0.18 s (0.54 s for ``events``), a memo hit 0.02-0.03 s and no
job. ``load_table`` infers a table's
``StructType`` once per session and binds it on every later read: the
schema goes through the package's one session memo
(``plans/_cache.shared_pair_table``) under the name ``schema:{table}``,
with the table's file identity in the ``sf_dir`` slot of the key: the
path plus the name, size and ``mtime_ns`` of every file under it (a
single file or a parquet directory). Rewriting the table at the same
path changes that identity and re-infers. A path the driver cannot
``stat`` (a remote store) is read with inference every time.
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
        df = _read_parquet(spark, path, name)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            # order/interval-preserving under the session's UTC timezone
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path, name)


def _file_identity(path: str) -> str | None:
    """``path:size:mtime_ns`` of every file at or under ``path``, one a
    line; None when there is none or the driver cannot stat them."""
    files = (
        [os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs]
        if os.path.isdir(path)
        else [path]
    )
    try:
        stats = [(f, os.stat(f)) for f in files]
    except OSError:
        return None
    return "\n".join(
        sorted(f"{f}:{st.st_size}:{st.st_mtime_ns}" for f, st in stats)
    ) or None


def _read_parquet(spark: SparkSession, path: str, name: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the session's memoized schema
    bound (module docstring)."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )

    identity = _file_identity(path)
    if identity is None:
        return spark.read.parquet(path)
    schema = shared_pair_table(
        spark,
        identity,
        f"schema:{name}",
        lambda spark, _: spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}

