"""Skew-handling operators (extension X6; SURVEY.md §7 hard-point 6).

The reference's per-space sweep (master_script.py:496-558) is the skew
analog: one hot space key dominates the run. At 100 TB a hot key turns
one reducer into the whole job's critical path. Two standing remedies,
plus AQE:

- **Two-phase (salted) aggregation**: aggregate on (key, salt) first —
  the hot key's rows spread over ``n_salts`` reducers — then combine the
  partials per key. Works for any associative aggregate; this module
  ships count/sum forms.
- **Replicated (salted) join**: explode the small side to every salt of
  the hot keys so the big side's salted rows still find their match.
- **AQE skew-join splitting** (session.py turns it on) handles the
  sort-merge case automatically at runtime; the explicit operators are
  for aggregations and for engines/paths AQE does not cover.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Uniform random-ish salt derived deterministically from the row's
    whole content hash (no rand(): deterministic re-runs, no RNG state
    in recovery paths)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int")
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation: partial on (keys + salt), final on keys.

    ``aggs`` maps output column -> (partial_agg_expr, final_agg_expr over
    the partial column). Example::

        salted_agg(df, ["k"], {
            "n":   (F.count(F.lit(1)),      F.sum("n")),
            "tot": (F.sum(F.col("v")),      F.sum("tot")),
        })

    The hot key's input spreads across ``n_salts`` partial groups, so no
    single reducer sees the whole key until the (tiny) partial rows
    combine."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, (expr, _) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[final.alias(name) for name, (_, final) in aggs.items()]
    )


def hot_blocks(df: DataFrame, keys: Sequence[str], threshold: int) -> DataFrame:
    """Block keys whose member count reaches ``threshold`` — the small
    side of a broadcast tag join (fully distributed; no driver collect
    of data, and not even of the key list)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= threshold)
        .select(*keys)
        .withColumn("__hot", F.lit(True))
    )


def pair_task_salt(
    df: DataFrame,
    id_col: str,
    hot: DataFrame,
    keys: Sequence[str],
    n_salts: int,
    side: str,
) -> DataFrame:
    """Add (__u, __v) pair-task coordinates for a blocked SELF-pair join.

    A block of n rows owes n^2 candidate pairs; if one reducer owns the
    whole block that n^2 is the job's critical path. Rows of blocks
    tagged in ``hot`` (see :func:`hot_blocks`, broadcast) get a
    deterministic own-coordinate ``hash(id) % n_salts`` and fan out over
    the other coordinate, so pair (a, b) is produced EXACTLY ONCE — in
    task (u_a, v_b) — and the block's pair space spreads over
    n_salts^2 reducers at n_salts-fold row replication. Non-hot blocks
    ride task (0, 0) with no replication. Join on
    ``keys + ["__u", "__v"]`` afterwards; results are identical to the
    unsalted join (exactness proven in tests/test_scale_patterns.py)."""
    own = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int")
    fan = F.when(
        F.col("__hot"), F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).otherwise(F.array(F.lit(0)))
    tagged = df.join(F.broadcast(hot), list(keys), "left").withColumn(
        "__hot", F.coalesce(F.col("__hot"), F.lit(False))
    )
    own_when = F.when(F.col("__hot"), own).otherwise(F.lit(0))
    if side == "left":
        # generators cannot nest inside expressions: explode bare
        return tagged.withColumn("__u", own_when).withColumn(
            "__v", F.explode(fan)
        ).drop("__hot")
    if side == "right":
        return tagged.withColumn("__v", own_when).withColumn(
            "__u", F.explode(fan)
        ).drop("__hot")
    raise ValueError(f"side must be left or right, got {side!r}")


def guarded_pair_frames(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    hot: DataFrame,
    keys: Sequence[str],
    n_salts: int,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Adaptive wrapper around :func:`pair_task_salt` — the AQE
    philosophy applied to pair-join salting: measure, then pick the
    plan. The census (``hot``, an aggregate over the block keys) runs
    first as a tiny job; when it finds NO hot block — the overwhelmingly
    common case — the inputs come back untouched with the plain join
    keys, so the cold path pays zero extra plan complexity. Only under
    real skew do both sides fan out over the pair-task grid.

    The ``isEmpty()`` probe is a scalar plan-selection read (like AQE's
    runtime statistics), not a data collect."""
    if hot.isEmpty():
        return left, right, list(keys)
    return (
        pair_task_salt(left, id_left, hot, keys, n_salts, "left"),
        pair_task_salt(right, id_right, hot, keys, n_salts, "right"),
        list(keys) + ["__u", "__v"],
    )


def salted_join_skewed(
    big: DataFrame,
    small: DataFrame,
    key: str,
    hot_keys: Sequence,
    n_salts: int = 16,
) -> DataFrame:
    """Inner equi-join where ``big`` is skewed on ``hot_keys``.

    Hot rows of the big side get a deterministic salt in [0, n_salts);
    the small side replicates its hot rows across every salt. Non-hot
    rows join on salt 0 with no replication. Join key becomes
    (key, salt) — the hot key's work spreads over n_salts tasks."""
    hot = F.col(key).isin(list(hot_keys))
    big_salted = big.withColumn(
        "__salt",
        F.when(hot, F.pmod(F.xxhash64(*big.columns), F.lit(n_salts)))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    salts = F.when(
        hot, F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).otherwise(F.array(F.lit(0)))
    # generators cannot be nested inside other expressions: explode bare
    small_replicated = small.withColumn("__salt", F.explode(salts))
    return big_salted.join(small_replicated, [key, "__salt"]).drop("__salt")


def _holds_map(t: DataType) -> bool:
    """True when ``t`` is a MapType or holds one at any depth (struct
    field, array element, map key/value): xxhash64 rejects such
    columns at analysis time."""
    if isinstance(t, MapType):
        return True
    if isinstance(t, StructType):
        return any(_holds_map(f.dataType) for f in t.fields)
    if isinstance(t, ArrayType):
        return _holds_map(t.elementType)
    return False


def spread_scan(df: DataFrame, min_ratio: int = 2) -> DataFrame:
    """Round-robin repartition of a frame whose PHYSICAL source yields
    fewer splits than the session's parallelism — the input-skew remedy
    from the optimization playbook ("one huge unsplittable file …
    repartition immediately after the read", guide §2.5). The driver's
    fixtures are single-row-group parquet files, so every scan runs as
    ONE task and any per-row expression work downstream (fan-out
    Generates, decimal folds, hash chains) serializes onto one core.

    Scale-adaptive by construction: when the source already provides at
    least ``defaultParallelism / min_ratio`` splits (every real table at
    cluster scale), the frame is returned UNCHANGED — no exchange is
    added, so this can never introduce a full-table shuffle on a 100 TB
    input. Only call it where the downstream per-row work outweighs one
    narrow-row shuffle of the frame.

    The split-count probe (an RDD materialization, ~0.1 s of driver
    work) goes through the session memo (plans/_cache.py), keyed by the
    sorted source files and the parallelism: split planning depends
    only on the file set and session confs, so every later query over
    the same source skips the probe."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )

    def probe(_spark, _files) -> int:
        return df.rdd.getNumPartitions()

    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    try:
        current = (
            shared_pair_table(
                spark, "\n".join(files), f"split_count_p{target}", probe
            )
            if files
            else probe(spark, "")
        )
    except Exception:
        return df
    if current * min_ratio >= target:
        return df
    # Spread on a DETERMINISTIC hash key rather than round-robin
    # (round 12): keyless repartition(n) first pays a local sort of the
    # single-split input (sortBeforeRepartition, on one core — measured
    # ~2x the whole exchange here), and rows shuffled by a
    # non-deterministic assignment can duplicate or vanish when a fetch
    # failure re-runs map tasks (SPARK-38388). Hashing the row's own
    # values into 100x more key values than partitions spreads evenly,
    # needs no sort, and re-runs reproduce the same assignment.
    hashable = [f.name for f in df.schema.fields if not _holds_map(f.dataType)]
    if not hashable:
        return df.repartition(target)
    key = F.pmod(
        F.xxhash64(*[F.col(c) for c in hashable]), F.lit(100 * target)
    )
    return df.repartition(target, key)
