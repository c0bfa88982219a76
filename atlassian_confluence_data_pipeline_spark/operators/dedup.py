"""Dedup / set operators: latest-per-key, union-dedup.

Reference analogs: visited-set dedup during scans (confluence_client.py:
292,315-318), union of updated+missing phases with skip-seen
(master_script.py:487-490,:525,:553-558), last-write-wins state upsert
(state_manager.py:93-99). All land on HashAggregate / window physical
plans — map-side partial aggregation makes these shuffle-light at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """Keep the single latest row per key (highest ``order_cols``).

    Reference W2: last-write-wins upsert semantics (state_manager.py:93-99)
    made explicit and deterministic via row_number over a descending sort.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def union_dedup(a: DataFrame, b: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Union two phases' outputs, keeping one row per key (first frame wins).

    Reference D2: updated-pages ∪ missing-pages with skip-seen
    (master_script.py:487-558). Implemented as union + priority window so
    it stays a single shuffle instead of a join followed by a union.
    """
    tagged = a.withColumn("__src", F.lit(0)).unionByName(b.withColumn("__src", F.lit(1)))
    w = Window.partitionBy(*keys).orderBy(F.col("__src").asc())
    return tagged.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__src", "__rn")
