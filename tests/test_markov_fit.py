"""The Markov stationary fit on the driver (``plans/structure.py``):
``_power_iterate`` over the collected transition grid must give the
bit-identical vectors of the Spark power-iteration loop it replaced,
which is kept here as the reference, and the query must launch a
bounded number of jobs."""

from __future__ import annotations

import os
import random
import shutil
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.plans._cache import (
    event_transition_counts,
)
from atlassian_confluence_data_pipeline_spark.plans.structure import (
    _POWER_ITERS,
    _power_iterate,
    markov_stationary_events,
)
from perfbench.tables import build_tables
from tests.test_state_and_pipeline import _launched


def _spark_power_iteration(cnt, keys=()):
    """The Spark loop the driver fit replaced: ``cnt(*keys, i, j, c)``
    -> ``(*keys, s, v, pv)``, the last two vectors joined on the state.
    Without ``keys`` it is the query's former body; with ``keys`` it
    runs one independent iteration per key value in the same jobs."""
    keys = list(keys)
    rowt = cnt.groupBy(*keys, "i").agg(F.sum("c").alias("t"))
    p = cnt.join(rowt, [*keys, "i"]).select(
        *keys, "i", "j", (F.col("c").cast("double") / F.col("t")).alias("p")
    ).localCheckpoint(eager=True)
    states = p.select(*keys, "i").distinct()
    if keys:
        n = states.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        states, v0 = states.join(n, keys), F.lit(1.0) / F.col("n")
    else:
        v0 = F.lit(1.0) / states.count()
    v = states.select(*keys, F.col("i").alias("s"), F.round(v0, 9).alias("v"))
    prev = v
    for _ in range(_POWER_ITERS):
        prev = v
        v = (
            v.withColumnRenamed("s", "i")
            .join(p, [*keys, "i"])
            .groupBy(*keys, F.col("j").alias("s"))
            .agg(
                F.sum(
                    F.round(F.col("v") * F.col("p"), 9).cast("decimal(28,12)")
                )
                .cast("double")
                .alias("v")
            )
        )
    return v.join(prev.select(*keys, "s", F.col("v").alias("pv")), [*keys, "s"])


def _assert_fit_matches_reference(spark, sf_dir):
    cnt = event_transition_counts(spark, sf_dir).select(
        F.col("prev_type").alias("i"), F.col("event_type").alias("j"), "c"
    )
    want = sorted(map(tuple, _spark_power_iteration(cnt).collect()))
    assert want
    assert _power_iterate(spark, [tuple(r) for r in cnt.collect()]) == want


@pytest.mark.parametrize("fixture", ["sf0.001", "sf0.01", "sf0.1"])
def test_driver_fit_matches_spark_loop_on_fixtures(spark, sf_dir, fixture):
    _assert_fit_matches_reference(
        spark, os.path.join(os.path.dirname(sf_dir), fixture)
    )


@pytest.mark.parametrize("seed", [3, 17, 29])
def test_driver_fit_matches_spark_loop_on_generated_events(spark, tmp_path, seed):
    """Events of the benchmark's table generator (perfbench/tables.py)."""
    pq.write_table(
        build_tables(seed, 0.01)["events"], str(tmp_path / "events.parquet")
    )
    _assert_fit_matches_reference(spark, str(tmp_path))


#: state names: ASCII, a Latin-1 letter and one outside the BMP
_NAMES = ["a", "b", "c", "d", "e", "f", "g", "h", "é", "\U0001d400"]


def _random_grids(n: int, seed: int) -> list[list[tuple]]:
    """Count grids ``[(i, j, c)]``: k = 1, a target with no outgoing row
    (``sink``), a null target, and grids whose first products land
    exactly on a 9-decimal half (k in 2, 4, 8 with row totals of
    ``2**10 / k``: ``v0 * p = c / 2**10`` has exactly ten decimals)."""
    rng = random.Random(seed)
    grids = [[("a", "a", 7)], [("a", "b", 1), ("a", "sink", 1), ("b", "a", 3)]]
    while len(grids) < n:
        tie = rng.random() < 0.4
        k = rng.choice([2, 4, 8] if tie else [1, 2, 3, 4, 5, 6, 8])
        states = rng.sample(_NAMES, k)
        extra = rng.sample(["sink", None], rng.randint(0, 2))
        grid = []
        for i in states:
            targets = rng.sample(states + extra, rng.randint(1, k + len(extra)))
            if tie:
                total = 2**10 // k
                cuts = sorted(rng.sample(range(1, total), len(targets) - 1))
                counts = [b - a for a, b in zip([0, *cuts], [*cuts, total])]
            else:
                top = rng.choice([1, 3, 10, 1000])
                counts = [rng.randint(1, top) for _ in targets]
            grid += [(i, j, c) for j, c in zip(targets, counts)]
        grids.append(grid)
    return grids


def _first_round_ties(grid) -> int:
    """Products ``v0 * p`` of the first round whose exact value has a 5
    in the tenth decimal and nothing after it."""
    totals: dict = {}
    for i, _, c in grid:
        totals[i] = totals.get(i, 0) + c
    v0 = 1.0 / len(totals)
    exact = [Decimal(v0 * (c / totals[i])).scaleb(10) for i, _, c in grid]
    return sum(1 for x in exact if x == x.to_integral_value() and x % 10 == 5)


def test_driver_fit_matches_spark_loop_on_random_grids(spark):
    grids = _random_grids(240, seed=12)
    assert sum(map(_first_round_ties, grids)) >= 100
    cnt = spark.createDataFrame(
        [(g, i, j, c) for g, grid in enumerate(grids) for i, j, c in grid],
        "g int, i string, j string, c bigint",
    )
    want: dict[int, list] = {g: [] for g in range(len(grids))}
    for r in _spark_power_iteration(cnt, keys=["g"]).collect():
        want[r["g"]].append((r["s"], r["v"], r["pv"]))
    for g, grid in enumerate(grids):
        assert _power_iterate(spark, grid) == sorted(want[g]), grid
    assert _power_iterate(spark, grids[0]) == [("a", 1.0, 1.0)]


def test_markov_build_and_exec_launch_a_bounded_number_of_jobs(
    spark, sf_dir, tmp_path
):
    """Build (with the transition grid staged, as in a fresh session)
    at most 6 jobs, execution at most 2; the Spark loop took 10 and 13."""
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    df, build_jobs, _ = _launched(
        spark, lambda: markov_stationary_events(spark, str(tmp_path))
    )
    rows, exec_jobs, _ = _launched(spark, df.collect)
    assert rows
    assert build_jobs <= 6
    assert exec_jobs <= 2
