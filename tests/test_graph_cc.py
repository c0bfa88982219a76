"""Adaptive connected components (round-4 brief item 5): min-label
first, star contraction on the label-contracted graph for deep shapes.
Output equivalence with both pure strategies on random graphs, the
O(log n) total-round bound on the adversarial deep path, and the
cheap-path guarantee that shallow graphs never escalate.

The two pure strategies live here as references. The min-label one
keeps the earlier round loop verbatim (join → aggregate → join per
round, then an ``isEmpty`` join for convergence), so the package's
one-aggregate rounds are checked against it for labels, round counts
and the job budget."""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.operators.graph import (
    _star_rounds,
    _symmetric_edges,
    connected_components,
)
from tests.test_state_and_pipeline import _launched


def _minlabel_rounds(
    edges: DataFrame, labels: DataFrame, max_rounds: int
) -> tuple[DataFrame, bool, int]:
    """Up to ``max_rounds`` min-label sweeps; returns (labels,
    converged, rounds_used)."""
    used = 0
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("neighbor_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce("neighbor_component", F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("new")
            .join(labels.alias("old"), "node")
            .filter(F.col("new.component") != F.col("old.component"))
        )
        converged = changed.isEmpty()
        labels = updated
        used += 1
        if converged:
            return labels, True, used
    return labels, False, used


def _minlabel_reference(pairs, a_col, b_col, max_iter):
    edges = _symmetric_edges(pairs, a_col, b_col)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    return _minlabel_rounds(edges, labels, max_iter)


def connected_components_minlabel(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int = 50
) -> DataFrame:
    """Pure min-label propagation — O(component diameter) rounds; the
    independently-simple cross-check implementation."""
    labels, _, _ = _minlabel_reference(pairs, a_col, b_col, max_iter)
    return labels


def connected_components_star(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Pure alternating star contraction (O(log n) rounds regardless of
    shape) — the deep-graph strategy, runnable standalone."""
    nodes = (
        pairs.select(F.col(a_col).alias("node"))
        .unionByName(pairs.select(F.col(b_col).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e0 = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    star_edges, rounds = _star_rounds(e0, max_iter)
    if stats is not None:
        stats["rounds"] = rounds
    # one row per node even if max_iter expired mid-contraction (see
    # connected_components: un-converged star forests can carry several
    # edges per node)
    roots = star_edges.groupBy("a").agg(F.min("b").alias("root"))
    return nodes.join(
        roots.select(F.col("a").alias("node"), "root"),
        "node",
        "left",
    ).select(
        "node", F.coalesce("root", F.col("node")).alias("component")
    )


def _labels(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def test_matches_minlabel_on_random_graphs(spark):
    rng = random.Random(5)
    for trial in range(3):
        n = 300
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(int(n * (0.6 + 0.4 * trial)))
        ]
        pairs = spark.createDataFrame(edges, "a bigint, b bigint")
        adaptive = _labels(connected_components(pairs, "a", "b"))
        naive = _labels(connected_components_minlabel(pairs, "a", "b"))
        star = _labels(connected_components_star(pairs, "a", "b"))
        assert adaptive == naive == star


def test_path_graph_converges_in_log_rounds(spark):
    """1000-node path: diameter 999, so min-label would need ~999
    rounds (it is capped at 50 and would return WRONG labels); star
    contraction must converge in O(log n) — well under 2*log2(n)+4 —
    and still label every node with the path's minimum id."""
    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a bigint, b bigint"
    )
    stats: dict = {}
    out = connected_components(pairs, "a", "b", stats=stats)
    got = _labels(out)
    assert got == {(i, 0) for i in range(n)}
    assert stats["escalated"] is True
    assert stats["rounds"] <= 2 * math.ceil(math.log2(n)) + 8, stats
    # the pure star strategy alone also meets the log bound
    sstats: dict = {}
    sout = connected_components_star(pairs, "a", "b", stats=sstats)
    assert _labels(sout) == got
    assert sstats["rounds"] <= 2 * math.ceil(math.log2(n)) + 4, sstats


def test_self_pairs_and_singleton_components(spark):
    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 1), (9, 8)], "a bigint, b bigint"
    )
    got = _labels(connected_components(pairs, "a", "b"))
    assert got == {(7, 7), (1, 1), (2, 1), (8, 8), (9, 8)}


def test_shallow_graphs_never_escalate(spark):
    """Clique-shaped near-dup graphs must take the cheap path: min-label
    converges within the escalation budget and star never runs."""
    c1 = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    c2 = [(100 + i, 100 + i + 1) for i in range(2)]  # 3-node path
    pairs = spark.createDataFrame(c1 + c2, "a bigint, b bigint")
    stats: dict = {}
    out = _labels(connected_components(pairs, "a", "b", stats=stats))
    assert stats["escalated"] is False and stats["rounds"] <= 3
    assert out == {(i, 0) for i in range(6)} | {
        (100, 100), (101, 100), (102, 100)
    }


def test_two_cliques_with_bridge(spark):
    c1 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    c2 = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    pairs = spark.createDataFrame(c1 + c2 + [(4, 10)], "a bigint, b bigint")
    got = dict(_labels(connected_components(pairs, "a", "b")))
    assert all(v == 0 for v in got.values())  # bridge merges everything
    assert set(got) == set(range(5)) | set(range(10, 14))


def test_exhausted_star_budget_still_one_row_per_node(spark):
    """A deep path graph with max_iter too small to converge: the output
    may carry partial components, but it must still be exactly ONE row
    per node (un-converged star forests hold several edges per label —
    the root join reduces them, never fans out)."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a bigint, b bigint"
    )
    for fn, max_iter in [
        (connected_components, 9),   # 8 min-label rounds + 1 star round
        (connected_components, 10),
        (connected_components_star, 1),
        (connected_components_star, 2),
    ]:
        rows = fn(pairs, "a", "b", max_iter=max_iter).collect()
        assert len(rows) == n, f"{fn.__name__} max_iter={max_iter}"
        assert len({r["node"] for r in rows}) == n


def test_rounds_match_reference_on_shallow_graphs_with_null_ids(spark):
    """Where min-label converges within the budget, the package's
    rounds give the reference loop's labels in the same round count —
    null ids included (an equi-join never matches them, so a null node
    keeps a null label and passes none on)."""
    rng = random.Random(9)
    cliques = [
        (base + rng.randrange(6), base + rng.randrange(6))
        for base in range(0, 60, 6)
        for _ in range(10)
    ]
    nulls = [(None, 3), (4, None), (None, None), (70, 70)]
    pairs = spark.createDataFrame(cliques + nulls, "a bigint, b bigint")
    ref, converged, used = _minlabel_reference(pairs, "a", "b", 8)
    stats: dict = {}
    got = _labels(connected_components(pairs, "a", "b", stats=stats))
    assert converged and stats == {"rounds": used, "escalated": False}
    assert got == _labels(ref) and (None, None) in got


def test_path_rounds_fit_half_the_reference_jobs(spark):
    """A 6-edge path takes 7 min-label rounds either way (6 hops, then
    one round that changes nothing). The reference loop launches 81
    jobs there: one aggregate per round, with its change count observed
    on the round's checkpoint pass, must launch at most half of that."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "a bigint, b bigint"
    )
    (ref, converged, used), _, _ = _launched(
        spark, lambda: _minlabel_reference(pairs, "a", "b", 8)
    )
    stats: dict = {}
    out, jobs, _ = _launched(
        spark, lambda: connected_components(pairs, "a", "b", stats=stats)
    )
    assert converged and used == 7
    assert stats == {"rounds": 7, "escalated": False}
    assert _labels(out) == _labels(ref) == {(i, 0) for i in range(7)}
    assert jobs <= 81 // 2, jobs
