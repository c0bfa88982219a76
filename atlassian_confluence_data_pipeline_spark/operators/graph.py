"""Connected components over a pair/edge list — the step that turns
pairwise near-duplicate matches into dedup GROUPS (keep one doc per
component, drop the rest).

No recursive SQL in Spark, so components resolve in a driver-side
round loop. The default is ADAPTIVE (the AQE philosophy applied to
graph iteration — measure, then pick the plan):

1. up to ESCALATE_AFTER rounds of cheap MIN-LABEL PROPAGATION (one
   equi-join + one min-aggregate per round — about half the cost of a
   star round). Near-dup / DBSCAN-core graphs have single-digit
   diameters, so this phase almost always converges and the common
   case never pays more than pure propagation did;
2. if not converged, the graph is deep: CONTRACT it by the labels won
   so far (every partial component collapses to its current minimum)
   and finish with ALTERNATING STAR CONTRACTION (large-star /
   small-star, Kiveris et al., "Connected Components in MapReduce and
   Beyond") on the shrunken label graph — component depth
   halves-or-better per round, so the fixpoint (a star forest centered
   at each component's minimum id) arrives in O(log n) rounds even on
   path/chain graphs where pure propagation needs O(diameter)
   (1000-node path: ~8+11 total rounds vs ~999; pinned by
   tests/test_graph_cc.py).

Scale notes (per round, either phase):
- min-label round 1 is one aggregate over the symmetric edge list
  (every label starts as the node's own id, so no join is needed);
  each later round is ONE min-aggregate by node over the neighbour
  messages (one equi-join on node id) plus the node's own label;
- per-round frames are eagerly local-checkpointed (lineage stays O(1);
  on a cluster this becomes `checkpoint()` to durable storage);
- a min-label round counts its changed labels with an ``Observation``
  on that same checkpoint pass, so deciding convergence costs no job;
  star rounds compare edge sets with count / ``isEmpty`` scalars,
  never data collects;
- a hot node (one doc near-duplicating millions) makes its
  min-aggregate wide but associative — partial aggregation absorbs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _record_rounds(op: str, rounds: int) -> None:
    # driver-iteration telemetry for tools/plan_audit.py (item 5b)
    from atlassian_confluence_data_pipeline_spark import iterstats

    iterstats.record(op, rounds)


def _symmetric_edges(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    return (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def _settle(step: DataFrame) -> tuple[DataFrame, int]:
    """Checkpoint one min-label round's ``(node, component, prev)``
    frame as ``(node, component)`` labels; returns them with the number
    of labels that fell below ``prev``, counted on the same pass."""
    obs = Observation()
    labels = (
        step.observe(
            obs,
            F.count(F.when(F.col("component") < F.col("prev"), 1)).alias("changed"),
        )
        .select("node", "component")
        .localCheckpoint(eager=True)
    )
    return labels, obs.get["changed"]


def _minlabel_rounds(
    edges: DataFrame, max_rounds: int
) -> tuple[DataFrame, bool, int]:
    """Up to ``max_rounds`` min-label sweeps from every node labelled
    with its own id; returns (labels, converged, rounds_used). Like an
    equi-join, a round neither sends to nor receives from a null id, so
    a null node keeps the null label it starts with."""
    labels, changed = _settle(
        edges.groupBy("src")
        .agg(
            F.when(
                F.col("src").isNotNull(), F.least(F.col("src"), F.min("dst"))
            ).alias("component")
        )
        .select(F.col("src").alias("node"), "component", F.col("src").alias("prev"))
    )
    used = 1
    while changed and used < max_rounds:
        no_prev = F.lit(None).cast(labels.schema["component"].dataType)
        messages = (
            edges.filter(F.col("src").isNotNull())
            .join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "component", no_prev.alias("prev"))
        )
        own = labels.select("node", "component", F.col("component").alias("prev"))
        labels, changed = _settle(
            messages.unionByName(own)
            .groupBy("node")
            .agg(F.min("component").alias("component"), F.min("prev").alias("prev"))
        )
        used += 1
    return labels, not changed, used


def _star_rounds(
    edges: DataFrame, max_rounds: int
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star until the edge set is a stable
    star forest; returns ((a=node, b=root) edges, rounds_used).
    ``edges`` is an (a, b) frame with no self-loops."""
    rounds = 0
    for _ in range(max_rounds):
        und = edges.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        mins = und.groupBy("u").agg(F.min("v").alias("mv"))
        large = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("a"),
                F.least(F.col("mv"), F.col("u")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        o = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins2 = o.groupBy("u").agg(F.min("v").alias("mv"))
        part1 = (
            o.join(mins2, "u")
            .filter(F.col("v") != F.col("mv"))
            .select(F.col("v").alias("a"), F.col("mv").alias("b"))
        )
        part2 = mins2.select(F.col("u").alias("a"), F.col("mv").alias("b"))
        new_edges = (
            part1.unionByName(part2)
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds += 1
        unchanged = (
            new_edges.count() == edges.count()
            and new_edges.join(edges, ["a", "b"], "left_anti").isEmpty()
        )
        edges = new_edges
        if unchanged:
            break
    return edges, rounds


#: min-label rounds to try before escalating to star contraction. A
#: min-label round is ONE join + ONE aggregate — roughly half a star
#: round — so escalation only pays off when the diameter clearly
#: outruns the budget; 8 covers every graph the dedup/DBSCAN workloads
#: actually produce (measured diameters <= 6 at sf0.1 x8) while a
#: 1000-node path still finishes in 8 + O(log n) rounds
ESCALATE_AFTER = 8


def connected_components(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve (a, b) undirected pairs into components (adaptive:
    min-label first, star contraction on the label-contracted graph if
    the diameter outlives ESCALATE_AFTER rounds).

    Returns (node, component) where ``component`` is the minimum node id
    reachable from ``node``. Only nodes that appear in ``pairs`` are
    returned (singletons are their own trivial component — callers that
    need them union the unpaired ids back in). With ``stats``, writes
    ``stats["rounds"]`` (total) and ``stats["escalated"]``.
    """
    edges = _symmetric_edges(pairs, a_col, b_col)
    labels, converged, used = _minlabel_rounds(
        edges, min(ESCALATE_AFTER, max_iter)
    )
    if converged:
        if stats is not None:
            stats["rounds"] = used
            stats["escalated"] = False
        _record_rounds("connected_components", used)
        return labels
    # deep graph: contract every partial component to its current label
    # and finish on the (much smaller) label graph with star rounds
    la = labels.select(
        F.col("node").alias("src"), F.col("component").alias("la")
    )
    lb = labels.select(
        F.col("node").alias("dst"), F.col("component").alias("lb")
    )
    contracted = (
        edges.join(la, "src")
        .join(lb, "dst")
        .select(F.col("la").alias("a"), F.col("lb").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    star_edges, star_used = _star_rounds(contracted, max(1, max_iter - used))
    # If the star phase ran out of rounds before reaching a star forest,
    # star_edges can still hold several (a, b) rows per label; a raw join
    # would then fan labels out into duplicate, mutually-inconsistent
    # rows. Reduce to ONE root per label (the minimum neighbor — exactly
    # what one more star round would propagate) so the output is always
    # one row per node, converged or not.
    roots = (
        star_edges.groupBy("a")
        .agg(F.min("b").alias("root"))
        .select(F.col("a").alias("la"), "root")
    )
    out = labels.join(
        roots, labels["component"] == roots["la"], "left"
    ).select(
        "node", F.coalesce("root", F.col("component")).alias("component")
    )
    if stats is not None:
        stats["rounds"] = used + star_used
        stats["escalated"] = True
    _record_rounds("connected_components", used + star_used)
    return out
