"""Graph/chain structure wave (32): BFS hop distances over the
near-dup graph, degree assortativity, and the Markov stationary
distribution of the event-type chain.

Structural diagnostics on graphs the engine already builds: how FAR
duplication spreads from a document (BFS layers — the Pregel frontier
shape), whether heavy duplicators attach to heavy duplicators
(assortativity — one exact-moment Pearson over the edge list), and
where user behavior settles long-run (the power-iteration fixpoint of
the transition matrix, unrolled to a fixed depth with the engine's
rounding discipline so both engines iterate bit-identically).
"""

from __future__ import annotations

import struct
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.plans.registry import query

#: BFS depth bound — matches the oracle's recursion guard, so a node
#: farther than this from the seed is (consistently) unreported
_MAX_HOPS = 10

#: power-iteration depth for the stationary distribution
_POWER_ITERS = 8

#: transition-grid rows (distinct ``(prev_type, event_type)`` pairs)
#: the Markov fit collects to the driver; a larger grid raises
#: :class:`MarkovGridTooLarge` instead of being collected
MARKOV_MAX_TRANSITIONS = 10_000


class MarkovGridTooLarge(ValueError):
    """The events have more distinct transitions than
    ``MARKOV_MAX_TRANSITIONS``."""


def _lsh_pairs_sql() -> str:
    from atlassian_confluence_data_pipeline_spark.plans import (  # noqa: F401
        multimodal,
    )
    from atlassian_confluence_data_pipeline_spark.plans.registry import (
        QUERIES,
    )

    return QUERIES["near_dup_pairs_lsh"].oracle


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized near-dup edge list from the session-shared LSH pair
    table (every consumer in a session reads ONE checkpointed chain)."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )
    from atlassian_confluence_data_pipeline_spark.plans.multimodal import (
        near_dup_pairs_lsh,
    )

    p = shared_pair_table(
        spark, sf_dir, "near_dup_pairs_lsh", near_dup_pairs_lsh
    ).select("doc_a", "doc_b")
    return (
        p.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(p.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .localCheckpoint(eager=True)
    )


@query(
    "bfs_hops_neardup",
    oracle=f"""
WITH RECURSIVE pairs AS ({{pairs}}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), seed AS (SELECT min(a) AS s FROM edges),
walk(node, d) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT e.b, w.d + 1
  FROM walk w JOIN edges e ON e.a = w.node
  WHERE w.d < {_MAX_HOPS}
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(d) AS BIGINT) AS hops
FROM walk GROUP BY 1
""",
    tags=("structure", "graph", "bfs", "iterative"),
)
def bfs_hops_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the lowest-id near-duplicated document to
    everything reachable through the near-dup graph (bounded at
    {_MAX_HOPS} hops, matching the oracle's recursion guard) — the
    "contamination radius" readout: a 2-hop neighborhood of a known
    duplicate is the candidate set a forensic sweep re-verifies.

    Scale shape: the textbook Pregel frontier loop — per round, ONE
    equi-join of the current frontier against the edge list, a
    distinct, and an anti-join against settled nodes, each round
    checkpointed so lineage stays O(1); driver traffic is one count per
    round (<= {_MAX_HOPS} scalars). The edge list itself is the
    session-shared LSH chain (near-linear candidate generation,
    measured)."""
    edges = _edges(spark, sf_dir)
    seed = edges.agg(F.min("a")).first()[0]
    if seed is None:  # no near-dup pairs at this scale — empty graph
        return spark.createDataFrame([], "doc_id bigint, hops bigint")
    dist = spark.createDataFrame(
        [(int(seed), 0)], "doc_id bigint, hops int"
    ).localCheckpoint(eager=True)
    frontier = dist.select("doc_id")
    for d in range(1, _MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.doc_id == edges.a)
            .select(F.col("b").alias("doc_id"))
            .distinct()
            .join(dist.select("doc_id"), "doc_id", "left_anti")
            .withColumn("hops", F.lit(d))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("doc_id")
    return dist.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("hops").cast("bigint").alias("hops"),
    )


# splice the (long) LSH chain SQL into the oracle template at import
# time — same composition pattern as dedup_method_agreement
def _finalize_bfs_oracle() -> None:
    from atlassian_confluence_data_pipeline_spark.plans.registry import (
        QUERIES,
    )
    import dataclasses

    spec = QUERIES["bfs_hops_neardup"]
    QUERIES["bfs_hops_neardup"] = dataclasses.replace(
        spec, oracle=spec.oracle.format(pairs=_lsh_pairs_sql())
    )


_finalize_bfs_oracle()


@query(
    "degree_assortativity_neardup",
    oracle=f"""
WITH pairs AS ({{pairs}}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), deg AS (
  SELECT a AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
), e2 AS (
  SELECT da.deg AS x, db.deg AS y
  FROM edges
  JOIN deg da ON da.node = edges.a
  JOIN deg db ON db.node = edges.b
), acc AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM e2
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT nn.n_nodes,
       CAST(acc.m / 2 AS BIGINT) AS n_edges,
       round(CAST(acc.m AS DOUBLE) / nn.n_nodes, 6) AS mean_degree,
       round((acc.m * acc.sxy - acc.sx * acc.sy)
             / (sqrt(acc.m * acc.sxx - acc.sx * acc.sx)
                * sqrt(acc.m * acc.syy - acc.sy * acc.sy)), 6)
         AS assortativity
FROM acc CROSS JOIN nn
""",
    tags=("structure", "graph", "stats"),
)
def degree_assortativity_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the near-dup graph: the Pearson
    correlation of endpoint degrees over all (directed, symmetrized)
    edges — positive means heavy duplicators cluster together (dedup
    removes whole neighborhoods at once), negative means hubs attach to
    leaves (star-shaped template duplication). The structural read
    that tells you WHICH dedup strategy the corpus rewards.

    Scale shape: degrees are one hash aggregate on the edge list; the
    edge-endpoint frame is two equi-joins; the correlation is exact
    integer moments in DECIMAL(38,0) with one closed-form 1-row
    finish. Edge list shared via the session pair-table cache."""
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    n_nodes = deg.count()
    e2 = (
        edges.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("x")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("y")),
            "b",
        )
        .select("x", "y")
    )
    acc = e2.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return acc.select(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        (m / 2).cast("bigint").alias("n_edges"),
        F.round(m.cast("double") / F.lit(n_nodes), 6).alias("mean_degree"),
        F.round(
            (m * sxy - sx * sy)
            / (F.sqrt(m * sxx - sx * sx) * F.sqrt(m * syy - sy * sy)),
            6,
        ).alias("assortativity"),
    )


def _finalize_assort_oracle() -> None:
    from atlassian_confluence_data_pipeline_spark.plans.registry import (
        QUERIES,
    )
    import dataclasses

    spec = QUERIES["degree_assortativity_neardup"]
    QUERIES["degree_assortativity_neardup"] = dataclasses.replace(
        spec, oracle=spec.oracle.format(pairs=_lsh_pairs_sql())
    )


_finalize_assort_oracle()


def _stationary_sql() -> str:
    """Unrolled power iteration: v_{k+1}(j) = sum_i v_k(i) P(i,j), each
    product 9-rounded and DECIMAL-summed, v0 uniform."""
    steps = []
    for k in range(_POWER_ITERS):
        steps.append(
            f"v{k + 1} AS ("
            f"SELECT p.j AS s, CAST(sum(CAST(round(v{k}.v * p.p, 9)"
            f" AS DECIMAL(28,12))) AS DOUBLE) AS v"
            f" FROM v{k} JOIN p ON p.i = v{k}.s GROUP BY 1)"
        )
    chain = ",\n".join(steps)
    last, prev = f"v{_POWER_ITERS}", f"v{_POWER_ITERS - 1}"
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), cnt AS (
  SELECT prev_type AS i, event_type AS j, count(*) AS c
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
), rowt AS (SELECT i, sum(c) AS t FROM cnt GROUP BY 1),
p AS (SELECT i, j, CAST(c AS DOUBLE) / t AS p
      FROM cnt JOIN rowt USING (i)),
states AS (SELECT DISTINCT i FROM p),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM states),
v0 AS (SELECT i AS s, round(1.0 / ns.n, 9) AS v
       FROM states CROSS JOIN ns),
{chain}
SELECT {last}.s AS event_type,
       round({last}.v, 6) AS stationary_prob,
       round(abs({last}.v - {prev}.v), 6) AS residual
FROM {last} JOIN {prev} ON {prev}.s = {last}.s
"""


def _jvm_round9_nanos(spark: SparkSession, xs: list[float]) -> list[int]:
    """Spark's ``round(x, 9)`` of each double, as an integer count of
    1e-9 units. Spark rounds the decimal string ``Double.toString(x)``
    HALF_UP; JDK 17's ``Double.toString`` is not always the shortest
    round-trip string that Python's ``repr`` gives, and the two can
    round differently next to a 9-decimal half boundary, so the strings
    are made by the JVM, the whole batch in a few py4j calls."""
    if not xs:
        return []
    sc = spark.sparkContext
    doubles = sc._gateway.new_array(sc._jvm.double, len(xs))
    packed = bytearray(struct.pack(f">{len(xs)}d", *xs))
    sc._jvm.java.nio.ByteBuffer.wrap(packed).asDoubleBuffer().get(doubles)
    strings = sc._jvm.java.util.Arrays.toString(doubles)[1:-1].split(", ")
    return [
        int(Decimal(s).scaleb(9).to_integral_value(ROUND_HALF_UP))
        for s in strings
    ]


def _power_iterate(
    spark: SparkSession, grid: list[tuple]
) -> list[tuple[object, float, float]]:
    """The ``_POWER_ITERS``-step power iteration of the SQL form
    (:func:`_stationary_sql`) over a collected count grid
    ``[(i, j, c)]``, on the driver; returns ``(s, v, v_prev)`` per
    state, sorted by state.

    Same arithmetic: ``p = double(c) / double(t)`` with ``t`` the row
    total of ``i``; ``v0 = round(1.0 / n, 9)`` over the ``n`` distinct
    ``i``; each term ``round(v * p, 9)`` is summed exactly (as integer
    1e-9 units, which the DECIMAL(28,12) cast holds exactly) and the sum
    converted to double with correct rounding, as Spark's decimal cast
    does. Keys follow the inner joins: a state only reached (no outgoing
    row) carries mass one step and then drops out, a null key never
    joins, and only states present in the last two vectors are
    reported."""
    totals: dict = {}
    for i, _, c in grid:
        totals[i] = totals.get(i, 0) + c
    if not totals:
        return []
    p = [(i, j, float(c) / float(totals[i])) for i, j, c in grid]
    states = list(totals)
    (v0,) = _jvm_round9_nanos(spark, [1.0 / len(states)])
    v = dict.fromkeys(states, v0 / 10**9)
    prev = v
    for _ in range(_POWER_ITERS):
        terms = [(j, v[i] * pij) for i, j, pij in p if i in v]
        sums: dict = {}
        for (j, _), n in zip(
            terms, _jvm_round9_nanos(spark, [x for _, x in terms])
        ):
            sums[j] = sums.get(j, 0) + n
        prev, v = v, {j: n / 10**9 for j, n in sums.items()}
    return sorted(
        (s, v[s], prev[s]) for s in v if s is not None and s in prev
    )


@query(
    "markov_stationary_events",
    oracle=_stationary_sql(),
    tags=("structure", "markov", "iterative"),
)
def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    (the long-run share of time behavior spends in each state), by
    power iteration from the uniform vector through the MLE transition
    matrix — the fixpoint summary on top of event_transition_matrix,
    with the last step's residual reported as the convergence
    certificate.

    Scale shape: the transition counts are the standard user-keyed lag
    window + one hash aggregate, staged once per session (corpus-sized
    work ends there). The |event_types|²-bounded grid is collected once,
    at most ``MARKOV_MAX_TRANSITIONS`` rows (a larger grid raises
    :class:`MarkovGridTooLarge`), and the ``_POWER_ITERS`` iterations
    run on the driver in O(iters·k²) over its k² cells
    (:func:`_power_iterate`), launching no job. Each product is
    9-rounded and DECIMAL-summed exactly as the SQL form does, so the
    driver, Spark and DuckDB iterate through bit-identical vectors. The
    k result rows are literals in the plan (no Python-backed relation),
    and the final 6-rounding happens in Spark."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        event_transition_counts,
    )

    # the session-staged transition grid, shared with
    # event_transition_matrix / transition_entropy_rate
    cnt = event_transition_counts(spark, sf_dir)
    grid = cnt.limit(MARKOV_MAX_TRANSITIONS + 1).collect()
    if len(grid) > MARKOV_MAX_TRANSITIONS:
        raise MarkovGridTooLarge(
            f"more than MARKOV_MAX_TRANSITIONS={MARKOV_MAX_TRANSITIONS} "
            "event-type transitions"
        )
    fit = T.ArrayType(
        T.StructType(
            [
                T.StructField("s", cnt.schema["event_type"].dataType),
                T.StructField("v", T.DoubleType()),
                T.StructField("pv", T.DoubleType()),
            ]
        )
    )
    rows = F.array(
        *[
            F.struct(F.lit(s), F.lit(v), F.lit(pv))
            for s, v, pv in _power_iterate(spark, grid)
        ]
    ).cast(fit)
    return spark.range(1, numPartitions=1).select(F.inline(rows)).select(
        F.col("s").alias("event_type"),
        F.round("v", 6).alias("stationary_prob"),
        F.round(F.abs(F.col("v") - F.col("pv")), 6).alias("residual"),
    )
