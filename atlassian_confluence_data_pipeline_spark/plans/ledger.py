"""Nineteenth wave: ledger time travel + windowed sketches.

- state time travel: build two MERGE snapshots in the engine's
  snapshot ledger (operators/state.py — parquet snapshots + atomic
  pointer, the Delta-less commit protocol) and read the table AS OF
  the first one — the lakehouse capability the driver gate can now
  hash-check (the oracle recomputes what the earlier snapshot must
  contain),
- tumbling-window HLL: distinct users per 6-hour window from
  per-window register tables — the windowed form of the sketch
  family, i.e. what a streaming dashboard's "unique users per
  interval" actually computes at scale.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.operators.sketches import (
    hll_estimate_col,
    hll_estimate_sql,
    hll_registers,
)
from atlassian_confluence_data_pipeline_spark.operators.state import StateStore
from atlassian_confluence_data_pipeline_spark.plans.registry import query

#: the two batch cutoffs whose snapshots the time-travel query builds
TT_CUT1 = "1996-01-01 00:00:00"
TT_CUT2 = "2000-01-01 00:00:00"

HLL_WINDOW = "6 hours"


@query(
    "state_time_travel_orders",
    oracle=f"""
SELECT o_custkey AS id, max(o_orderkey) AS version
FROM orders WHERE o_orderdate < TIMESTAMP '{TT_CUT1}'
GROUP BY 1
""",
    tags=("state", "time-travel", "ledger", "lakehouse"),
)
def state_time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger TIME TRAVEL under the oracle gate: write the pre-{C1}
    per-customer state as snapshot 1, MERGE the {C1}..{C2} delta in as
    snapshot 2 (atomic pointer now at 2), then read the store AS OF
    snapshot 1 — the returned frame must be exactly the first batch's
    state, which is what the oracle recomputes from the raw table.
    This is the engine's Delta-less snapshot protocol
    (operators/state.py: full-snapshot write, then an atomic pointer
    manifest that records the snapshot history) exercised end-to-end:
    committed-but-superseded history stays readable until vacuum()
    drops it.

    Scale shape: two |custkeys|-row MERGE writes + one snapshot read;
    the as-of frame is eagerly checkpointed so the scratch ledger
    directory can be removed before the driver consumes the result
    (no data collect — checkpoint blocks hold the rows)."""
    orders = load_table(spark, sf_dir, "orders")

    def batch_state(lo: str | None, hi: str) -> DataFrame:
        f = F.col("o_orderdate") < F.lit(hi).cast("timestamp")
        if lo is not None:
            f = f & (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        return (
            orders.filter(f)
            .groupBy(F.col("o_custkey").alias("id"))
            .agg(F.max("o_orderkey").alias("version"))
        )

    scratch = tempfile.mkdtemp(prefix="acdp_tt_")
    try:
        store = StateStore(scratch)
        store.write(batch_state(None, TT_CUT1))
        snap1 = store.current_snapshot()
        store.upsert(spark, batch_state(TT_CUT1, TT_CUT2), "id", "version")
        assert store.current_snapshot() != snap1  # pointer advanced
        asof = store.read(spark, snapshot=snap1).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return asof.select("id", "version")


def _windowed_hll_oracle() -> str:
    from atlassian_confluence_data_pipeline_spark.operators.sketches import (
        HLL_M,
        hll_hash_sql,
        hll_rank_sql,
    )

    return f"""
WITH w AS (
  SELECT to_timestamp(epoch_us(ts) // 21600000000 * 21600) AS window_start,
         user_id
  FROM events
), h AS (
  SELECT window_start, {hll_hash_sql("user_id")} AS h FROM w
), rr AS (
  SELECT window_start, CAST(h % {HLL_M} AS INT) AS reg,
         {hll_rank_sql(f"(h // {HLL_M})")} AS rank
  FROM h
), regs AS (
  SELECT window_start, reg, max(rank) AS mx FROM rr GROUP BY 1, 2
), est AS (
  SELECT window_start, {hll_estimate_sql("regs")} AS e
  FROM regs GROUP BY window_start
), exact AS (
  SELECT window_start, count(DISTINCT user_id) AS n FROM w GROUP BY 1
)
SELECT strftime(est.window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       round(est.e, 6) AS hll_estimate,
       CAST(exact.n AS BIGINT) AS exact_distinct,
       round(abs(est.e - exact.n) / exact.n, 6) AS rel_error
FROM est JOIN exact USING (window_start)
"""


@query(
    "windowed_distinct_users_hll",
    oracle=_windowed_hll_oracle(),
    tags=("sketch", "window", "distinct", "streaming"),
)
def windowed_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique users per 6-hour tumbling window via per-window HLL
    register tables — the windowed form of the sketch family, and
    exactly what a streaming "uniques per interval" dashboard keeps as
    state (registers per open window; the streaming HLL in
    streaming/jobs.py is the cross-batch form of the same monoid).
    Exact per-window distinct rides along as the audit column.

    Scale shape: one narrow (window, hash) projection, one hash
    aggregate to |windows| x 256 register rows, per-window estimator
    math, one broadcast-scale join with the exact audit."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.select(
        F.window("ts", HLL_WINDOW).getField("start").alias("window_start"),
        "user_id",
    )
    regs = hll_registers(w, F.col("user_id"), extra_keys=("window_start",))
    est = regs.groupBy("window_start").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("sp"),
    ).select(
        "window_start",
        hll_estimate_col(F.col("n_regs"), F.col("sp")).alias("e"),
    )
    exact = w.groupBy("window_start").agg(
        F.count_distinct("user_id").cast("bigint").alias("n")
    )
    return est.join(exact, "window_start").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.round("e", 6).alias("hll_estimate"),
        F.col("n").alias("exact_distinct"),
        F.round(F.abs(F.col("e") - F.col("n")) / F.col("n"), 6).alias(
            "rel_error"
        ),
    )


# ---------------------------------------------------------------------------
# Tamper-evident audit chain — distributed linear recurrence
# ---------------------------------------------------------------------------

#: hash-chain constants: odd multiplier < 2^31, Mersenne-prime modulus
#: (products stay < 2^62 — the LSH overflow discipline)
CHAIN_MULT = 1_103_515_245
CHAIN_MOD = 2_147_483_647


@query(
    "audit_chain_daily_revenue",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), numbered AS (
  SELECT d, cents, row_number() OVER (ORDER BY d) AS rn FROM daily
), chain(rn, y) AS (
  SELECT CAST(1 AS BIGINT),
         ({CHAIN_MULT} * CAST(0 AS BIGINT) + cents % {CHAIN_MOD})
           % {CHAIN_MOD}
  FROM numbered WHERE rn = 1
  UNION ALL
  SELECT c.rn + 1,
         ({CHAIN_MULT} * c.y + n.cents % {CHAIN_MOD}) % {CHAIN_MOD}
  FROM chain c JOIN numbered n ON n.rn = c.rn + 1
)
SELECT strftime(n.d, '%Y-%m-%d') AS day,
       round(CAST(n.cents AS DOUBLE) / 100, 2) AS revenue,
       CAST(c.y AS BIGINT) AS chain
FROM numbered n JOIN chain c USING (rn)
""",
    tags=("ledger", "chain", "recurrence", "scalepath"),
)
def audit_chain_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident audit chain over the daily revenue series:
    ``chain_t = (a * chain_{t-1} + cents_t) mod M`` — each day's value
    commits to ALL history, so altering any prior day changes every
    subsequent link (the ledger-integrity primitive; the reference's
    append-only audit log upgraded with sequential commitment).
    Revenue enters as EXACT integer cents (DECIMAL sum * 100), so the
    chain is bit-identical across engines.

    Scale shape — the point of the query: a linear recurrence looks
    inherently sequential, but affine maps compose, so
    distributed_modular_chain runs it as per-range local scans + a
    <= 32-scalar carry fold + a narrow literal-map projection
    (operators/windows.py). The oracle runs the literal sequential
    recursive CTE; identical output proves the parallel decomposition.
    """
    from atlassian_confluence_data_pipeline_spark.operators.windows import (
        distributed_modular_chain,
    )

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
        .withColumn("dnum", F.datediff(F.col("d"), F.lit("1970-01-01")))
        .localCheckpoint(eager=True)
    )
    chained = distributed_modular_chain(
        daily, ["dnum"], "cents", "chain", CHAIN_MULT, CHAIN_MOD
    )
    return chained.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(F.col("cents").cast("double") / 100, 2).alias("revenue"),
        F.col("chain").cast("bigint").alias("chain"),
    )
