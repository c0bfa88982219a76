#!/usr/bin/env python
"""Plan audit: sweep EVERY registered query's optimized + physical plan
for scale anti-patterns and print a markdown report.

    python tools/plan_audit.py [--sf /root/testdata/sf0.01]

Flags raised:
- **CartesianProduct** anywhere (always a bug in this engine).
- **BroadcastNestedLoopJoin** outside the known-intentional list
  (tiny broadcast side under a non-equi condition — see PLANS.md).
- **BatchEvalPython** (row-at-a-time Python UDF — the slow path; only
  ArrowEvalPython / mapInPandas nodes are sanctioned).
- **Duplicated expensive folds**: more `aggregate(` occurrences in the
  optimized plan than the query legitimately contains — the
  projection-CSE / filter-on-alias traps (PLANS.md round-2 note).
  Threshold is generous (8); the trap produces 16-66 copies.
- **Giant literal expressions** (round-5 item 5a): any single optimized-
  plan line over MAX_PLAN_LINE chars — the inlined-literal-array pattern
  (Bloom bitmaps etc.). The sanctioned 4096-element bitmaps produce
  ~60k-char lines; the gate fires at ~2x that, before an unbounded
  collect-and-inline could ship a corpus into the plan.
- **Driver iteration counts** (item 5b): looping operators record their
  cluster-round counts in `atlassian_confluence_data_pipeline_spark.iterstats`;
  any query whose build drives an operator past ITERATION_BOUND rounds
  is flagged (loops must be configured constants or O(log n), never
  data-tracking).
- **Checkpoint counts** (item 5c): DISTINCT `Scan ExistingRDD` frames in
  the physical plan (localCheckpoint materializations feeding the final
  job) above CHECKPOINT_SCAN_BOUND — each is a full materialization of
  an intermediate; a plan accumulating many distinct ones is
  over-materializing. Re-scanning ONE checkpointed frame many times
  (unrolled iterations over a bounded matrix) is reuse, not waste, so
  scans of the same frame count once.

Exit code 1 if anything is flagged, so CI can gate on it.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from atlassian_confluence_data_pipeline_spark.plans import QUERIES  # noqa: E402
from atlassian_confluence_data_pipeline_spark.session import get_session  # noqa: E402

#: BNLJ nodes that are by design: tiny broadcast side, non-equi or
#: cross condition (documented in PLANS.md "Intentional BNLJ")
INTENTIONAL_BNLJ = {
    "cosine_topk",
    "ivf_ann_topk",
    "rich_inactive_customers",
    "bm25_topk",  # 1-row corpus-stats aggregate broadcast-crossed onto terms
    "nation_acctbal_share",  # 1-row global-balance scalar crossed onto 25 rows
    "source_js_divergence",  # 20-source dim crossed onto 50-term vocab (dense matrix)
    "join_key_skew_report",  # 1-row total-count scalar crossed onto top-20 keys
    "shard_assignment",  # 1-row token-total scalar crossed onto 64 shard rows
    "binned_quantile_estimates",  # 3-row (p, k) probe table broadcast under
    # a non-equi cum>=k condition onto the 256-bin / distinct-value cumsums
    "hll_distinct_orders",  # 1-row estimate x 1-row exact scalar attach
    "hll_merge_users",  # three 1-row scalar frames crossed into the report
    "kendall_tau_qty_discount",  # three 1-row scalar aggregates (n, tx, ty)
    # broadcast-crossed onto the 1-row pair-count frame (round 11: the
    # literal-key equi-join folds to true, which IS a bounded cross)
    "kmv_intersection_users",  # four 1-row sketch-threshold scalars crossed
    "cusum_drift_daily_revenue",  # 1-row moment frame broadcast onto |days|
    "ab_test_value_ztest",  # two 1-row variant-moment frames crossed
    "dedup_method_agreement",  # three 1-row pair-count scalars crossed
    "conversion_latency_percentiles",  # 2-row probe table crossed onto
    # the distinct-latency cumsum (binned_quantile pattern)
    "customer_revenue_gini",  # 1-row top-decile scalar crossed
    "freshness_lag_report",  # 1-row stream-head scalar broadcast onto 5 groups
    "int8_topk_recall",  # 10-row broadcast query side under the != self
    # condition (cosine_topk pattern), twice (exact + quantized rankings)
    "acf_daily_revenue",  # 1-row global-moment frame crossed onto 14 lag rows
    "benford_price_audit",  # 1-row total-count scalar crossed onto <= 9 digits
    "session_funnel_patterns",  # 1-row total scalar crossed onto the
    # <= 5-row category rollup
    "ivf_recall_audit",  # 10-row broadcast query frame under the
    # query_id != neighbor_id condition (the cosine_topk brute-force side)
    "ndcg_label_retrieval",  # the same 10-row broadcast probe frame
    # under != (cosine_topk pattern), metric arithmetic on k rows/query
    "robust_trend_daily_revenue",  # pairwise-slope self-join of the
    # CALENDAR-BOUNDED day series (~2.4k rows broadcast under db > da;
    # Theil-Sen/Mann-Kendall are all-pairs by definition)
    "hodges_lehmann_daily_revenue",  # Walsh-average self-join of the
    # calendar-bounded day series under db >= da (the robust_trend
    # pattern; pseudomedian is all-pairs by definition)
    "burrows_delta_sources",  # |sources| x 30-marker-word grid built by
    # crossing the source totals with the TakeOrdered marker list —
    # both sides bounded (the zero-count cells must exist for z-scores)
    "retrieval_ndcg_mrr",  # the same 10-row broadcast probe frame
    # under != (cosine_topk pattern); metric folds on k rows/query
    "preference_cycle_audit",  # four 1-row count scalars crossed into
    # the single audit row (edge/cycle joins themselves are equi-joins)
    "pq_adc_topk",  # 10-row broadcast query frame under the != self
    # condition (cosine_topk pattern); ADC ranking + the hash-SAMPLED
    # exact audit leg (round 11: half the queries, codes-only ADC scan)
    "pq_adc_search",  # the production ADC-only sibling: same 10-row
    # broadcast query frame under !=, codes-only projection, no exact leg
    "pq_adc_recall",  # the sampled-audit rollup: rides pq_adc_topk's
    # shapes, aggregates its <= K rows per sampled query
    "full_curation_pipeline_mm",  # four 1-row census scalars crossed
    # per modality row (scalar-attach pattern); every dedup leg itself
    # is a banded equi-join + CC
    "modality_component_agreement",  # four 1-row stat frames crossed
    # into the single audit row (scalar-attach); the contingency and
    # size censuses themselves are equi-joins on component reps
    "categorical_mutual_information",  # every BNLJ builds on the 1-row
    # total aggregate (marg.crossJoin(F.broadcast(total)), round 12) or
    # another 1-row scalar (cardinalities, entropies) crossed into the
    # per-pair row; the joint/marginal joins are broadcast equi-joins
}

#: queries whose plans legitimately carry many HOF folds (k parallel
#: aggregate expressions by construction, not accidental duplication)
MANY_FOLD_OK = {
    "minhash_lsh_pairs",  # k-slot signature fold + band folds
    "embedding_lsh_pairs",  # 64 running dots in one struct fold
    "ivf_ann_topk",  # cosine (dot + 2 norms) at 3 join sites + centroid mean
    "ivf_recall_audit",  # the ivf_ann_topk folds PLUS the brute-force
    # exact ranking's cosine folds (two complete rankings in one plan)
    "centroid_classifier_confusion",  # 10 centroid-distance folds (one
    # per label codebook entry) in the broadcast-codebook explode
    "centroid_silhouette_by_label",  # same 10-fold distance frame
    "bradley_terry_strengths",  # round-10 fusion: 8 unrolled MM rounds,
    # each one denominator fold + one normalization fold over the
    # packed contestant² row — k parallel folds by construction
    "dpo_pair_construction",  # embeds the fused Bradley-Terry chain
    # (18 folds) plus the dedup-weight minhash chain's signature folds
}

FOLD_THRESHOLD = 8

#: queries whose physical plan contains an UNPARTITIONED window whose
#: input domain is provably BOUNDED (a constant independent of corpus
#: size: top-k limits, fixed bin/vocab counts, k-row merges) — the only
#: sanctioned use of the WindowExec single-partition path. Anything
#: windowing a domain that grows with the data must go through
#: operators/windows.py distributed_prefix_rank instead.
#: name -> (max rows allowed INTO any unpartitioned WindowExec, why).
#: The bounds are MEASURED, not argued (round-6 item 4): the audit
#: executes each allowlisted query and reads the row count flowing into
#: every unpartitioned window from the executed plan's SQL metrics,
#: failing if any exceeds its stated bound.
BOUNDED_GLOBAL_WINDOW_OK: dict[str, tuple[int, str]] = {
    "binned_quantile_estimates": (
        300,
        "cumsum over the fixed 256-bin histogram"
        " (the exact-audit branch uses distributed_prefix_rank)",
    ),
    "bpe_merge_candidates": (24, "rank inside the 20-row TakeOrdered result"),
    "bpe_token_census": (34, "rank inside the 30-row TakeOrdered result"),
    "rrf_hybrid_search": (
        220,
        "ranks inside the two 100-row TakeOrdered cuts"
        " and the <=200-row fused frame",
    ),
    "weighted_sample_wor": (60, "rank inside the 50-row TakeOrdered sample"),
    "zipf_slope": (110, "rank inside the top-100 TakeOrdered vocabulary cut"),
    "daily_revenue_locf": (
        3200,
        "LOCF carry over the calendar-day spine"
        " (~2.6k rows for the 7-year fixture — bounded by time span, not"
        " corpus size; revenue is pre-aggregated to the day domain)",
    ),
    # round-11: the survival family's at-risk/hazard/survival cumsums
    # run over the customer-lifetime DURATION domain — days between
    # first and last order, bounded by the corpus time span exactly
    # like the daily_revenue_locf spine (<= ~2.6k distinct durations
    # for the 7-year fixture at ANY corpus size; lifetimes are
    # pre-aggregated to the duration domain first)
    "kaplan_meier_churn": (
        3200,
        "product-limit cumsums over the calendar-bounded duration domain",
    ),
    "nelson_aalen_hazard": (
        3200,
        "hazard cumsums over the calendar-bounded duration domain",
    ),
    "log_rank_test": (
        3200,
        "two at-risk cumsums over the calendar-bounded duration domain",
    ),
    "uplift_qini_deciles": (
        16,
        "Qini cumsum over the fixed 10-decile frame",
    ),
    "cusum_drift_daily_revenue": (
        3200,
        "CUSUM running sum + moments over the calendar-bounded day domain",
    ),
    "revenue_changepoint": (
        3200,
        "split-scan cumsum + totals over the calendar-bounded day domain",
    ),
}


# -- measured window-domain sizes (round-6 item 4) --------------------------


def _jseq(seq):
    return [seq.apply(i) for i in range(seq.length())]


def _window_input_rows(node):
    """Rows flowing INTO a WindowExec, read from executed-plan metrics:
    descend through cardinality-preserving nodes until a node exposes
    numOutputRows; a TakeOrderedAndProject contributes min(limit,
    upstream). Returns None when unmeasurable (conservatively flagged)."""
    PRESERVING = {
        "ProjectExec",
        "SortExec",
        "ShuffleExchangeExec",
        "WholeStageCodegenExec",
        "InputAdapter",
        "CoalesceExec",
        "AQEShuffleReadExec",
        "WindowExec",  # window output == window input
        "WindowGroupLimitExec",  # only REDUCES rows; bound stays valid
    }
    cur = node.children().apply(0) if node.children().length() else None
    while cur is not None:
        cls = cur.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            cur = cur.executedPlan()
            continue
        if "QueryStageExec" in cls:
            cur = cur.plan()
            continue
        if cls == "ReusedExchangeExec":
            cur = cur.child()
            continue
        try:
            m = cur.metrics()
            if m.contains("numOutputRows"):
                return int(m.apply("numOutputRows").value())
        except Exception:  # pragma: no cover - metrics access safety
            pass
        if cls == "TakeOrderedAndProjectExec":
            lim = int(cur.limit())
            down = _window_input_rows(cur)
            return lim if down is None else min(lim, down)
        if cls in PRESERVING and cur.children().length() == 1:
            cur = cur.children().apply(0)
            continue
        return None
    return None


def _collect_nodes(node, out):
    cls = node.getClass().getSimpleName()
    out.append(node)
    if cls == "AdaptiveSparkPlanExec":
        _collect_nodes(node.executedPlan(), out)
        return out
    if "QueryStageExec" in cls:
        _collect_nodes(node.plan(), out)
        return out
    for ch in _jseq(node.children()):
        _collect_nodes(ch, out)
    return out


def measure_unpartitioned_windows(df) -> list[int | None]:
    """Execute ``df`` and return the measured input-row count of every
    unpartitioned WindowExec in the final plan. Executes via collect()
    — a noop write would run a SEPARATE QueryExecution and leave this
    plan's metrics at zero; the allowlisted queries all have bounded
    output (that is the point), so the collect is small."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    sizes: list[int | None] = []
    for node in _collect_nodes(plan, []):
        if node.getClass().getSimpleName() in ("WindowExec", "WindowGroupLimitExec"):
            try:
                unpart = node.partitionSpec().isEmpty()
            except Exception:  # WindowGroupLimit in some versions
                unpart = False
            if unpart:
                sizes.append(_window_input_rows(node))
    return sizes


# -- sorted-neighborhood density guards (round-6 advice item 1) -------------


def density_guard_rows(spark, sf_dir: str) -> list[tuple[str, int, int]]:
    """Measured density vs the two sorted-neighborhood caps: returns
    (guard, measured, window) rows; measured > window means the cap
    could silently drop qualifying pairs at this SF, and the audit
    fails loudly instead (round-6 advice: the windows were only ever
    measured at sf0.01/sf0.1, and the oracle moves in lockstep, so
    nothing else would flag the recall cliff)."""
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.plans.curation import (
        EMB_RANK_WINDOW,
    )
    from atlassian_confluence_data_pipeline_spark.plans.textops import (
        NEAR_DUP_RANK_WINDOW,
    )

    docs = load_table(spark, sf_dir, "documents")
    # densest same-lang ±10-char neighborhood: counts per (lang,
    # n_chars) — a tiny domain — then a bounded ±10 self-join on it.
    # A qualifying near_dup pair outside the rank window REQUIRES its
    # doc's neighborhood to exceed the window, so neighborhood <= W
    # proves the cap lossless at this SF.
    cnt = docs.groupBy("lang", "n_chars").count()
    nb = (
        cnt.alias("a")
        .join(
            cnt.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= F.lit(10)
            ),
        )
        .groupBy("a.lang", "a.n_chars")
        .agg(F.sum("b.count").alias("nbhd"))
        .agg(F.max("nbhd").alias("m"))
        .first()["m"]
    )
    emb = load_table(spark, sf_dir, "embeddings")
    blk = (
        emb.groupBy("label")
        .count()
        .agg(F.max("count").alias("m"))
        .first()["m"]
    )
    return [
        ("near_dup ±10-char lang neighborhood", int(nb or 0), NEAR_DUP_RANK_WINDOW),
        ("embedding label block", int(blk or 0), EMB_RANK_WINDOW),
    ]

UNPARTITIONED_WINDOW_RE = None  # compiled lazily below


def _has_unpartitioned_window(phys: str) -> bool:
    """True if the physical plan contains a windowspecdefinition with NO
    partition columns (its first argument is an ORDER clause — bare
    attribute followed by ASC/DESC NULLS)."""
    global UNPARTITIONED_WINDOW_RE
    import re

    if UNPARTITIONED_WINDOW_RE is None:
        UNPARTITIONED_WINDOW_RE = re.compile(
            r"windowspecdefinition\([^,()]+ (?:ASC|DESC) NULLS"
        )
    return bool(UNPARTITIONED_WINDOW_RE.search(phys))


#: item 5a — longest tolerated optimized-plan line. The sanctioned
#: 4096-bit Bloom bitmap literals produce ~60k-char lines; anything
#: past 2x that means an unbounded collect was inlined into the plan.
MAX_PLAN_LINE = 120_000

#: item 5c — DISTINCT `Scan ExistingRDD` (localCheckpoint) frames
#: tolerated in one physical plan. The heaviest legitimate chains
#: (shared LSH stages + graph contraction) sit well below this.
CHECKPOINT_SCAN_BOUND = 12

_CKPT_RE = None


def _distinct_checkpoints(phys: str) -> int:
    global _CKPT_RE
    import re

    if _CKPT_RE is None:
        _CKPT_RE = re.compile(r"Scan ExistingRDD\[[^\]]*\]")
    # self-join re-references of ONE checkpoint get fresh attribute ids;
    # strip the #id suffixes so those dedupe to the frame's column shape
    return len({re.sub(r"#\d+", "", m) for m in _CKPT_RE.findall(phys)})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()
    from atlassian_confluence_data_pipeline_spark import iterstats

    spark = get_session("plan-audit", cpus=8)
    flagged: list[str] = []
    print(
        "| query | cartesian | BNLJ | py-udf | aggregate( count |"
        " 1p-window | maxline | iters | ckpts |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for name in sorted(QUERIES):
        iterstats.reset()
        try:
            df = QUERIES[name].fn(spark, args.sf)
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            phys = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - audit robustness
            flagged.append(f"{name}: plan build failed: {e}")
            print(f"| {name} | ERROR | | | | | | | |")
            continue
        cartesian = "CartesianProduct" in phys or "Cross" in opt.split("\n")[0]
        bnlj = "BroadcastNestedLoopJoin" in phys
        pyudf = "BatchEvalPython" in phys
        folds = opt.count("aggregate(")
        gwin = _has_unpartitioned_window(phys)
        maxline = max((len(ln) for ln in opt.splitlines()), default=0)
        iters = iterstats.snapshot()
        worst_iter = max(iters.values(), default=0)
        ckpts = _distinct_checkpoints(phys)
        row_flags = []
        if cartesian:
            row_flags.append("cartesian product")
        if bnlj and name not in INTENTIONAL_BNLJ:
            row_flags.append("unexpected BNLJ")
        if pyudf:
            row_flags.append("row-at-a-time Python UDF")
        if folds > FOLD_THRESHOLD and name not in MANY_FOLD_OK:
            row_flags.append(f"{folds} aggregate-folds (CSE trap?)")
        if gwin and name not in BOUNDED_GLOBAL_WINDOW_OK:
            row_flags.append(
                "unpartitioned WindowExec over an unbounded domain"
                " (use distributed_prefix_rank, or allowlist with the"
                " bound if the domain is constant)"
            )
        if maxline > MAX_PLAN_LINE:
            row_flags.append(
                f"{maxline}-char plan line (inlined literal past the"
                f" {MAX_PLAN_LINE} gate — collect-and-inline of"
                " unbounded data?)"
            )
        if worst_iter > iterstats.ITERATION_BOUND:
            worst_op = max(iters, key=iters.get)
            row_flags.append(
                f"driver loop {worst_op} ran {worst_iter} rounds"
                f" (> {iterstats.ITERATION_BOUND})"
            )
        if ckpts > CHECKPOINT_SCAN_BOUND:
            row_flags.append(
                f"{ckpts} distinct checkpointed frames in one plan"
                f" (> {CHECKPOINT_SCAN_BOUND})"
            )
        for fl in row_flags:
            flagged.append(f"{name}: {fl}")
        print(
            f"| {name} | {'X' if cartesian else ''} |"
            f" {'X' if bnlj else ''} | {'X' if pyudf else ''} | {folds} |"
            f" {'X' if gwin else ''} | {maxline // 1000}k |"
            f" {worst_iter or ''} | {ckpts or ''} |"
        )
    print()
    # measured allowlist bounds: execute each allowlisted query and read
    # the actual rows entering its unpartitioned windows (round-6 item 4)
    print("| allowlisted query | measured window rows | bound |")
    print("|---|---|---|")
    for name, (bound, _why) in sorted(BOUNDED_GLOBAL_WINDOW_OK.items()):
        try:
            sizes = measure_unpartitioned_windows(
                QUERIES[name].fn(spark, args.sf)
            )
        except Exception as e:  # pragma: no cover - audit robustness
            flagged.append(f"{name}: window measurement failed: {e}")
            print(f"| {name} | ERROR | {bound} |")
            continue
        if not sizes:
            # plan shape changed and the global window disappeared —
            # fine (e.g. optimized away at this SF), nothing to gate
            print(f"| {name} | (none in plan) | {bound} |")
            continue
        disp = ", ".join("?" if s is None else str(s) for s in sizes)
        print(f"| {name} | {disp} | {bound} |")
        for s in sizes:
            if s is None:
                flagged.append(
                    f"{name}: unpartitioned window input UNMEASURABLE"
                    " (metric chain broken) — verify the bound manually"
                )
            elif s > bound:
                flagged.append(
                    f"{name}: {s} rows entered an unpartitioned window"
                    f" (> stated bound {bound}) — the 'bounded domain'"
                    " argument no longer holds at this SF"
                )
    print()
    # sorted-neighborhood density guards (round-6 advice item 1)
    print("| density guard | measured | window |")
    print("|---|---|---|")
    for guard, measured, window in density_guard_rows(spark, args.sf):
        print(f"| {guard} | {measured} | {window} |")
        if measured > window:
            flagged.append(
                f"density guard: {guard} = {measured} exceeds the"
                f" sorted-neighborhood window {window} — the capped"
                " exact-pair baselines may now drop qualifying pairs;"
                " widen the window or re-derive the declared bound"
            )
    print()
    if flagged:
        print("FLAGGED:")
        for f in flagged:
            print(" -", f)
        return 1
    print(f"OK: {len(QUERIES)} queries, nothing flagged.")
    return 0


if __name__ == "__main__":
    sys.exit(main())
