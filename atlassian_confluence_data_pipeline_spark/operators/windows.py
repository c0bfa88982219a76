"""Window / ranking / top-k operators (SURVEY.md §2.5).

The reference never orders rows (API order taken as-is; its only analog
is the results[0] first-match pick, confluence_client.py:272-273); the
engine exposes the standard analytic surface.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def distributed_prefix_rank(
    df: DataFrame,
    order_by: Sequence[str],
    sums: Mapping[str, str] | None = None,
    rank_col: str | None = None,
    exclusive_maxes: Mapping[str, str] | None = None,
    num_ranges: int = 32,
    bucket_col: str = "__range_bucket",
    bounds: Sequence[float] | None = None,
    plan_probe: dict | None = None,
) -> DataFrame:
    """Distributed global prefix sum / rank — the two-pass replacement
    for an unpartitioned ``Window.orderBy(...)`` (whose WindowExec
    funnels the ENTIRE domain through one task):

    1. bucket every row by range of the leading (numeric, non-null)
       order key — boundaries from ``approxQuantile`` so buckets are
       balanced; the bucket function is monotone and value-deterministic
       (equal keys share a bucket, so global order == (bucket, order_by)
       order);
    2. run the cumulative window PARTITIONED by bucket — Spark's normal
       hash-partitioned WindowExec, every task sees ~1/num_ranges of the
       domain;
    3. reduce each bucket to its total (one tiny hash aggregate,
       <= num_ranges rows — the boundary exchange), turn the exclusive
       prefix of those totals into literal per-bucket offsets, and add
       them back as a narrow projection (a literal map lookup — no join,
       no extra shuffle).

    Adds, per ``sums`` entry ``out_name -> src_col``, the INCLUSIVE
    global prefix sum of ``src_col`` in ``order_by`` order; with
    ``rank_col``, the 1-based global row number (``order_by`` must then
    be a total order for determinism); per ``exclusive_maxes`` entry,
    the EXCLUSIVE global prefix max (max of src over rows STRICTLY
    before this one — null on the global first row), the running-max
    shape a distributed skyline needs. Loop-control data collected to
    the driver is <= num_ranges rows + num_ranges-1 quantile boundaries —
    bounded by configuration, never by data. Null leading keys are not
    supported (approxQuantile ignores them; callers' domains are
    aggregate outputs with non-null keys).

    Eager (runs the quantile sample + totals jobs when called), like the
    reference pipeline's loop-control aggregates (master_script.py:294-300
    reads its counters mid-run the same way)."""
    sums = dict(sums or {})
    exclusive_maxes = dict(exclusive_maxes or {})
    if not sums and not exclusive_maxes and rank_col is None:
        return df
    first = order_by[0]
    n_bounds = max(1, num_ranges) - 1
    if bounds is not None:
        # caller-supplied split points (e.g. equal-width from already-
        # known min/max) — skips the approxQuantile sampling job
        bounds = [float(b) for b in bounds]
    else:
        bounds = (
            df.stat.approxQuantile(
                first, [i / num_ranges for i in range(1, num_ranges)], 0.001
            )
            if n_bounds > 0
            else []
        )
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        bucket = F.size(
            F.filter(barr, lambda b: b < F.col(first).cast("double"))
        )
    else:
        bucket = F.lit(0)
    b = df.withColumn(bucket_col, bucket)

    wl = (
        Window.partitionBy(bucket_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_cols = {out: F.sum(src).over(wl) for out, src in sums.items()}
    wx = (
        Window.partitionBy(bucket_col)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    for out, src in exclusive_maxes.items():
        local_cols[out] = F.max(src).over(wx)
    if rank_col is not None:
        local_cols[rank_col] = F.row_number().over(
            Window.partitionBy(bucket_col).orderBy(*order_by)
        )
    for out, col in local_cols.items():
        b = b.withColumn(out, col)
    if plan_probe is not None:
        # plan-shape tests pin the incremental window frame here — the
        # checkpoint below hides it from the caller's physical plan
        plan_probe["windowed"] = b
    # Materialize the bucketed/windowed frame ONCE: the totals job below
    # and the caller's final action both read these rows, and without a
    # checkpoint the per-bucket window pass would run twice (and
    # correctness would silently depend on the input plan being
    # deterministic between the two jobs).
    b = b.localCheckpoint(eager=True)

    totals = (
        b.groupBy(bucket_col)
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            *[F.sum(src).alias(f"__t_{out}") for out, src in sums.items()],
            *[
                F.max(src).alias(f"__m_{out}")
                for out, src in exclusive_maxes.items()
            ],
        )
        .collect()
    )
    offsets: dict[str, dict[int, int | float]] = {
        out: {} for out in sums
    }
    max_off: dict[str, dict[int, int | float]] = {
        out: {} for out in exclusive_maxes
    }
    rank_off: dict[int, int] = {}
    run = {out: 0 for out in sums}
    run_max: dict[str, int | float | None] = {
        out: None for out in exclusive_maxes
    }
    run_cnt = 0
    for row in sorted(totals, key=lambda r: r[bucket_col]):
        for out in sums:
            offsets[out][row[bucket_col]] = run[out]
            run[out] += row[f"__t_{out}"] or 0
        for out in exclusive_maxes:
            if run_max[out] is not None:
                max_off[out][row[bucket_col]] = run_max[out]
            m = row[f"__m_{out}"]
            if m is not None and (run_max[out] is None or m > run_max[out]):
                run_max[out] = m
        rank_off[row[bucket_col]] = run_cnt
        run_cnt += row["__cnt"]

    def _vlit(v, dt: str | None) -> Column:
        # Decimal literals carry per-value precision; unify to the
        # windowed column's OWN decimal type so the map's value type is
        # consistent AND no scale digits are lost (a fixed (38,6) here
        # once truncated a caller's 12-scale log-space terms)
        import decimal

        if isinstance(v, decimal.Decimal):
            return F.lit(str(v)).cast(dt or "decimal(38,6)")
        return F.lit(v)

    def _lookup(
        m: dict[int, int | float],
        dt: str | None,
        default_zero: bool = True,
    ) -> Column:
        if not m or (default_zero and all(v == 0 for v in m.values())):
            return F.lit(0) if default_zero else F.lit(None)
        lmap = F.create_map(
            *[x for k, v in m.items() for x in (F.lit(k), _vlit(v, dt))]
        )
        hit = lmap[F.col(bucket_col)]
        return F.coalesce(hit, F.lit(0)) if default_zero else hit

    def _dtype(out: str) -> str:
        import pyspark.sql.types as T

        dt = b.schema[out].dataType
        return dt.simpleString() if isinstance(dt, T.DecimalType) else None

    out_cols = [
        (F.col(out) + _lookup(offsets[out], _dtype(out))).alias(out)
        for out in sums
    ]
    for out in exclusive_maxes:
        # greatest() ignores nulls (returns null only when BOTH the
        # bucket-local exclusive max and the prior-bucket offset are
        # null, i.e. the global first rows) — exactly exclusive-max
        # semantics across the bucket boundary
        out_cols.append(
            F.greatest(
                F.col(out),
                _lookup(max_off[out], _dtype(out), default_zero=False),
            ).alias(out)
        )
    if rank_col is not None:
        out_cols.append(
            (F.col(rank_col) + _lookup(rank_off, None)).alias(rank_col)
        )
    keep = [c for c in b.columns if c != bucket_col and c not in local_cols]
    return b.select(*keep, *out_cols)


def grouped_distributed_rank(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[str],
    rank_col: str,
    num_ranges: int = 32,
    bucket_col: str = "__range_bucket",
) -> DataFrame:
    """Per-group global row number WITHOUT a per-group single-reducer
    window — the grouped sibling of ``distributed_prefix_rank`` for
    low-cardinality group keys (lang, label: the sorted-neighborhood
    blocking domains), where ``Window.partitionBy(group)`` would funnel
    each whole group through one task at corpus scale:

    1. range-bucket every row by GLOBAL quantiles of the leading
       (numeric, non-null) order key — the bucket function is monotone
       and value-deterministic, so within every group
       (bucket, order_by) order == order_by order;
    2. row_number PARTITIONED by (group, bucket) — each task sees
       ~1/num_ranges of a group;
    3. reduce to per-(group, bucket) counts (a tiny aggregate,
       |groups| x num_ranges rows), turn them into exclusive prefix
       offsets with a window over that tiny frame, and broadcast-join
       the offsets back.

    Nothing is collected to the driver; the broadcast side is bounded
    by group-cardinality x num_ranges. ``order_by`` must be a total
    order (add a unique tie-breaker) and the leading key non-null.
    The input is localCheckpoint-ed (the counts job and the caller's
    action both read the bucketed rows), so callers can fan both sides
    of a self-join off the returned frame for free."""
    first = order_by[0]
    n_bounds = max(1, num_ranges) - 1
    bounds = (
        df.stat.approxQuantile(
            first, [i / num_ranges for i in range(1, num_ranges)], 0.001
        )
        if n_bounds > 0
        else []
    )
    if bounds:
        barr = F.array(*[F.lit(float(x)) for x in bounds])
        bucket = F.size(
            F.filter(barr, lambda v: v < F.col(first).cast("double"))
        )
    else:
        bucket = F.lit(0)
    b = df.withColumn(bucket_col, bucket).withColumn(
        "__rn_local",
        F.row_number().over(
            Window.partitionBy(*group_cols, bucket_col).orderBy(*order_by)
        ),
    ).localCheckpoint(eager=True)
    counts = b.groupBy(*group_cols, bucket_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *group_cols,
        bucket_col,
        F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias("__off"),
    )
    joined = b.join(F.broadcast(offsets), [*group_cols, bucket_col])
    return joined.select(
        *df.columns,
        (F.col("__rn_local") + F.col("__off")).cast("bigint").alias(rank_col),
    )


def distributed_modular_chain(
    df: DataFrame,
    order_by: Sequence[str],
    h_col: str,
    out_col: str,
    mult: int,
    mod: int,
    num_ranges: int = 32,
    bucket_col: str = "__range_bucket",
) -> DataFrame:
    """Distributed LINEAR RECURRENCE ``y_i = (mult * y_{i-1} + h_i) % mod``
    over the global ``order_by`` order (y_0 = 0) — the sequential
    hash-chain / ledger-commitment computation that looks unparallelizable
    but is an associative AFFINE SCAN:

    1. range-bucket by the leading order key (same discipline as
       distributed_prefix_rank);
    2. ONE grouped ``applyInPandas`` pass per bucket computes the local
       chain from a zero seed plus ``mult^rank % mod`` per row — affine
       maps compose, so a bucket's effect on any incoming carry ``c`` is
       ``y_i = (local_y_i + c * mult^rank_i) % mod``;
    3. the <= num_ranges (multiplier, offset) bucket compositions come
       back as loop-control scalars; the driver folds them into
       per-bucket incoming carries; a narrow literal-map projection
       applies them — exact integer arithmetic end-to-end, so the result
       is BIT-IDENTICAL to the sequential recurrence (DuckDB's recursive
       CTE verifies it).

    Requires ``mult, h < 2^31`` and ``mod <= 2^31`` so every product
    stays inside int64 (the engine's LSH overflow discipline). Bucket
    passes are O(rows); at 100 TB each bucket's scan is one Arrow
    batch stream, and only 2 scalars per bucket ever leave the
    executors."""
    import pandas as _pd  # noqa: F401 - grouped-map batches arrive as pandas

    first = order_by[0]
    n_bounds = max(1, num_ranges) - 1
    bounds = (
        df.stat.approxQuantile(
            first, [i / num_ranges for i in range(1, num_ranges)], 0.001
        )
        if n_bounds > 0
        else []
    )
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        bucket = F.size(
            F.filter(barr, lambda b: b < F.col(first).cast("double"))
        )
    else:
        bucket = F.lit(0)
    b = df.withColumn(bucket_col, bucket)

    order_cols = list(order_by)
    in_schema = b.schema
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in in_schema.fields
    )
    schema = f"{out_fields}, __local bigint, __pow bigint"

    def _scan(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(
            drop=True
        )
        y = 0
        p = 1
        locs, pows = [], []
        for h in pdf[h_col]:
            y = (mult * y + int(h) % mod) % mod
            p = (p * mult) % mod
            locs.append(y)
            pows.append(p)
        pdf["__local"] = locs
        pdf["__pow"] = pows
        return pdf

    # materialize the grouped scan once — the totals job and the caller's
    # final action both read it (same discipline as distributed_prefix_rank)
    scanned = b.groupBy(bucket_col).applyInPandas(
        _scan, schema=schema
    ).localCheckpoint(eager=True)
    totals = (
        scanned.groupBy(bucket_col)
        .agg(
            F.max_by("__local", F.struct(*order_cols)).alias("__B"),
            F.max_by("__pow", F.struct(*order_cols)).alias("__P"),
        )
        .collect()
    )
    carries: dict[int, int] = {}
    c = 0
    for row in sorted(totals, key=lambda r: r[bucket_col]):
        carries[row[bucket_col]] = c
        c = (row["__P"] * c + row["__B"]) % mod
    if any(v != 0 for v in carries.values()):
        cmap = F.create_map(
            *[x for k, v in carries.items() for x in (F.lit(k), F.lit(v))]
        )
        carry = F.coalesce(cmap[F.col(bucket_col)], F.lit(0))
    else:
        carry = F.lit(0)
    keep = [c2 for c2 in df.columns]
    return scanned.select(
        *keep,
        ((F.col("__local") + carry * F.col("__pow")) % mod).alias(out_col),
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k within each group via row_number (deterministic with a
    tie-broken ordering). Engine form of the reference's first-match pick
    (W1) generalized to k > 1."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def equal_width_bucketizer(lo: float, hi: float, n: int, transform=None):
    """O(1) monotone bucketizer for :func:`kth_smallest`'s
    ``bucket_of``: clamped ``floor((t(v) - lo) / width)`` over ``n``
    equal-width ranges, where ``t`` is an optional MONOTONE transform
    (e.g. ``F.asinh`` to spread heavy-centered values) and ``lo``/``hi``
    bound the TRANSFORMED domain. Degenerate ``hi <= lo`` collapses to
    one bucket — still monotone, still correct."""
    span = float(hi) - float(lo)

    def _bucket(c: Column) -> Column:
        if span <= 0:
            return F.lit(0)
        v = c.cast("double")
        if transform is not None:
            v = transform(v)
        raw = F.floor((v - F.lit(float(lo))) / F.lit(span / n)).cast("int")
        return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1))

    return _bucket


def kth_smallest(
    df: DataFrame,
    value_col: str,
    ks: Sequence[int],
    num_ranges: int = 32,
    bounds: Sequence[float] | None = None,
    bucket_of=None,
    extra_sums: Mapping[str, str] | None = None,
    refine_rows: int | None = None,
) -> dict[int, float] | tuple[dict[int, float], dict[str, object]]:
    """Exact kth-smallest VALUES (1-based ranks ``ks``) of a numeric
    column — distributed selection without ranking the whole frame:

    1. range-bucket by approxQuantile bounds (balanced buckets, the
       distributed_prefix_rank discipline);
    2. ONE count-per-bucket aggregate (<= num_ranges rows to the
       driver) turns each k into (target bucket, local rank);
    3. ONLY the buckets that contain a requested rank are sorted —
       a per-bucket PARTITIONED window over ~n/num_ranges rows each —
       and the hit rows come back.

    The kth smallest VALUE is well-defined under ties regardless of
    tie order, so no tiebreak column is needed. Selection work is
    O(n) scan + O(|hit buckets| * n/num_ranges log(...)) sort, vs the
    full-frame window a rank-then-filter pays. Returns {k: value}.
    Driver traffic is bucket counts + |ks| rows — loop-control scale.

    ``bounds``: caller-supplied split points (e.g. equal-width from an
    already-known min/max, the distributed_prefix_rank option) — skips
    the approxQuantile sampling pass, one whole scan of ``df``. Bucket
    balance only affects the size of the sorted hit bucket, never the
    selected values.

    ``bucket_of``: caller-supplied MONOTONE bucketizer (Column ->
    integer Column, non-decreasing in the value, null-free on the
    non-null domain) — replaces both the sampling pass and the
    per-row O(num_ranges) split-point array scan with O(1) arithmetic
    (e.g. clamped ``floor((v - lo) / width)``, or the same on an
    ``asinh`` transform for heavy-centered values). Monotonicity is
    the only correctness requirement: equal values share a bucket and
    global order == (bucket, value) order, exactly as with bounds.

    ``extra_sums``: ``out_name -> src_col`` global sums the caller
    needs ANYWAY over the same frame (e.g. the Mann-Kendall sign sum
    next to the Theil-Sen median) — piggybacked onto the one
    count-per-bucket aggregate, so they cost zero extra passes; the
    per-bucket partials are summed exactly on the driver (bounded by
    num_ranges rows). NOTE: extra sums count NULL-``value_col`` rows
    only if the caller's source column is null there too — this
    operator filters to the non-null value domain first, which is the
    correct frame for its callers (pair frames with no nulls). When
    given, the return value becomes ``({k: value}, {out_name: sum})``.
    """
    ks = sorted(set(int(k) for k in ks))
    if not ks:
        return {}
    # Ranks are defined over the NON-NULL domain: a NULL value would land
    # in bucket 0 (the filter predicate is null -> size 0) and sort first
    # there, silently shifting every requested rank. approxQuantile already
    # ignores NULLs, so the counts must too.
    df = df.filter(F.col(value_col).isNotNull())
    n_bounds = max(1, num_ranges) - 1
    if bucket_of is not None:
        bucket = bucket_of(F.col(value_col))
    else:
        if bounds is not None:
            bounds = [float(b) for b in bounds]
        else:
            bounds = (
                df.stat.approxQuantile(
                    value_col,
                    [i / num_ranges for i in range(1, num_ranges)],
                    0.001,
                )
                if n_bounds > 0
                else []
            )
        if bounds:
            barr = F.array(*[F.lit(float(b)) for b in bounds])
            bucket = F.size(
                F.filter(barr, lambda b: b < F.col(value_col).cast("double"))
            )
        else:
            bucket = F.lit(0)
    extra_sums = dict(extra_sums or {})
    b = df.select(
        F.col(value_col), *extra_sums.values(), bucket.alias("__kb")
    )
    count_rows = (
        b.groupBy("__kb")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(value_col).alias("__bmn"),
            F.max(value_col).alias("__bmx"),
            *[
                F.sum(src).alias(f"__x_{out}")
                for out, src in extra_sums.items()
            ],
        )
        .collect()
    )
    counts = {r["__kb"]: r["c"] for r in count_rows}
    bmn = {r["__kb"]: r["__bmn"] for r in count_rows}
    bmx = {r["__kb"]: r["__bmx"] for r in count_rows}
    extras: dict[str, object] = {}
    for out in extra_sums:
        vals = [
            r[f"__x_{out}"] for r in count_rows if r[f"__x_{out}"] is not None
        ]
        # integer partials sum exactly in any order; all-null -> null,
        # matching SQL sum() over an empty/all-null frame
        extras[out] = sum(vals) if vals else None
    total = sum(counts.values())
    targets: dict[int, tuple[int, int]] = {}
    for k in ks:
        if not 1 <= k <= total:
            raise ValueError(f"rank {k} outside 1..{total}")
        run = 0
        for bk in sorted(counts):
            if k <= run + counts[bk]:
                targets[k] = (bk, k - run)
                break
            run += counts[bk]
    sel: dict[int, float] = {}
    # SKEW GUARD (iterative refinement): a value distribution far from
    # the bucketizer's assumption (e.g. pair slopes massed near 0 under
    # equal-width buckets) can land a requested rank in a bucket holding
    # a large share of the frame — and the per-bucket sort below is ONE
    # task per bucket. Loop: resolve constant buckets directly (every
    # row equals the bucket min — no sort needed), then re-bucket the
    # oversized TARGET buckets by equal width over their OWN (min, max)
    # until every remaining hit bucket is sort-task-sized. Each round is
    # one narrow count/min/max aggregate over the frame FILTERED to the
    # surviving target buckets (shrinking ~num_ranges-fold per round),
    # so even a pathologically centered distribution converges in a few
    # cheap passes instead of one giant single-task sort.
    if refine_rows is None:
        refine_rows = max(100_000, 4 * (total // max(1, num_ranges)))
    frame = b.select(F.col(value_col), F.col("__kb").alias("__sk"))
    cur_counts = {bk: counts[bk] for bk in counts}
    cur_mn = dict(bmn)
    cur_mx = dict(bmx)
    targets = {k: (bk, lr) for k, (bk, lr) in targets.items()}
    for _round in range(8):
        for k, (bk, _lr) in list(targets.items()):
            if cur_mn[bk] == cur_mx[bk]:
                sel[k] = cur_mn[bk]
                del targets[k]
        if not targets:
            break
        # A bucket is only refinable when its per-sub-bucket width is a
        # POSITIVE double: exact min != max can still yield width 0.0
        # (float underflow of mx - mn, or bigints beyond 2^53 collapsing
        # to equal doubles), and a 0-width re-bucket would divide by
        # zero -> null sub-keys -> rows vanishing from the rank
        # re-search. Non-refinable oversized buckets fall through to the
        # direct per-bucket sort below (round-12, r11 ADVICE).
        over = sorted(
            {
                bk
                for bk, _ in targets.values()
                if cur_counts[bk] > refine_rows
                and (float(cur_mx[bk]) - float(cur_mn[bk])) / num_ranges > 0.0
            }
        )
        if not over:
            break
        kept = sorted(
            {bk for bk, _ in targets.values() if bk not in over}
        )
        kept_map = {old: i for i, old in enumerate(kept)}
        over_map = {old: len(kept) + j * num_ranges for j, old in enumerate(over)}
        mn_map = F.create_map(
            *[x for bk in over for x in (F.lit(bk), F.lit(float(cur_mn[bk])))]
        )
        wd_map = F.create_map(
            *[
                x
                for bk in over
                for x in (
                    F.lit(bk),
                    F.lit((float(cur_mx[bk]) - float(cur_mn[bk])) / num_ranges),
                )
            ]
        )
        base_map = F.create_map(
            *[x for bk in over for x in (F.lit(bk), F.lit(over_map[bk]))]
        )
        kept_expr = (
            F.create_map(
                *[x for bk in kept for x in (F.lit(bk), F.lit(kept_map[bk]))]
            )[F.col("__sk")]
            if kept
            else F.lit(None).cast("int")
        )
        sub_raw = F.floor(
            (F.col(value_col).cast("double") - mn_map[F.col("__sk")])
            / wd_map[F.col("__sk")]
        ).cast("int")
        sub = F.least(F.greatest(sub_raw, F.lit(0)), F.lit(num_ranges - 1))
        new_key = F.when(
            F.col("__sk").isin(*over), base_map[F.col("__sk")] + sub
        ).otherwise(kept_expr)
        frame = frame.filter(
            F.col("__sk").isin(*(over + kept))
        ).select(F.col(value_col), new_key.alias("__sk"))
        rows = (
            frame.groupBy("__sk")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min(value_col).alias("__bmn"),
                F.max(value_col).alias("__bmx"),
            )
            .collect()
        )
        cur_counts = {r["__sk"]: r["c"] for r in rows}
        cur_mn = {r["__sk"]: r["__bmn"] for r in rows}
        cur_mx = {r["__sk"]: r["__bmx"] for r in rows}
        new_targets: dict[int, tuple[int, int]] = {}
        for k, (bk, lr) in targets.items():
            if bk in kept_map:
                new_targets[k] = (kept_map[bk], lr)
                continue
            run = 0
            lo, hi = over_map[bk], over_map[bk] + num_ranges
            for sk in sorted(s for s in cur_counts if lo <= s < hi):
                if lr <= run + cur_counts[sk]:
                    new_targets[k] = (sk, lr - run)
                    break
                run += cur_counts[sk]
        targets = new_targets
    if targets:
        hit_buckets = {bk for bk, _ in targets.values()}
        w = Window.partitionBy("__sk").orderBy(value_col)
        locals_wanted = [
            (F.col("__sk") == bk) & (F.col("__lr") == lr)
            for bk, lr in targets.values()
        ]
        cond = locals_wanted[0]
        for c in locals_wanted[1:]:
            cond = cond | c
        hits = (
            frame.filter(F.col("__sk").isin(*hit_buckets))
            .withColumn("__lr", F.row_number().over(w))
            .filter(cond)
            .collect()
        )
        by_key = {(r["__sk"], r["__lr"]): r[value_col] for r in hits}
        sel.update({k: by_key[t] for k, t in targets.items()})
    if extra_sums:
        return sel, extras
    return sel
