#!/usr/bin/env python
"""Physical-plan shape snapshot + regression diff.

    python tools/plan_snapshot.py --write        # regenerate PLAN_SNAPSHOT.json
    python tools/plan_snapshot.py --check        # diff current plans vs snapshot
    python tools/plan_snapshot.py --check-warm   # session-memo zero-rebuild gate

For every registered query, count the plan nodes that define its scale
posture (exchanges, join strategies, window forms, aggregates, Python
eval nodes, parquet scans). ``--check`` exits 1 when any query's shape
changed — a conf bump, Spark upgrade, or refactor that silently flips a
BroadcastHashJoin into a SortMergeJoin (or sneaks in a
BroadcastNestedLoopJoin) fails the gate instead of shipping. Shape
changes made ON PURPOSE are recorded by re-running ``--write`` and
committing the new snapshot — the diff then documents itself in the
PR.

``--check-warm`` gates the session memo's one contract (plans/_cache.py
holds every memoized build: shared stages, model rows, the BPE fit, the
covariance matrix, scan split counts): with the memo populated by a
first full plan-construction pass, a second pass over every query must
run ZERO builders — any builder re-run means a consumer bypassed the
memo (a keying bug, or a consumer calling a memoized builder directly).

The snapshot complements tools/plan_audit.py: the audit flags known
anti-patterns anywhere; the snapshot freezes the EXACT current shape,
catching regressions the audit's allow-lists would tolerate.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SNAPSHOT = REPO / "PLAN_SNAPSHOT.json"

#: node-name substrings that define a plan's scale posture
MARKERS = {
    "exchanges": "Exchange",
    "broadcast_hash_joins": "BroadcastHashJoin",
    "sort_merge_joins": "SortMergeJoin",
    "shuffled_hash_joins": "ShuffledHashJoin",
    "bnl_joins": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "hash_aggregates": "HashAggregate",
    "object_hash_aggregates": "ObjectHashAggregate",
    "sort_aggregates": "SortAggregate",
    "windows": "Window ",
    "window_group_limits": "WindowGroupLimit",
    "take_ordered": "TakeOrderedAndProject",
    "global_sorts": "Sort ",
    "python_row_eval": "BatchEvalPython",
    "arrow_eval": "ArrowEvalPython",
    "pandas_grouped_map": "FlatMapGroupsInPandas",
    "map_in_pandas": "MapInPandas",
    "parquet_scans": "Scan parquet",
}


def shape_of(phys: str) -> dict[str, int]:
    return {
        key: phys.count(marker)
        for key, marker in MARKERS.items()
        if phys.count(marker)
    }


def collect(sf: str) -> dict[str, dict[str, int]]:
    from atlassian_confluence_data_pipeline_spark.plans import QUERIES
    from atlassian_confluence_data_pipeline_spark.session import get_session

    spark = get_session("plan-snapshot", cpus=8)
    shapes: dict[str, dict[str, int]] = {}
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name].fn(spark, sf)
            phys = df._jdf.queryExecution().executedPlan().toString()
            shapes[name] = shape_of(phys)
        except Exception as e:  # pragma: no cover - robustness
            shapes[name] = {"ERROR": 1, "msg": str(e)[:120]}  # type: ignore[dict-item]
    return shapes


def collect_warm(sf: str) -> tuple[dict[str, dict[str, int]], list[str]]:
    """Two passes in ONE session over the package's one session memo
    (``plans/_cache.shared_pair_table``). Pass 1 populates the memo and
    records every builder it ran. Pass 2 runs with the memo entry point
    spied and every module-level builder from pass 1 wrapped: a builder
    run through the memo (reported by memo name) is a keying bug, and a
    direct call of a pass-1 builder (reported as ``module.function``)
    is a consumer computing a memoized value without the memo."""
    import atlassian_confluence_data_pipeline_spark.plans._cache as _c

    real = _c.shared_pair_table
    builders: set = set()

    def recording(spark, sf_dir, name, builder):
        builders.add(builder)
        return real(spark, sf_dir, name, builder)

    _c.shared_pair_table = recording
    try:
        collect(sf)  # pass 1: populate the session memo
    finally:
        _c.shared_pair_table = real

    rebuilt: list[str] = []

    def spying(spark, sf_dir, name, builder):
        def spy_builder(s, d):
            rebuilt.append(name)
            return builder(s, d)

        return real(spark, sf_dir, name, spy_builder)

    def flagging(fn):
        label = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__qualname__}"

        def wrapper(*args, **kwargs):
            rebuilt.append(label)
            return fn(*args, **kwargs)

        return wrapper

    # closures (``<locals>`` qualnames) are reachable only through the
    # accessor that hands them to the memo, so the memo spy covers them
    wrapped = []
    for fn in builders:
        module = sys.modules.get(getattr(fn, "__module__", ""))
        if module is not None and getattr(module, fn.__qualname__, None) is fn:
            wrapped.append((module, fn))
            setattr(module, fn.__qualname__, flagging(fn))
    _c.shared_pair_table = spying
    try:
        shapes = collect(sf)
    finally:
        _c.shared_pair_table = real
        for module, fn in wrapped:
            setattr(module, fn.__qualname__, fn)
    return shapes, sorted(set(rebuilt))


def main() -> int:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--write", action="store_true")
    mode.add_argument("--check", action="store_true")
    mode.add_argument("--check-warm", action="store_true")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    if args.check_warm:
        _shapes, rebuilt = collect_warm(args.sf)
        if rebuilt:
            print(f"MEMO BYPASS ({len(rebuilt)} stages re-ran their "
                  "builders against a populated session memo):")
            for n in rebuilt:
                print(" -", n)
            return 1
        print("OK: zero builder re-runs against the populated session memo.")
        return 0

    shapes = collect(args.sf)

    snap = SNAPSHOT
    if args.write:
        snap.write_text(json.dumps(shapes, indent=1, sort_keys=True) + "\n")
        print(f"wrote {snap.name}: {len(shapes)} query shapes")
        return 0

    if not snap.exists():
        print(f"{snap.name} missing - run --write first")
        return 1
    want = json.loads(snap.read_text())
    drift: list[str] = []
    for name, shape in shapes.items():
        if name not in want:
            drift.append(f"{name}: NEW query (not in snapshot)")
        elif want[name] != shape:
            drift.append(f"{name}: {want[name]} -> {shape}")
    for name in want:
        if name not in shapes:
            drift.append(f"{name}: REMOVED from registry")
    if drift:
        print(f"PLAN DRIFT ({len(drift)} queries):")
        for d in drift:
            print(" -", d)
        print("\nIf intentional: rerun with --write and commit the diff.")
        return 1
    print(f"OK: {len(shapes)} query plan shapes match the snapshot.")
    return 0


if __name__ == "__main__":
    sys.exit(main())
