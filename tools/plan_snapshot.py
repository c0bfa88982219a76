#!/usr/bin/env python
"""Physical-plan shape snapshot + regression diff.

    python tools/plan_snapshot.py --write        # regenerate PLAN_SNAPSHOT.json
    python tools/plan_snapshot.py --check        # diff current plans vs snapshot
    python tools/plan_snapshot.py --check-warm   # session-memo zero-rebuild gate

For every registered query, count the plan nodes that define its scale
posture (exchanges, join strategies, window forms, aggregates, Python
eval nodes, parquet scans) and the explicit broadcast hints in its
optimized plan (a forced ``F.broadcast`` the planner would pick anyway
moves no physical node). Hints inside an eagerly checkpointed stage are
not in the returned plan, so neither count sees them. ``--check``
exits 1 when any query's shape changed — a conf bump, Spark upgrade,
or refactor that silently flips a BroadcastHashJoin into a
SortMergeJoin (or sneaks in a BroadcastNestedLoopJoin) fails the gate
instead of shipping. Shape changes made ON PURPOSE are recorded by
re-running ``--write`` and committing the new snapshot — the diff then
documents itself in the PR.

``--check-warm`` gates the session memo's one contract (plans/_cache.py
holds every memoized build: shared stages, model rows, the BPE fit, the
covariance matrix, scan split counts): with the memo populated by a
first full plan-construction pass, a second pass over every query must
run ZERO builders — any builder re-run means a consumer bypassed the
memo (a keying bug, or a consumer calling a memoized builder directly).
It also fails when a memo name that ``--write`` recorded is no longer
reached by the first pass: an accessor that stopped calling the memo
altogether never hands it a builder, so only the recorded list can
name it.

The snapshot complements tools/plan_audit.py: the audit flags known
anti-patterns anywhere; the snapshot freezes the EXACT current shape,
catching regressions the audit's allow-lists would tolerate.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SNAPSHOT = REPO / "PLAN_SNAPSHOT.json"

#: snapshot key holding the sorted memo names a plan-construction pass
#: reaches (not a query name)
MEMO_KEY = "__memo_names__"

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


#: hint markers counted in the OPTIMIZED logical plan: adding or dropping
#: an explicit ``F.broadcast`` leaves the physical shape unchanged
#: whenever the planner picks the same join from size estimates
HINTS = {"broadcast_hints": "strategy=broadcast"}


def shape_of(phys: str, optimized: str) -> dict[str, int]:
    counts = {key: phys.count(marker) for key, marker in MARKERS.items()}
    counts.update({key: optimized.count(m) for key, m in HINTS.items()})
    return {key: n for key, n in counts.items() if n}


def collect(sf: str) -> dict[str, dict[str, int]]:
    from atlassian_confluence_data_pipeline_spark.plans import QUERIES
    from atlassian_confluence_data_pipeline_spark.session import get_session

    spark = get_session("plan-snapshot", cpus=8)
    shapes: dict[str, dict[str, int]] = {}
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name].fn(spark, sf)
            qe = df._jdf.queryExecution()
            shapes[name] = shape_of(
                qe.executedPlan().toString(), qe.optimizedPlan().toString()
            )
        except Exception as e:  # pragma: no cover - robustness
            shapes[name] = {"ERROR": 1, "msg": str(e)[:120]}  # type: ignore[dict-item]
    return shapes


def memo_name(name: str) -> str:
    """``name`` without its host-dependent suffix: the scan split-count
    probe is keyed by the session's parallelism (``split_count_p8``)."""
    return re.sub(r"_p\d+$", "_p*", name)


def collect_recording(sf: str) -> tuple[dict, set, list[str]]:
    """``collect`` with the session memo's entry point
    (``plans/_cache.shared_pair_table``) spied: returns the shapes, every
    builder handed to the memo, and the sorted memo names reached."""
    import atlassian_confluence_data_pipeline_spark.plans._cache as _c

    real = _c.shared_pair_table
    builders: set = set()
    names: set[str] = set()

    def recording(spark, sf_dir, name, builder):
        builders.add(builder)
        names.add(memo_name(name))
        return real(spark, sf_dir, name, builder)

    _c.shared_pair_table = recording
    try:
        shapes = collect(sf)
    finally:
        _c.shared_pair_table = real
    return shapes, builders, sorted(names)


def collect_warm(sf: str) -> tuple[dict[str, dict[str, int]], list[str], list[str]]:
    """Two passes in ONE session over the package's one session memo
    (``plans/_cache.shared_pair_table``). Pass 1 populates the memo and
    records every builder and memo name it reached. Pass 2 runs with the
    memo entry point spied and every module-level builder from pass 1
    wrapped: a builder run through the memo (reported by memo name) is a
    keying bug, and a direct call of a pass-1 builder (reported as
    ``module.function``) is a consumer computing a memoized value
    without the memo. Returns (pass-2 shapes, re-run builders, pass-1
    memo names)."""
    import atlassian_confluence_data_pipeline_spark.plans._cache as _c

    real = _c.shared_pair_table
    _shapes, builders, names = collect_recording(sf)  # pass 1

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
    return shapes, sorted(set(rebuilt)), names


def main() -> int:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--write", action="store_true")
    mode.add_argument("--check", action="store_true")
    mode.add_argument("--check-warm", action="store_true")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    if args.check_warm:
        _shapes, rebuilt, names = collect_warm(args.sf)
        want = json.loads(SNAPSHOT.read_text()).get(MEMO_KEY, [])
        missing = sorted(set(want) - set(names))
        if missing:
            print(f"MEMO NOT REACHED ({len(missing)} recorded memo names "
                  "no longer reach the session memo):")
            for n in missing:
                print(" -", n)
        if rebuilt:
            print(f"MEMO BYPASS ({len(rebuilt)} stages re-ran their "
                  "builders against a populated session memo):")
            for n in rebuilt:
                print(" -", n)
        if missing or rebuilt:
            return 1
        new_names = sorted(set(names) - set(want))
        if new_names:
            print("note: memo names not in the snapshot (record them with "
                  f"--write): {', '.join(new_names)}")
        print(f"OK: {len(names)} memo names reached, zero builder re-runs "
              "against the populated session memo.")
        return 0

    shapes, _builders, names = collect_recording(args.sf)

    snap = SNAPSHOT
    if args.write:
        snap.write_text(
            json.dumps({**shapes, MEMO_KEY: names}, indent=1, sort_keys=True)
            + "\n"
        )
        print(f"wrote {snap.name}: {len(shapes)} query shapes, "
              f"{len(names)} memo names")
        return 0

    if not snap.exists():
        print(f"{snap.name} missing - run --write first")
        return 1
    want = json.loads(snap.read_text())
    want.pop(MEMO_KEY, None)
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
