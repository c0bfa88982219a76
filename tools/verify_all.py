#!/usr/bin/env python
"""The ONE green gate: pytest + driver simulation + plan audit.

    python tools/verify_all.py [--fast]

Runs, in order, and stops at the first failure (exit code 1):

1. ``python -m pytest tests/ -x -q``            (sf0.001, full suite)
2. ``python -m pytest perfbench/tests -q``      (self-test of the
   benchmark's event-log fold, which its ``udf_rows`` and
   ``source_scans`` per-layer counters rely on)
3. ``python tools/driver_sim.py``               (every registry query vs
   its DuckDB oracle at sf0.01 in a VANILLA session from a foreign cwd
   — the superset of the driver's CORRECTNESS gate)
4. ``python tools/plan_audit.py``               (anti-pattern sweep:
   cartesians, unexpected BNLJ, row-at-a-time Python UDFs, CSE traps)
5. ``python tools/plan_snapshot.py --check``    (physical-plan shape
   regression diff vs the committed PLAN_SNAPSHOT.json; intentional
   shape changes are recorded with --write)
6. ``python tools/plan_snapshot.py --check-warm`` (session-memo gate:
   with the session memo populated by a first plan-construction pass,
   a second pass must invoke ZERO stage builders — no consumer may
   bypass the shared-stage memo)
7. ``python tools/qcheck.py --rotation``        (seeded 28-query
   rotation over the registry tail the driver's CORRECTNESS sample
   missed recently — sha256(name:rN) draw, rule in BASELINE.md)

``--fast`` skips step 1 (the pytest suite) for quick mid-edit loops;
a commit-worthy tree must pass every step.
"""

from __future__ import annotations

import argparse
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

STEPS = [
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"]),
    ("perfbench_selftest", [sys.executable, "-m", "pytest", "perfbench/tests", "-q"]),
    ("driver_sim", [sys.executable, "tools/driver_sim.py"]),
    ("plan_audit", [sys.executable, "tools/plan_audit.py"]),
    ("plan_snapshot", [sys.executable, "tools/plan_snapshot.py", "--check"]),
    (
        "plan_snapshot_warm",
        [sys.executable, "tools/plan_snapshot.py", "--check-warm"],
    ),
    # 6. seeded rotation re-proof of the registry's long tail: 28
    #    queries NOT in the last two driver CORRECTNESS samples, drawn
    #    by sha256(name:rN) — makes driver-sample staleness harmless
    #    (round-11 VERDICT item 4; seed rule documented in BASELINE.md)
    ("rotation_qcheck", [sys.executable, "tools/qcheck.py", "--rotation"]),
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fast", action="store_true", help="skip the pytest suite")
    args = ap.parse_args()
    steps = [s for s in STEPS if not (args.fast and s[0] == "pytest")]
    for name, cmd in steps:
        t0 = time.time()
        print(f"=== {name}: {' '.join(cmd[1:])}", flush=True)
        rc = subprocess.run(cmd, cwd=REPO).returncode
        print(f"=== {name}: {'OK' if rc == 0 else f'FAILED rc={rc}'} "
              f"({time.time() - t0:.0f}s)", flush=True)
        if rc != 0:
            return 1
    print("=== verify_all: ALL GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
