#!/usr/bin/env python
"""The ONE green gate: pytest + driver simulation + plan audit.

    python tools/verify_all.py [--fast]

Runs, in order, and stops at the first failure (exit code 1):

1. ``python -m pytest tests/ -x -q``            (sf0.001, full suite)
2. ``python -m pytest perfbench/tests -q``      (self-test of the
   benchmark's event-log fold, which its ``udf_rows`` and
   ``source_scans`` per-layer counters rely on)
3. ``python perfbench/run.py --workload etl_refresh --seconds 15 --trace 0``
   (etl_smoke: the paper's flow end to end — source scan, CDC against
   the ledger, clean_html pandas UDF, HTML sink, ledger snapshot —
   over a backfill and one refresh, ~35 s; fails unless the last
   stdout line reports ``"correct": true`` and ``"failed": 0``)
4. ``python perfbench/run.py --workload sweep_curation --seconds 15 --trace 0``
   (sweep_smoke: first builds and runs of the curation sweep's
   near-duplicate clustering, LSH, embedding and BPE queries, each
   result checked against its expected schema; fails on the same
   last-line rule as etl_smoke)
5. ``python perfbench/run.py --workload sweep_curation --check-oracle``
   (sweep_oracle: each of the sweep's 25 pinned queries against its
   DuckDB oracle on the benchmark's generated tables at sf0.01, data
   other than the fixtures; fails unless the last stdout line reports
   ``"mismatched": []``)
6. ``python tools/driver_sim.py``               (every registry query vs
   its DuckDB oracle at sf0.01 in a VANILLA session from a foreign cwd
   — the superset of the driver's CORRECTNESS gate)
7. ``python tools/plan_audit.py``               (anti-pattern sweep:
   cartesians, unexpected BNLJ, row-at-a-time Python UDFs, CSE traps)
8. ``python tools/plan_snapshot.py --check``    (physical-plan shape
   regression diff vs the committed PLAN_SNAPSHOT.json; intentional
   shape changes are recorded with --write)
9. ``python tools/plan_snapshot.py --check-warm`` (session-memo gate:
   with the session memo populated by a first plan-construction pass,
   a second pass must invoke ZERO stage builders — no consumer may
   bypass the shared-stage memo)
10. ``python tools/qcheck.py --rotation``       (seeded 28-query
   rotation over the registry tail the driver's CORRECTNESS sample
   missed recently — sha256(name:rN) draw, rule in BASELINE.md)

``--fast`` skips step 1 (the pytest suite) for quick mid-edit loops;
a commit-worthy tree must pass every step.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

STEPS = [
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-x", "-q"]),
    ("perfbench_selftest", [sys.executable, "-m", "pytest", "perfbench/tests", "-q"]),
    (
        "etl_smoke",
        [
            sys.executable, "perfbench/run.py", "--workload", "etl_refresh",
            "--seconds", "15", "--trace", "0",
        ],
    ),
    (
        "sweep_smoke",
        [
            sys.executable, "perfbench/run.py", "--workload", "sweep_curation",
            "--seconds", "15", "--trace", "0",
        ],
    ),
    (
        "sweep_oracle",
        [
            sys.executable, "perfbench/run.py", "--workload", "sweep_curation",
            "--check-oracle",
        ],
    ),
    ("driver_sim", [sys.executable, "tools/driver_sim.py"]),
    ("plan_audit", [sys.executable, "tools/plan_audit.py"]),
    ("plan_snapshot", [sys.executable, "tools/plan_snapshot.py", "--check"]),
    (
        "plan_snapshot_warm",
        [sys.executable, "tools/plan_snapshot.py", "--check-warm"],
    ),
    # 10. seeded rotation re-proof of the registry's long tail: 28
    #    queries NOT in the last two driver CORRECTNESS samples, drawn
    #    by sha256(name:rN) — makes driver-sample staleness harmless
    #    (round-11 VERDICT item 4; seed rule documented in BASELINE.md)
    ("rotation_qcheck", [sys.executable, "tools/qcheck.py", "--rotation"]),
]


def _last_line(stdout: str) -> dict:
    """The JSON object on a perfbench run's last stdout line ({} if none)."""
    try:
        return json.loads(stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return {}


def _result_failure(stdout: str) -> str | None:
    """Why a perfbench run's last stdout line is not a correct result
    with no failed operation; None when it is."""
    last = _last_line(stdout)
    if last.get("correct") is not True or last.get("failed") != 0:
        return f"correct={last.get('correct')} failed={last.get('failed')}"
    return None


def _oracle_failure(stdout: str) -> str | None:
    """Why a ``--check-oracle`` run's last stdout line does not report
    every checked query matching its oracle; None when it does."""
    last = _last_line(stdout)
    if not last.get("checked") or last.get("mismatched") != []:
        return f"checked={last.get('checked')} mismatched={last.get('mismatched')}"
    return None


#: steps whose stdout must also pass a check beyond their exit code
_CHECKS = {
    "etl_smoke": _result_failure,
    "sweep_smoke": _result_failure,
    "sweep_oracle": _oracle_failure,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fast", action="store_true", help="skip the pytest suite")
    args = ap.parse_args()
    steps = [s for s in STEPS if not (args.fast and s[0] == "pytest")]
    for name, cmd in steps:
        t0 = time.time()
        print(f"=== {name}: {' '.join(cmd[1:])}", flush=True)
        # a smoke run must also print a correct, failure-free result,
        # and the oracle run a full match
        check = _CHECKS.get(name)
        proc = subprocess.run(
            cmd, cwd=REPO, stdout=subprocess.PIPE if check else None, text=True
        )
        rc = proc.returncode
        if check is not None:
            print(proc.stdout, end="", flush=True)
            why = check(proc.stdout)
            if rc == 0 and why:
                print(f"=== {name}: {why}", flush=True)
                rc = 1
        print(f"=== {name}: {'OK' if rc == 0 else f'FAILED rc={rc}'} "
              f"({time.time() - t0:.0f}s)", flush=True)
        if rc != 0:
            return 1
    print("=== verify_all: ALL GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
