"""Run the benchmark repeatedly and record how steady each metric is.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/steadiness.json [--workload NAME ...]

Each run is a fresh ``run.py`` process with its own seed (1..runs) and
``--seconds`` from BENCHMARK.json, one workload at a time. For every
workload and end-to-end metric the record holds the values, their
median and quartiles (``statistics.quantiles(values, n=4)``) and the
quartile spread as a share of the median, next to the metric's bound.
One more run per workload is traced (first seed); the record keeps its
per-layer metrics and the tracing overhead: its own ``trace.setup_s`` /
``trace.work_s`` minus the untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "values": values,
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med,
        "bound": bound,
    }


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    *_, breakdown, line = out.stdout.strip().splitlines()
    print(workload, seed, f"trace={trace}", line[:300], flush=True)
    return {**json.loads(line), "breakdown": json.loads(breakdown)}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()

    record = {
        "cpus": os.cpu_count(),
        "run_seconds": spec["run_seconds"],
        "seeds": list(range(args.first_seed, args.first_seed + args.runs)),
        "workloads": {},
    }
    for workload in args.workload:
        runs = [run(workload, seed, spec["run_seconds"], 0) for seed in record["seeds"]]
        traced = run(workload, record["seeds"][0], spec["run_seconds"], 1)
        metrics = {
            m["name"]: summarize([r["metrics"][m["name"]]["value"] for r in runs], m["bound"])
            for m in spec["end_to_end"]
        }
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        record["workloads"][workload] = {
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "all_correct": all(r["correct"] for r in runs + [traced]),
            "metrics": metrics,
            "breakdowns": [r["breakdown"] for r in runs],
            "traced_run": {
                "seed": record["seeds"][0],
                "tracing_overhead_s": {
                    name: layers[f"trace.{name}"] - metrics[name]["median"] for name in metrics
                },
                "per_layer": layers,
            },
        }
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    for workload, rec in record["workloads"].items():
        for name, s in rec["metrics"].items():
            print(f"{workload:18s} {name:10s} median {s['median']:8.3f}  spread {s['spread']:.3f}  bound {s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
