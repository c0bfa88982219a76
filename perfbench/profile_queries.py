"""Profile the first run of registered queries in one fresh session,
after the same set-up a sweep run does.

    python3 perfbench/profile_queries.py --out FILE [--seed 1] [--sf 0.1] [--only NAME ...]

Without ``--only`` every registered query runs, in sorted name order
(several minutes at local[4]); with it, the named queries run in the
order given, which is how the pinned lists in ``sweeps.py`` were timed.
Each record holds build seconds and jobs (``fn()``), execution seconds
and jobs (noop write) and the result schema.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import traceback
from pathlib import Path

# import as a package from the checkout root, so no module here can
# shadow a standard-library name
sys.path[0] = str(Path(__file__).resolve().parent.parent)

from perfbench import common, tables  # noqa: E402
from perfbench import run as bench  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--only", nargs="*", help="profile just these queries, in this order")
    args = ap.parse_args()

    from atlassian_confluence_data_pipeline_spark.plans import QUERIES

    run = bench.Run("profile", args.seed, 0, trace=False)
    record = {"cpus": common.CPUS, "sf": args.sf, "seed": args.seed, "queries": {}}
    try:
        sf_dir = tables.write_tables(str(run.dir / "data"), args.seed, args.sf)
        bench.setup(run)
        spark = run.spark
        # job groups without an event log: jobs are counted by the status tracker
        tracer = Tracer(enabled=True)
        tracer.spark = spark
        try:
            for name in args.only or sorted(QUERIES):
                try:
                    build_s, exec_s, schema = common.time_query(
                        spark, tracer, name, QUERIES[name].fn, sf_dir
                    )
                    timing = {
                        "build_s": round(build_s, 3),
                        "build_jobs": common.jobs_in_group(spark, f"{name}:build"),
                        "exec_s": round(exec_s, 3),
                        "exec_jobs": common.jobs_in_group(spark, f"{name}:exec"),
                        "schema": schema,
                    }
                except Exception:  # keep profiling; the failure is recorded
                    timing = {"error": traceback.format_exc(limit=1)[-300:]}
                record["queries"][name] = timing
                print(name, timing.get("build_s"), timing.get("exec_s"), flush=True)
        finally:
            common.stop_session(spark)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
