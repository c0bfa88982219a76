"""Shared plumbing: the run's private work directory, the Spark session
and the first-run timing of one registered query.

Everything a run writes (generated inputs, ledger, HTML output, Spark
shuffle/temp files, event logs) goes under ``.perfbench_work/`` at the
root of the checkout, so a run never touches anything outside it.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
#: every run is a fresh process on this many local cores
CPUS = 4


def make_run_dir(tag: str) -> Path:
    """Create this process's scratch directory and point every temp-file
    user (Python, the JVM, Spark's local dirs) into it."""
    run_dir = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = str(tmp)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return run_dir


def start_session(run_dir: Path, event_log_dir: Path | None = None):
    """``get_session`` at local[CPUS], with temp, warehouse and (when
    tracing) event-log directories inside the run directory."""
    from atlassian_confluence_data_pipeline_spark.session import get_session

    tmp = run_dir / "tmp"
    conf = {
        "spark.local.dir": str(tmp),
        # no hsperfdata file: the JVM puts it in /tmp whatever tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_session("perfbench", cpus=CPUS, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def time_query(spark, tracer, name: str, fn, sf_dir: str) -> tuple[float, float, str]:
    """First run of one registry query: seconds in ``fn()`` (plan
    construction plus any eager jobs it fires), seconds in a noop write
    of the result, and the result schema. Traced as ``plans.build`` /
    ``plans.exec`` spans under job groups ``{name}:build`` /
    ``{name}:exec``."""
    t0 = time.perf_counter()
    with tracer.span("plans.build", group=f"{name}:build", query=name):
        df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    with tracer.span("plans.exec", group=f"{name}:exec", query=name):
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, df.schema.simpleString()
