"""Benchmark of the engine: the paper's incremental ETL flow and
first-run query sweeps. perfbench/README.md describes every metric.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload sweep_curation --check-oracle

Each run is one fresh process at local[4]. The last line of stdout is
one JSON object: ``correct``, ``attempted`` (operations), ``failed``
(operations that raised or failed a check) and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The line before it is the workload's own
breakdown (backfill and refresh seconds, or per-query seconds).

``--seconds`` sizes a run's work from costs profiled on a 4-core host
(``ETL_*_COST_S`` here, the profiled seconds in ``sweeps.py``). The work
never depends on how fast the run itself goes, so two commits are
measured on the same work.
"""

from __future__ import annotations

import argparse
import json
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import pandas as pd

# import as a package from the checkout root, so no module here can
# shadow a standard-library name
sys.path[0] = str(Path(__file__).resolve().parent.parent)

from perfbench import common, eventlog, pages, sweeps, tables  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("etl_refresh", "sweep_relational", "sweep_curation")
#: etl_refresh input: base pages, and pages added by each refresh batch
ETL_PAGES, ETL_ADDED = 300, 6
#: profiled seconds of the backfill and of one refresh batch (local[4])
ETL_BACKFILL_COST_S, ETL_BATCH_COST_S = 15.0, 7.0
#: scale of the tables etl_refresh's traced run times load_table on
PROBE_SF = 0.001
#: pages whose bodies feed the in-process clean_html probe
HTML_PROBE_PAGES = 200
HTML_SAMPLES_PER_PHASE = 4
BASE_URL = "https://example.org/wiki"

#: per-layer metrics only some workloads produce; the others report 0
WORKLOAD_LAYERS = (
    "plans.build_s",
    "plans.build_jobs",
    "plans.exec_s",
    "plans.exec_jobs",
    "confluence_source.scans_per_phase",
    "confluence_source.tasks",
    "html.udf_rows_per_page",
    "pipeline.backfill_s",
    "pipeline.refresh_s",
    "pipeline.run_with_store_s",
    "pipeline.run_with_store_jobs",
    "pipeline.stats_s",
    "state.write_s",
    "state.snapshot_bytes_per_changed_row",
    "html_sink.write_s",
    "html_sink.files_published",
    "html_sink.manifest_bytes_written",
)


class CheckFailed(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Run:
    """One benchmark run: its directory, session, tracer and tallies."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = common.make_run_dir(workload)
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.sf_dir: str | None = None
        self.ops = 0
        self.failures: dict[str, str] = {}
        self.e2e: dict[str, float] = {}
        self.detail: dict = {}
        self.layers: dict[str, float] = dict.fromkeys(WORKLOAD_LAYERS, 0)
        self.phases = 0  # etl_refresh phases run
        self.pages_processed = 0  # pages the etl_refresh phases processed

    def op(self, name: str, fn):
        """Time one operation. Returns (seconds, result); the result is
        None when the operation raised, which counts it as failed."""
        self.ops += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # a failed operation is a result, not a crash
            self.failures[name] = traceback.format_exc(limit=3)[-600:]
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, result

    def verify(self, name: str, fn) -> None:
        """Run an untimed correctness check of operation ``name``."""
        try:
            with self.tracer.span("checks", group="_checks"):
                fn()
        except CheckFailed as exc:
            self.failures[name] = str(exc)
        except Exception:
            self.failures[name] = traceback.format_exc(limit=3)[-600:]


def _register_io(spark) -> None:
    from atlassian_confluence_data_pipeline_spark.sources import (
        confluence_source,
        html_sink,
    )

    confluence_source.register(spark)
    html_sink.register(spark)


def setup(run: Run) -> None:
    """``setup_s``: what a workload needs before its first timed
    operation. Session start, then one warm-up job that also starts the
    first Python workers: for etl_refresh the source and sink are
    registered and the warm-up reads 100 pages through the source; the
    sweeps run a pandas UDF over four rows instead."""
    t0 = time.perf_counter()
    with run.tracer.span("session.start"):
        run.spark = common.start_session(
            run.dir, run.dir / "eventlog" if run.trace else None
        )
    run.tracer.spark = run.spark
    t1 = time.perf_counter()
    with run.tracer.span("session.warmup", group="_setup"):
        if run.workload == "etl_refresh":
            _register_io(run.spark)
            warmup = run.spark.read.format("confluence_pages").option("n_pages", 100).load()
        else:
            from pyspark.sql import functions as F

            plus_one = F.pandas_udf(_plus_one, "long")
            warmup = run.spark.range(4, numPartitions=4).select(plus_one("id"))
        warmup.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    run.e2e["setup_s"] = t2 - t0
    run.layers["session.start_s"] = t1 - t0
    run.layers["session.warmup_s"] = t2 - t1


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


# --------------------------------------------------------------------------
# etl_refresh
# --------------------------------------------------------------------------


def _timed_store(path: str, tracer: Tracer):
    from atlassian_confluence_data_pipeline_spark.operators.state import StateStore

    class TimedStore(StateStore):
        """StateStore whose ``write`` is a ``state.write`` span."""

        phase = ""

        def write(self, df):
            with tracer.span("state.write", group=f"{self.phase}:state_write"):
                return super().write(df)

    return TimedStore(path)


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _check_phase(run: Run, batch: int, result, stats, html_dir: Path) -> None:
    """The pipeline's outputs against the generator's known change set."""
    exp = pages.expected_counts(batch, ETL_PAGES, ETL_ADDED, run.seed)
    m = result.metrics
    got = {k: m[k] for k in ("n_new", "n_updated")}
    check(got == {k: exp[k] for k in got}, f"CDC counters {got}, expected {exp}")
    check(m["n_failed_html"] == 0, f"{m['n_failed_html']} pages failed clean_html")
    n = m["n_new"] + m["n_updated"]
    check(sum(r["n_pages"] for r in stats) == n, f"stats count {stats} != {n}")
    check(sum(r["n_html"] for r in stats) == n, f"stats html count {stats} != {n}")
    ledger = result.new_state.count()
    check(ledger == exp["ledger_rows"], f"ledger rows {ledger}, expected {exp['ledger_rows']}")
    manifest = (html_dir / "_MANIFEST").read_text().splitlines()
    check(len(manifest) == exp["ledger_rows"], f"_MANIFEST has {len(manifest)} entries")
    updated, new = pages.changed_ids(batch, ETL_PAGES, ETL_ADDED, run.seed)
    rng = random.Random(run.seed * 1000 + batch)
    half = HTML_SAMPLES_PER_PHASE // 2
    sample = rng.sample(updated, min(half, len(updated)))
    sample += rng.sample(new, HTML_SAMPLES_PER_PHASE - len(sample))
    for i in sample:
        text = (html_dir / f"Page {i}_{i}.html").read_text()
        version = pages.version_of(i, batch, ETL_PAGES, run.seed)
        check("<script" not in text.lower(), f"page {i}: <script> survived")
        check("PAGE_ID" not in text, f"page {i}: PAGE_ID not substituted")
        check(f"pageId={i}\"" in text, f"page {i}: permalink lacks its id")
        check(f"attachments/{i}/flow.png" in text, f"page {i}: image not rewritten")
        check(f"<p>Version {version}</p>" in text, f"page {i}: not version {version}")


def _phase(spark, tracer: Tracer, phase: str, frame, store, batch: int, html_dir: Path):
    """One pipeline phase: ``run_with_store``, ``processed`` through the
    HTML sink, ``stats.collect()``. Returns (RefreshResult, stats rows)."""
    from atlassian_confluence_data_pipeline_spark.pipeline import run_with_store

    store.phase = phase
    with tracer.span("pipeline.run_with_store", group=f"{phase}:run_with_store"):
        result = run_with_store(spark, frame, store, pages.cutoff(batch))
    with tracer.span("html_sink.write", group=f"{phase}:sink"):
        result.processed.write.format("confluence_html").mode("append").option(
            "filename_col", "filename"
        ).option("content_col", "html").save(str(html_dir))
    with tracer.span("pipeline.stats", group=f"{phase}:stats"):
        stats = result.stats.collect()
    return result, stats


def etl_refresh(run: Run) -> None:
    """One backfill into an empty ledger, then refresh batches."""
    n_batches = max(1, int((run.seconds - ETL_BACKFILL_COST_S) // ETL_BATCH_COST_S))
    store = _timed_store(str(run.dir / "ledger"), run.tracer)
    html_dir = run.dir / "html"
    tracer, spark = run.tracer, run.spark
    phase_s: list[float] = []
    processed = snapshot_bytes = refresh_rows = manifest_bytes = 0
    for batch in range(n_batches + 1):
        phase = "backfill" if batch == 0 else f"refresh{batch}"
        frame = pages.pages_frame(spark, batch, ETL_PAGES, ETL_ADDED, run.seed)
        seconds, out = run.op(
            phase, lambda: _phase(spark, tracer, phase, frame, store, batch, html_dir)
        )
        phase_s.append(seconds)
        if out is None:
            continue
        run.verify(phase, lambda: _check_phase(run, batch, *out, html_dir))
        processed += out[0].metrics["n_pages"]
        manifest_bytes += (html_dir / "_MANIFEST").stat().st_size
        if batch:
            snapshot_bytes += _dir_bytes(Path(store.path) / store.current_snapshot())
            refresh_rows += out[0].metrics["n_pages"]
    run.detail = {
        "backfill_s": phase_s[0],
        "refresh_s": sum(phase_s[1:]),
        "phase_s": phase_s,
        "pages": ETL_PAGES,
        "refresh_batches": n_batches,
    }
    run.e2e["work_s"] = sum(phase_s)
    run.layers.update(
        {
            "pipeline.backfill_s": phase_s[0],
            "pipeline.refresh_s": sum(phase_s[1:]),
            "html_sink.files_published": processed,
            "html_sink.manifest_bytes_written": manifest_bytes,
            "state.snapshot_bytes_per_changed_row": snapshot_bytes / max(refresh_rows, 1),
        }
    )
    run.phases, run.pages_processed = n_batches + 1, processed


# --------------------------------------------------------------------------
# sweeps
# --------------------------------------------------------------------------


def sweep(run: Run) -> None:
    """First run of each query of the workload's pinned list, in order."""
    from atlassian_confluence_data_pipeline_spark.plans import QUERIES

    per_query = {}
    for name, spec in sweeps.select(run.workload, run.seconds).items():
        seconds, out = run.op(
            name,
            lambda: common.time_query(run.spark, run.tracer, name, QUERIES[name].fn, run.sf_dir),
        )
        per_query[name] = seconds
        if out is not None:
            schema = out[2]
            run.verify(
                name,
                lambda: check(schema == spec["schema"], f"schema {schema} != {spec['schema']}"),
            )
    run.e2e["work_s"] = sum(per_query.values())
    run.detail = {"sweep_s": run.e2e["work_s"], "sf": sweeps.SCALE[run.workload], "query_s": per_query}


# --------------------------------------------------------------------------
# traced run: probes and the per-layer record
# --------------------------------------------------------------------------


def probes(run: Run) -> None:
    """Standalone per-layer measurements, after the timed work."""
    from atlassian_confluence_data_pipeline_spark.catalog import TABLES, load_table
    from atlassian_confluence_data_pipeline_spark.functions.html import clean_html

    spark, tracer = run.spark, run.tracer
    if run.workload != "etl_refresh":
        _register_io(spark)
    calls = []
    for name in TABLES:
        t0 = time.perf_counter()
        with tracer.span("catalog.load_table", group="_probe:catalog", table=name):
            load_table(spark, run.sf_dir, name)
        calls.append(time.perf_counter() - t0)
    run.layers["catalog.load_table_s"] = statistics.mean(calls)

    t0 = time.perf_counter()
    with tracer.span("confluence_source.scan", group="_probe:scan"):
        spark.read.format("confluence_pages").option("n_pages", ETL_PAGES).load().write.format(
            "noop"
        ).mode("overwrite").save()
    run.layers["confluence_source.scan_s"] = time.perf_counter() - t0

    frame = pages.pages_frame(spark, 0, HTML_PROBE_PAGES, 0, run.seed)
    with tracer.span("html.probe_input", group="_probe:html"):
        bodies = [r[0] for r in frame.select("body.storage.value").collect()]
    chars, t0 = 0, time.perf_counter()
    with tracer.span("html.clean_html"):
        while time.perf_counter() - t0 < 0.5:
            for body in bodies:
                clean_html(body, BASE_URL)
            chars += sum(map(len, bodies))
    run.layers["html.clean_chars_per_s"] = chars / (time.perf_counter() - t0)


def fold_trace(run: Run) -> dict:
    """Per-layer metrics from the event log and the spans."""
    logs = list((run.dir / "eventlog").iterdir())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    groups = eventlog.fold_file(str(logs[0]))
    timed = eventlog.total(groups, lambda g: g != eventlog.UNGROUPED and not g.startswith("_"))
    build = eventlog.total(groups, lambda g: g.endswith(":build"))
    execs = eventlog.total(groups, lambda g: g.endswith(":exec"))
    rws = eventlog.total(groups, lambda g: g.endswith((":run_with_store", ":state_write")))
    L, tracer = run.layers, run.tracer
    phases, pages_done = run.phases, run.pages_processed
    L.update({f"exec.{k}": timed[k] for k in eventlog.EXEC_FIELDS})
    L.update(
        {
            "catalog.load_table_jobs": groups.get("_probe:catalog", {}).get("jobs", 0),
            "plans.build_s": tracer.seconds("plans.build"),
            "plans.build_jobs": build["jobs"],
            "plans.exec_s": tracer.seconds("plans.exec"),
            "plans.exec_jobs": execs["jobs"],
            "confluence_source.scans_per_phase": timed["source_scans"] / phases if phases else 0,
            "confluence_source.tasks": timed["source_tasks"],
            "html.udf_rows_per_page": timed["udf_rows"] / pages_done if pages_done else 0,
            "pipeline.run_with_store_s": tracer.seconds("pipeline.run_with_store"),
            "pipeline.run_with_store_jobs": rws["jobs"],
            "pipeline.stats_s": tracer.seconds("pipeline.stats"),
            "state.write_s": tracer.seconds("state.write"),
            "html_sink.write_s": tracer.seconds("html_sink.write"),
            "trace.setup_s": run.e2e["setup_s"],
            "trace.work_s": run.e2e["work_s"],
        }
    )
    return groups


def peak_rss_mb() -> float:
    """Largest resident set of this process or any waited-for child (the
    JVM), in MiB; read after the session has stopped."""
    kib = max(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
        resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss,
    )
    return kib / 1024


# --------------------------------------------------------------------------
# entry points
# --------------------------------------------------------------------------


def _spec() -> dict:
    return json.loads((common.ROOT / "BENCHMARK.json").read_text())


def result_line(run: Run) -> dict:
    spec = _spec()
    wanted = spec["per_layer" if run.trace else "end_to_end"]
    values = run.layers if run.trace else run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": not run.failures,
        "attempted": run.ops,
        "failed": len(run.failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def bench(args) -> int:
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "etl_refresh":
            if run.trace:
                run.sf_dir = tables.write_tables(str(run.dir / "data"), args.seed, PROBE_SF)
        else:
            sf = sweeps.SCALE[args.workload]
            run.sf_dir = tables.write_tables(str(run.dir / "data"), args.seed, sf)
        setup(run)
        try:
            (etl_refresh if args.workload == "etl_refresh" else sweep)(run)
            if run.trace:
                probes(run)
        finally:
            common.stop_session(run.spark)
        if run.trace:
            run.layers["session.peak_rss_mb"] = peak_rss_mb()
            groups = fold_trace(run)
            run.tracer.write(
                common.WORK / "traces" / f"{args.workload}-seed{args.seed}.json",
                workload=args.workload,
                seed=args.seed,
                cpus=common.CPUS,
                end_to_end=run.e2e,
                per_layer=run.layers,
                job_groups=groups,
                detail=run.detail,
            )
        line = result_line(run)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    for name, why in run.failures.items():
        print(f"FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **run.detail}))
    print(json.dumps(line))
    return 0


def check_oracle(args) -> int:
    """Untimed: each pinned query against its DuckDB oracle at sf=0.01."""
    from atlassian_confluence_data_pipeline_spark.plans import QUERIES
    from tests.oracle_compare import compare_frames, run_oracle

    run_dir = common.make_run_dir(f"oracle-{args.workload}")
    report = {}
    try:
        sf_dir = tables.write_tables(str(run_dir / "data"), args.seed, 0.01)
        spark = common.start_session(run_dir)
        try:
            for name in sweeps.PINNED[args.workload]:
                spec = QUERIES[name]
                if spec.oracle is None:
                    report[name] = "no oracle"
                    continue
                got = spec.fn(spark, sf_dir).toPandas()
                problems = compare_frames(got, run_oracle(spec.oracle, sf_dir), name)
                report[name] = "; ".join(problems) or "ok"
                print(name, report[name], flush=True)
        finally:
            common.stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    bad = [n for n, r in report.items() if r not in ("ok", "no oracle")]
    print(json.dumps({"workload": args.workload, "checked": len(report), "mismatched": bad}))
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-oracle", action="store_true")
    args = ap.parse_args(argv)
    try:
        from atlassian_confluence_data_pipeline_spark.plans import QUERIES
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {common.ROOT}: {exc}", file=sys.stderr)
        return 2
    missing = [n for names in sweeps.PINNED.values() for n in names if n not in QUERIES]
    if missing:
        print(f"perfbench: pinned queries no longer registered: {missing}", file=sys.stderr)
        return 2
    if args.check_oracle:
        if args.workload not in sweeps.PINNED:
            ap.error("--check-oracle applies to the sweep workloads")
        return check_oracle(args)
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
