"""State-ledger MERGE, snapshot store, and the composed incremental
pipeline — including the reference's key property: re-running with no
new versions processes zero rows (state_manager.py:72)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.operators.dedup import union_dedup
from atlassian_confluence_data_pipeline_spark.operators.joins import anti_join, cdc_delta
from atlassian_confluence_data_pipeline_spark.operators.state import (
    STATE_SCHEMA,
    StateStore,
    merge_state,
)
from atlassian_confluence_data_pipeline_spark.pipeline import (
    change_set,
    incremental_refresh,
    run_with_store,
)
from tests.domain_fixtures import PAGES_SCHEMA, make_pages, make_state

CUTOFF = "2025-07-01 00:00:00"


def test_merge_state_last_write_wins(spark):
    state = make_state(spark)
    updates = spark.createDataFrame(
        [
            ("2", "Child A", "ENG", 2, "t", {"html": "h/2b"}),
            ("2", "Child A", "ENG", 4, "t", {"html": "h/2c"}),  # higher version wins
            ("50", "New", "OPS", 1, "t", {"html": "h/50"}),
        ],
        state.schema,
    )
    merged = merge_state(state, updates)
    rows = {r["id"]: r for r in merged.collect()}
    assert rows["2"]["version"] == 4  # latest-per-key resolved before MERGE
    assert rows["50"]["version"] == 1  # insert
    assert rows["1"]["version"] == 3  # untouched survivor
    assert rows["99"]["id"] == "99"  # unmatched state row survives
    assert merged.count() == 5


def test_state_store_atomic_snapshots(spark, tmp_path):
    store = StateStore(str(tmp_path / "ledger"))
    assert store.read(spark).count() == 0  # missing pointer -> empty ledger
    state = make_state(spark)
    store.write(state)
    assert store.read(spark).count() == 4
    snap1 = store.current_snapshot()
    store.upsert(
        spark,
        spark.createDataFrame([("7", "t", "OPS", 1, "t", {})], state.schema),
    )
    assert store.current_snapshot() != snap1
    assert store.read(spark).count() == 5


def test_incremental_refresh_classification(spark):
    pages, state = make_pages(spark), make_state(spark)
    result = incremental_refresh(pages, state, CUTOFF)
    got = {r["id"]: r for r in result.processed.collect()}
    # page 1: version equal to ledger -> skipped (state_manager.py:72)
    assert "1" not in got
    # page 2: ledger older -> updated
    assert got["2"]["change_type"] == "updated"
    # page 4: ledger NEWER -> skipped
    assert "4" not in got
    # pages 3,5,6,7: not in ledger -> new (3,7 found only by the
    # reconciliation sweep - they are outside the lookback window)
    for pid in ("3", "5", "6", "7"):
        assert got[pid]["change_type"] == "new", pid
    # transform applied: script stripped, PAGE_ID substituted
    assert "<script>" not in (got["2"]["html"] or "")
    # filename sanitization (F5): forbidden chars -> '_'
    assert got["7"]["filename"].startswith("Bad_________Title_")
    # null body passes through as null (guard P4 downstream)
    assert got["5"]["html"] is None


def test_incremental_refresh_no_missing_sweep(spark):
    pages, state = make_pages(spark), make_state(spark)
    result = incremental_refresh(pages, state, CUTOFF, check_missing=False)
    ids = {r["id"] for r in result.processed.collect()}
    # only rows inside the lookback window can appear
    assert ids == {"2", "5", "6"}  # 1 skipped (equal version), 2 updated, 5/6 new


def test_rerun_is_idempotent(spark, tmp_path):
    """Running the same pages twice: second run processes ZERO rows —
    the engine's version of 'skip when state.version >= current'."""
    pages = make_pages(spark)
    store = StateStore(str(tmp_path / "ledger"))
    first = run_with_store(spark, pages, store, CUTOFF)
    assert first.processed.count() == 7  # empty ledger -> every page is new
    second = run_with_store(spark, pages, store, CUTOFF)
    assert second.processed.count() == 0
    assert second.new_state.count() == first.new_state.count()


def test_observed_run_metrics_match_stats(spark, tmp_path):
    """run_with_store's Observation counters (the reference's run-report
    tallies, gathered as a side effect of the job that materialises
    ``processed`` — no extra pass) agree with the grouped stats
    DataFrame."""
    pages = make_pages(spark)
    store = StateStore(str(tmp_path / "ledger"))
    result = run_with_store(spark, pages, store, CUTOFF)
    m = result.metrics
    stats = result.stats.collect()
    assert m["n_pages"] == sum(r["n_pages"] for r in stats) == 7
    assert m["n_new"] == sum(
        r["n_pages"] for r in stats if r["change_type"] == "new"
    )
    assert m["n_updated"] == sum(
        r["n_pages"] for r in stats if r["change_type"] == "updated"
    )
    assert m["n_pages"] == m["n_new"] + m["n_updated"]
    # the fixture's null-body page (P4 guard) surfaces as a failed-html
    # tally — exactly the reference's failure counter
    n_null = result.processed.filter("html IS NULL").count()
    assert m["n_failed_html"] == n_null == 1
    assert m["html_chars"] > 0
    # an empty incremental re-run reports zeros, not stale numbers
    again = run_with_store(spark, pages, store, CUTOFF)
    assert again.metrics["n_pages"] == 0
    assert again.metrics["html_chars"] == 0


def test_run_with_store_materialises_processed_once(spark, tmp_path):
    """The pandas UDF runs in the one job that materialises ``processed``
    (and fills the counters); the sink and the stats read its result."""
    result = run_with_store(
        spark, make_pages(spark), StateStore(str(tmp_path / "ledger")), CUTOFF
    )
    assert result.metrics is not None and result.metrics["n_pages"] == 7
    for frame in (result.processed, result.stats):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan, plan


def _reference_change_set(pages, state, cutoff, check_missing):
    """The three-operator composition ``change_set`` replaces: window
    scan and reconciliation sweep unioned with in-window rows first,
    then the CDC join."""
    updated = pages.filter(F.col("version.when") >= F.lit(cutoff).cast("timestamp"))
    if check_missing:
        missing = anti_join(pages, state.select("id"), "id")
        candidates = union_dedup(updated, missing, ["id"])
    else:
        candidates = updated.dropDuplicates(["id"])
    return cdc_delta(
        candidates,
        state,
        "id",
        current_version=F.col("version.number"),
        state_version_col="version",
    )


def _edge_pages(spark):
    """make_pages (incl. its boundary-midnight rows 1, 6 and the
    one-second-before row 4) plus: an id with an out-of-window and an
    in-window row, both missing from the ledger (in-window must win);
    a page with no ``version.when``; a page whose ledger row has a NULL
    version and lies outside the window."""
    extra = [
        ("8", "Two Rows", ("OPS",), (1, datetime(2025, 6, 1)), (("<p>old</p>",),), [], []),
        ("8", "Two Rows", ("OPS",), (2, datetime(2025, 7, 5)), (("<p>new</p>",),), [], []),
        ("9", "No When", ("OPS",), (1, None), (("<p>n</p>",),), [], []),
        ("10", "Null Ledger", ("ENG",), (4, datetime(2025, 6, 2)), (("<p>z</p>",),), [], []),
    ]
    return make_pages(spark).unionByName(spark.createDataFrame(extra, PAGES_SCHEMA))


def _edge_ledgers(spark):
    null_versions = [
        ("6", "Doc X", "OPS", None, None, {}),  # in window -> new
        ("10", "Null Ledger", "ENG", None, None, {}),  # out of window -> skipped
    ]
    return {
        "empty": spark.createDataFrame([], STATE_SCHEMA),
        "fixture": make_state(spark),  # equal/older/newer + id 99 absent from pages
        "null_version": make_state(spark).unionByName(
            spark.createDataFrame(null_versions, STATE_SCHEMA)
        ),
    }


@pytest.mark.parametrize("check_missing", [True, False])
def test_change_set_matches_union_dedup_cdc_reference(spark, check_missing):
    pages = _edge_pages(spark)
    for name, state in _edge_ledgers(spark).items():
        got = change_set(pages, state, CUTOFF, check_missing)
        want = _reference_change_set(pages, state, CUTOFF, check_missing)
        assert got.schema == want.schema, name
        got_rows, want_rows = (
            sorted((r.asDict(recursive=True) for r in df.collect()), key=repr)
            for df in (got, want)
        )
        assert got_rows == want_rows, (name, check_missing)
        kinds = {r["id"]: (r["version"]["number"], r["change_type"]) for r in got_rows}
        assert kinds["8"] == (2, "new")  # the in-window row beats the swept one
        assert ("9" in kinds) == check_missing  # no timestamp: only swept in
        if name == "null_version":
            assert kinds["6"] == (7, "new") and "10" not in kinds


def test_stats_aggregation(spark):
    pages, state = make_pages(spark), make_state(spark)
    stats = incremental_refresh(pages, state, CUTOFF).stats.collect()
    as_map = {(r["space_key"], r["change_type"]): r["n_pages"] for r in stats}
    assert as_map[("ENG", "new")] == 2  # pages 3, 5
    assert as_map[("ENG", "updated")] == 1  # page 2
    assert as_map[("OPS", "new")] == 2  # pages 6, 7


def test_state_store_time_travel_and_vacuum(spark, tmp_path):
    store = StateStore(str(tmp_path / "ledger"))
    state = make_state(spark)
    snap1 = store.write(state)
    store.upsert(
        spark, spark.createDataFrame([("7", "t", "OPS", 1, "t", {})], state.schema)
    )
    store.upsert(
        spark, spark.createDataFrame([("8", "t", "OPS", 1, "t", {})], state.schema)
    )
    assert store.read(spark).count() == 6  # current
    # time travel to the first snapshot
    assert store.read(spark, snapshot=snap1).count() == 4
    assert len(store.list_snapshots()) == 3
    removed = store.vacuum(keep=1)
    assert len(removed) == 2 and snap1 in removed
    assert store.read(spark).count() == 6  # current snapshot untouched
