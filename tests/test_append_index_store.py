"""AppendIndexStore: O(batch) streaming-index partitions (round-6)."""

from __future__ import annotations

import os

import pytest

import atlassian_confluence_data_pipeline_spark.operators.state as state_mod
from atlassian_confluence_data_pipeline_spark.operators.state import (
    AppendIndexStore,
)

SCHEMA = "doc_id bigint, fp string"


def _crash_manifest_commit(monkeypatch, st):
    """Make the store's next manifest replace raise: the crash point
    just before the commit."""
    real_replace = os.replace

    def exploding_replace(src, dst):
        if dst == os.path.join(st.path, st.MANIFEST):
            raise RuntimeError("crash before commit")
        return real_replace(src, dst)

    monkeypatch.setattr(state_mod.os, "replace", exploding_replace)


def test_empty_read_has_schema(spark, tmp_path):
    st = AppendIndexStore(str(tmp_path / "idx"))
    df = st.read(spark, SCHEMA)
    assert df.count() == 0
    assert df.columns == ["doc_id", "fp"]
    assert not st.has_data()


def test_partitions_accumulate_and_replay_overwrites(spark, tmp_path):
    st = AppendIndexStore(str(tmp_path / "idx"))
    st.write_batch(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA), 0)
    st.write_batch(spark.createDataFrame([(3, "c")], SCHEMA), 1)
    assert st.has_data()
    rows = sorted(
        (r["doc_id"], r["fp"]) for r in st.read(spark, SCHEMA).collect()
    )
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    # replayed batch overwrites ONLY its own partition — identical rows
    # leave the union unchanged, changed rows replace just that batch
    st.write_batch(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA), 0)
    rows2 = sorted(
        (r["doc_id"], r["fp"]) for r in st.read(spark, SCHEMA).collect()
    )
    assert rows2 == rows
    st.write_batch(spark.createDataFrame([(9, "z")], SCHEMA), 1)
    rows3 = sorted(
        (r["doc_id"], r["fp"]) for r in st.read(spark, SCHEMA).collect()
    )
    assert rows3 == [(1, "a"), (2, "b"), (9, "z")]


# ---------------------------------------------------------------------------
# Compaction (round-7: bound the per-micro-batch small-file growth)
# ---------------------------------------------------------------------------


def _all_rows(spark, st):
    return sorted(
        (r["doc_id"], r["fp"]) for r in st.read(spark, SCHEMA).collect()
    )


def _batch_dir_count(st):
    return sum(1 for d in os.listdir(st.path) if d.startswith("batch="))


def _compacted_dir_count(st):
    return sum(1 for d in os.listdir(st.path) if d.startswith("compacted-"))


def test_compact_read_equivalence_and_bounded_partitions(spark, tmp_path):
    """100 synthetic micro-batches -> compact -> identical read, bounded
    partition count (the round-6 top item's done-bar)."""
    st = AppendIndexStore(str(tmp_path / "idx"))
    expect = []
    for b in range(100):
        rows = [(b * 10 + j, f"fp{b}-{j}") for j in range(2)]
        expect.extend(rows)
        st.write_batch(spark.createDataFrame(rows, SCHEMA), b)
    assert _batch_dir_count(st) == 100
    wm = st.compact(spark, SCHEMA, keep_recent=5)
    assert wm == 94
    assert _batch_dir_count(st) == 5
    assert _compacted_dir_count(st) == 1
    assert _all_rows(spark, st) == sorted(expect)
    # incremental: more batches, second compact folds the PRIOR
    # consolidated partition too — still exactly one compacted dir
    for b in range(100, 110):
        rows = [(b * 10, f"fp{b}-0")]
        expect.extend(rows)
        st.write_batch(spark.createDataFrame(rows, SCHEMA), b)
    assert st.compact(spark, SCHEMA, keep_recent=5) == 104
    assert _batch_dir_count(st) == 5
    assert _compacted_dir_count(st) == 1
    assert _all_rows(spark, st) == sorted(expect)
    # nothing new to fold -> no-op
    assert st.compact(spark, SCHEMA, keep_recent=5) is None


def test_replay_of_compacted_batch_is_noop(spark, tmp_path):
    """A restart replaying a batch BELOW the compaction watermark must
    not duplicate its rows: the rewritten batch dir is invisible."""
    st = AppendIndexStore(str(tmp_path / "idx"))
    for b in range(10):
        st.write_batch(spark.createDataFrame([(b, f"fp{b}")], SCHEMA), b)
    st.compact(spark, SCHEMA, keep_recent=2)
    before = _all_rows(spark, st)
    st.write_batch(spark.createDataFrame([(3, "fp3")], SCHEMA), 3)  # replay
    assert _all_rows(spark, st) == before
    assert st.compact(spark, SCHEMA, keep_recent=2) is None  # still folded


def test_crash_before_pointer_flip_leaves_old_view(spark, tmp_path, monkeypatch):
    """Compaction dies after writing the consolidated partition but
    BEFORE the manifest commit: readers keep the pre-compaction view,
    and a retried compaction converges."""
    st = AppendIndexStore(str(tmp_path / "idx"))
    for b in range(10):
        st.write_batch(spark.createDataFrame([(b, f"fp{b}")], SCHEMA), b)
    before = _all_rows(spark, st)

    _crash_manifest_commit(monkeypatch, st)
    with pytest.raises(RuntimeError):
        st.compact(spark, SCHEMA, keep_recent=2)
    assert _all_rows(spark, st) == before  # old manifest, dirs intact
    assert _batch_dir_count(st) == 10
    monkeypatch.undo()
    assert st.compact(spark, SCHEMA, keep_recent=2) == 7
    assert _all_rows(spark, st) == before
    assert _batch_dir_count(st) == 2


def test_crash_after_commit_before_cleanup_is_consistent(
    spark, tmp_path, monkeypatch
):
    """Compaction dies AFTER the manifest commit but before retiring the
    folded inputs: the leftover batch dirs are unnamed and ignored, and
    a replay of a folded batch mid-recovery stays invisible."""
    st = AppendIndexStore(str(tmp_path / "idx"))
    for b in range(10):
        st.write_batch(spark.createDataFrame([(b, f"fp{b}")], SCHEMA), b)
    before = _all_rows(spark, st)

    def boom(root, dirs):
        raise RuntimeError("crash after commit")

    monkeypatch.setattr(state_mod, "retire", boom)
    with pytest.raises(RuntimeError):
        st.compact(spark, SCHEMA, keep_recent=2)
    # committed: new view is live and EQUIVALENT despite leftovers
    assert _all_rows(spark, st) == before
    assert _batch_dir_count(st) == 10  # 8 unnamed leftovers + 2 live
    monkeypatch.undo()
    # replay of a folded batch mid-recovery stays invisible
    st.write_batch(spark.createDataFrame([(0, "fp0")], SCHEMA), 0)
    assert _all_rows(spark, st) == before


# ---------------------------------------------------------------------------
# Round-8: crash/replay-leftover reaping + external-reader consistency
# ---------------------------------------------------------------------------


def test_reap_below_watermark_replay_dirs(spark, tmp_path):
    """A replay of an already-folded batch writes nothing (the
    watermark makes it a no-op), and a leftover batch dir that no
    manifest names — a crashed write — is reaped by the next compaction
    sweep, even one with nothing to fold: no unbounded disk leak on
    crash-looping streams. Read equivalence holds throughout."""
    st = AppendIndexStore(str(tmp_path / "idx"), reap_grace_s=0.0)
    for b in range(10):
        st.write_batch(spark.createDataFrame([(b, f"fp{b}")], SCHEMA), b)
    st.compact(spark, SCHEMA, keep_recent=2)
    before = _all_rows(spark, st)
    st.write_batch(spark.createDataFrame([(3, "fp3")], SCHEMA), 3)  # replay
    assert _batch_dir_count(st) == 2  # the 2 live batches, nothing new
    spark.createDataFrame([(3, "fp3")], SCHEMA).write.parquet(
        os.path.join(st.path, "batch=3-crashed")
    )
    assert _batch_dir_count(st) == 3
    # no new batches to fold -> compact is a no-op for data, but its
    # leftover sweep still runs
    assert st.compact(spark, SCHEMA, keep_recent=2) is None
    assert _batch_dir_count(st) == 2
    assert _all_rows(spark, st) == before


def test_reap_orphan_compacted_and_stale_pointer_temps(spark, tmp_path):
    """A compaction that crashed before its manifest commit orphans its
    compacted-{nonce} dir; a crash inside the commit leaves a hidden
    manifest temp; a crash inside a retire leaves a hidden retired dir.
    All are reaped (age-gated) by the next sweep; the manifest-named
    compacted dir survives (round-7 advice item 1)."""
    st = AppendIndexStore(str(tmp_path / "idx"), reap_grace_s=0.0)
    for b in range(10):
        st.write_batch(spark.createDataFrame([(b, f"fp{b}")], SCHEMA), b)
    st.compact(spark, SCHEMA, keep_recent=2)
    before = _all_rows(spark, st)
    # simulate the three crash artifacts
    os.makedirs(os.path.join(st.path, "compacted-999"))
    os.makedirs(os.path.join(st.path, ".retired-batch=0-999"))
    with open(os.path.join(st.path, ".tmp-crashed"), "w") as fh:
        fh.write("{}")
    assert _compacted_dir_count(st) == 2
    assert st.compact(spark, SCHEMA, keep_recent=2) is None  # sweep only
    assert _compacted_dir_count(st) == 1  # only the manifest-named one
    assert not os.path.exists(os.path.join(st.path, ".tmp-crashed"))
    assert not os.path.exists(os.path.join(st.path, ".retired-batch=0-999"))
    assert _all_rows(spark, st) == before


def test_reap_respects_grace_period(spark, tmp_path):
    """With a non-zero grace, fresh leftovers — e.g. another process's
    in-flight batch dir or manifest temp — are NOT reaped (round-7
    advice item 2)."""
    st = AppendIndexStore(str(tmp_path / "idx"), reap_grace_s=3600.0)
    st.write_batch(spark.createDataFrame([(1, "a")], SCHEMA), 0)
    inflight = ["batch=7-inflight", ".tmp-batch-7-inflight"]
    for d in inflight:
        os.makedirs(os.path.join(st.path, d))
    st.compact(spark, SCHEMA, keep_recent=2)  # nothing to fold: sweep only
    for d in inflight:
        assert os.path.exists(os.path.join(st.path, d))


def test_concurrent_reader_during_rewrites_and_compaction(spark, tmp_path):
    """round-7 What's-wrong #1: a SECOND session reading while the owner
    rewrites/compacts must never observe a partial store. A reader
    thread loops read_consistent while the owner replays batch rewrites
    (each retires the dir it replaces) and compacts (which retires folded
    inputs under any reader that planned over them); every result must
    be the full row set, and no error may surface."""
    import threading

    st = AppendIndexStore(str(tmp_path / "idx"))
    expect = []
    for b in range(8):
        rows = [(b * 10 + j, f"fp{b}-{j}") for j in range(2)]
        expect.extend(rows)
        st.write_batch(spark.createDataFrame(rows, SCHEMA), b)
    expect = sorted(expect)

    stop = threading.Event()
    failures: list[str] = []

    def _reader():
        while not stop.is_set():
            got = st.read_consistent(
                spark,
                SCHEMA,
                lambda df: sorted(
                    (r["doc_id"], r["fp"]) for r in df.collect()
                ),
            )
            if got != expect:
                failures.append(f"partial snapshot: {len(got)} rows")
                return

    t = threading.Thread(target=_reader)
    t.start()
    try:
        # identical-row replays exercise the swap window; compactions
        # exercise folded-input deletion under a planned reader
        for round_ in range(6):
            for b in range(8):
                rows = [(b * 10 + j, f"fp{b}-{j}") for j in range(2)]
                st.write_batch(spark.createDataFrame(rows, SCHEMA), b)
            if round_ == 2:
                st.compact(spark, SCHEMA, keep_recent=3)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not failures, failures
    assert _all_rows(spark, st) == expect


def test_reader_never_binds_a_subset_when_compaction_lands_mid_read(
    spark, tmp_path, monkeypatch
):
    """A compaction that commits right after the reader has loaded the
    store's metadata and before it binds the data dirs retires dirs the
    reader is about to bind. The reader must then fail retryably and
    re-read, never return the surviving subset: ``read_consistent``
    returns all 16 rows. The compaction is injected through the store
    module's ``open``, so it lands after the first metadata read."""
    st = AppendIndexStore(str(tmp_path / "idx"))
    expect = []
    for b in range(8):
        rows = [(b * 10 + j, f"fp{b}-{j}") for j in range(2)]
        expect.extend(rows)
        st.write_batch(spark.createDataFrame(rows, SCHEMA), b)

    real_open = open
    fired: list[str] = []

    def open_then_compact(path, *args, **kwargs):
        if fired:
            return real_open(path, *args, **kwargs)
        fired.append(str(path))
        try:
            fh = real_open(path, *args, **kwargs)
        except OSError:
            st.compact(spark, SCHEMA, keep_recent=3)
            raise
        st.compact(spark, SCHEMA, keep_recent=3)
        return fh

    monkeypatch.setattr(state_mod, "open", open_then_compact, raising=False)
    got = st.read_consistent(
        spark,
        SCHEMA,
        lambda df: sorted((r["doc_id"], r["fp"]) for r in df.collect()),
    )
    monkeypatch.undo()
    assert fired, "the compaction was never injected"
    assert _compacted_dir_count(st) == 1 and _batch_dir_count(st) == 3
    assert got == sorted(expect), f"partial read: {len(got)} of {len(expect)} rows"


def test_write_batch_crash_leaves_target_untouched(spark, tmp_path, monkeypatch):
    """write_batch writes a fresh dir and only then commits the
    manifest: a crash before the commit leaves the previous batch
    partition fully readable (committer-v2 half-written files can never
    surface), and the retried write lands."""
    st = AppendIndexStore(str(tmp_path / "idx"))
    st.write_batch(spark.createDataFrame([(1, "a")], SCHEMA), 0)
    before = _all_rows(spark, st)

    _crash_manifest_commit(monkeypatch, st)
    with pytest.raises(RuntimeError):
        st.write_batch(spark.createDataFrame([(2, "b")], SCHEMA), 0)
    assert _all_rows(spark, st) == before
    monkeypatch.undo()
    st.write_batch(spark.createDataFrame([(2, "b")], SCHEMA), 0)
    assert _all_rows(spark, st) == [(2, "b")]
