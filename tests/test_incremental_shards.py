"""Incremental curated-shard maintenance (round-9 item 3): the
streaming curation job composed with the shard appender must produce a
corpus equal to the one-batch build (manifest counts AND rows), stay
idempotent under full replay, and survive a crash mid-flip."""

from __future__ import annotations

import os
import uuid

import pytest

from atlassian_confluence_data_pipeline_spark.operators.state import (
    AppendIndexStore,
    StateStore,
)
from atlassian_confluence_data_pipeline_spark.sources.shard_sink import (
    append_shard_batch,
    read_incremental_shards,
    read_manifest,
)
from atlassian_confluence_data_pipeline_spark.streaming.jobs import (
    foreach_batch_curated_shards,
)

BASE = " ".join(f"w{i:02d}" for i in range(1, 21))
NEAR_OF_BASE = BASE.replace("w10", "x10")
DUP = "apple banana cherry date elderberry fig grape honeydew"

#: doc_id-ordered arrivals (the job's equivalence contract); doc 2 is
#: gated (too short), docs 3 (near-dup of 1) and 11 (exact dup of 10)
#: are rejected -> accepted = 1, 10, 20, 30
BATCHES = [
    [(1, BASE), (2, "too short"), (10, DUP)],
    [(3, NEAR_OF_BASE), (11, DUP), (20, "red orange yellow green blue indigo violet gray")],
    [(30, "north south east west up down left right in out")],
]

#: tiny windows so the chop arithmetic is exercised (docs are 8-20 toks)
CTX = 16

_SHARD_COLS = ("shard_id", "doc_id", "tok", "shard_cum", "window_id", "split")


def _run_stream(spark, tmp_path, tag, files, out_path, checkpoint=None):
    drop = tmp_path / f"drop_{tag}"
    drop.mkdir(exist_ok=True)
    for i, rows in files:
        dest = drop / f"batch{i}.parquet"
        if not dest.exists():
            spark.createDataFrame(rows, "doc_id bigint, text string") \
                .coalesce(1).write.parquet(str(dest))
    stores = (
        StateStore(str(tmp_path / f"ledger_{tag}")),
        AppendIndexStore(str(tmp_path / f"seen_{tag}")),
        AppendIndexStore(str(tmp_path / f"index_{tag}")),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(drop) + "/*.parquet")
    )
    q = (
        foreach_batch_curated_shards(
            stream, *stores, str(tmp_path / f"pairs_{tag}"), out_path,
            gate_min_words=5, jaccard=0.6, ctx_tokens=CTX,
        )
        .option(
            "checkpointLocation",
            checkpoint or str(tmp_path / f"ck_{tag}_{uuid.uuid4().hex[:6]}"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return stores


def _rows(spark, out_path):
    return sorted(
        tuple(r[c] for c in _SHARD_COLS)
        for r in read_incremental_shards(spark, out_path)
        .select(*_SHARD_COLS)
        .collect()
    )


def _counts(man):
    return {
        k: man[k]
        for k in ("n_docs", "n_tokens", "n_windows", "n_chopped", "shards")
    }


def test_incremental_equals_one_batch_build(spark, tmp_path):
    # incremental: three triggers with a kill/restart between each
    inc_out = str(tmp_path / "inc")
    ck = str(tmp_path / "ck_inc")
    files = [(i + 1, b) for i, b in enumerate(BATCHES)]
    for upto in range(1, len(files) + 1):
        _run_stream(spark, tmp_path, "i", files[:upto], inc_out, checkpoint=ck)

    # reference: the same rows as ONE micro-batch, fresh everything
    ref_out = str(tmp_path / "ref")
    _run_stream(
        spark, tmp_path, "ref",
        [(1, [r for b in BATCHES for r in b])], ref_out,
    )

    inc_man, ref_man = read_manifest(inc_out), read_manifest(ref_out)
    assert _counts(inc_man) == _counts(ref_man)
    assert inc_man["n_docs"] == 4  # 1, 10, 20, 30
    assert _rows(spark, inc_out) == _rows(spark, ref_out)

    # and the packing agrees with the batch operator over the same docs
    from atlassian_confluence_data_pipeline_spark.plans.curation8 import (
        shard_packed_frame,
    )
    from pyspark.sql import functions as F

    accepted = [(d, t) for b in BATCHES for (d, t) in b if d in (1, 10, 20, 30)]
    t = spark.createDataFrame(accepted, "doc_id bigint, text string").select(
        "doc_id",
        "text",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("tok"),
    )
    win = F.expr(f"(shard_cum - tok) DIV {CTX}")
    endw = F.expr(f"(shard_cum - 1) DIV {CTX}")
    direct = sorted(
        tuple(r[c] for c in _SHARD_COLS)
        for r in shard_packed_frame(t)
        .withColumn("window_id", win)
        .withColumn("split", F.when(endw > win, 1).otherwise(0))
        .select(*_SHARD_COLS)
        .collect()
    )
    assert _rows(spark, inc_out) == direct


def test_incremental_full_replay_is_noop(spark, tmp_path):
    inc_out = str(tmp_path / "inc")
    files = [(i + 1, b) for i, b in enumerate(BATCHES)]
    _run_stream(spark, tmp_path, "r", files, inc_out,
                checkpoint=str(tmp_path / "ck1"))
    man_before = read_manifest(inc_out)
    rows_before = _rows(spark, inc_out)
    # fresh checkpoint -> every batch reprocessed against warm state
    _run_stream(spark, tmp_path, "r", files, inc_out,
                checkpoint=str(tmp_path / "ck2"))
    assert read_manifest(inc_out) == man_before
    assert _rows(spark, inc_out) == rows_before


def test_crash_mid_flip_recovers(spark, tmp_path, monkeypatch):
    """Crash AFTER the batch data dir is written but BEFORE the
    manifest commit: the orphan dir is invisible to readers, and
    re-running the batch rebuilds it and commits."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "out")

    def df(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string").select(
            "doc_id", "text",
            F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("tok"),
        )

    append_shard_batch(spark, df([(1, BASE)]), out, 0, ctx_tokens=CTX)
    man0 = read_manifest(out)
    rows0 = _rows(spark, out)

    import atlassian_confluence_data_pipeline_spark.sources.shard_sink as ss

    real_replace = os.replace

    def exploding_replace(src, dst):
        if os.path.basename(dst) == ss.MANIFEST:
            raise OSError("simulated crash mid-flip")
        return real_replace(src, dst)

    monkeypatch.setattr(ss.os, "replace", exploding_replace)
    with pytest.raises(OSError, match="mid-flip"):
        append_shard_batch(spark, df([(10, DUP)]), out, 1, ctx_tokens=CTX)
    monkeypatch.undo()

    # the orphan batch-1 dir exists but is invisible behind the manifest
    orphans = [d for d in os.listdir(out) if d.startswith("batch-1-")]
    assert len(orphans) == 1 and orphans[0] not in man0["dirs"]
    assert read_manifest(out) == man0
    assert _rows(spark, out) == rows0

    # replay of batch 1 rebuilds the orphan and commits
    man1 = append_shard_batch(spark, df([(10, DUP)]), out, 1, ctx_tokens=CTX)
    assert man1["batches"] == [0, 1]
    assert man1["n_docs"] == 2
    rows1 = _rows(spark, out)
    assert len(rows1) == 2
    # committed replay is a strict no-op
    assert append_shard_batch(spark, df([(10, DUP)]), out, 1, ctx_tokens=CTX) == man1
    assert _rows(spark, out) == rows1
