"""Streaming DPO-pair construction (foreach_batch_dpo_pairs): the
single-batch run must equal the batch dpo_pair_construction query
row-for-row; replays must be idempotent at every crash point,
including a crashed manifest flip."""

from __future__ import annotations

import json
import os
import uuid

from atlassian_confluence_data_pipeline_spark.operators.state import (
    AppendIndexStore,
)
from atlassian_confluence_data_pipeline_spark.plans.preference import (
    _duel_frame,
    dpo_pair_construction,
)
from atlassian_confluence_data_pipeline_spark.sources.shard_sink import (
    MANIFEST,
    read_manifest,
)
from atlassian_confluence_data_pipeline_spark.streaming.jobs import (
    foreach_batch_dpo_pairs,
    read_dpo_pairs,
)

SF = "/root/testdata/sf0.001"
_SCHEMA = "id_a bigint, id_b bigint, s_a string, s_b string, winner string"


def _run(spark, tmp_path, batches, out_dir, checkpoint=None,
         weights_reader=None):
    drop = tmp_path / "drop"
    drop.mkdir(exist_ok=True)
    for i, rows in enumerate(batches):
        dest = drop / f"b{i}.parquet"
        if not dest.exists():
            spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(
                str(dest)
            )
    store = AppendIndexStore(str(tmp_path / "duel_state"))
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(drop) + "/*.parquet")
    )
    q = (
        foreach_batch_dpo_pairs(
            stream, store, str(out_dir), weights_reader=weights_reader
        )
        .option(
            "checkpointLocation",
            checkpoint or str(tmp_path / f"ck_{uuid.uuid4().hex[:6]}"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    return store


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_single_batch_equals_batch_query(spark, tmp_path):
    """Whole duel stream in ONE batch + the batch dedup weights ->
    byte-identical to dpo_pair_construction."""
    from atlassian_confluence_data_pipeline_spark.plans.curation import (
        dedup_aware_sample_weights,
    )

    duels = [
        (r.id_a, r.id_b, r.s_a, r.s_b, r.winner)
        for r in _duel_frame(spark, SF).collect()
    ]
    out = tmp_path / "dpo_pairs"
    _run(
        spark,
        tmp_path,
        [duels],
        out,
        weights_reader=lambda s: dedup_aware_sample_weights(s, SF).select(
            "doc_id", "weight"
        ),
    )
    got = _rows(
        read_dpo_pairs(spark, str(out)).select(
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_source",
            "rejected_source",
            "margin",
            "wilson_lb",
            "weight",
        )
    )
    want = _rows(dpo_pair_construction(spark, SF))
    assert got == want and len(got) > 0


def test_replay_idempotent_including_mid_flip_crash(spark, tmp_path):
    """Planted-preference replay: committed batches no-op; a crashed
    manifest flip (data dir present, manifest entry missing) is
    rebuilt in place on replay; row counts never double."""
    # planted duels: source A's docs always win; B vs C mixed
    duels = []
    for d in range(30):
        sa, sb = ("A", "B") if d % 2 == 0 else ("B", "C")
        duels.append((d, d + 100, sa, sb, sa))
        duels.append((d, d + 200, sa, "C", sa if d % 3 else "C"))
    batches = [duels[: len(duels) // 2], duels[len(duels) // 2 :]]
    out = tmp_path / "dpo_pairs"
    _run(spark, tmp_path, batches, out, checkpoint=str(tmp_path / "ck1"))
    committed = _rows(read_dpo_pairs(spark, str(out)))
    man_after = read_manifest(str(out))
    assert sorted(man_after["batches"]) == [0, 1]
    assert man_after["n_rows"] == len(committed) > 0

    # full replay against warm state (fresh checkpoint): every batch is
    # already committed -> manifest no-op, rows unchanged
    _run(spark, tmp_path, batches, out, checkpoint=str(tmp_path / "ck2"))
    assert _rows(read_dpo_pairs(spark, str(out))) == committed

    # simulate a MID-FLIP crash on batch 1: its data dir exists but the
    # manifest never flipped — restore the pre-flip manifest state
    dir0, dir1 = man_after["dirs"]
    assert dir0.startswith("batch-0-") and dir1.startswith("batch-1-")
    man_crashed = dict(man_after)
    man_crashed["batches"] = [0]
    man_crashed["dirs"] = [dir0]
    n_b1 = spark.read.parquet(str(out / dir1)).count()
    man_crashed["n_rows"] = man_after["n_rows"] - n_b1
    with open(out / MANIFEST, "w") as fh:
        json.dump(man_crashed, fh)
    assert os.path.isdir(out / dir1)  # the orphan survives
    # the orphan is INVISIBLE through the manifest reader
    assert len(_rows(read_dpo_pairs(spark, str(out)))) == len(committed) - n_b1

    # replay batch 1 (fresh checkpoint): batch 1 is rebuilt into a fresh
    # dir, the manifest commits, and the result equals pre-crash state
    _run(spark, tmp_path, batches, out, checkpoint=str(tmp_path / "ck3"))
    assert _rows(read_dpo_pairs(spark, str(out))) == committed
    man_final = read_manifest(str(out))
    assert sorted(man_final["batches"]) == [0, 1]
    assert man_final["n_rows"] == len(committed)
