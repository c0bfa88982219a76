"""Round-10 ADVICE regression tests: empty-micro-batch shard append and
the conformal empty-calibration guard. (The fingerprint-freshness and
legacy-reap tests left with the chain cache's cross-run disk layer in
round 11.)"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.sources.shard_sink import (
    append_shard_batch,
    read_manifest,
)

CTX = 16
BASE = " ".join(f"w{i:02d}" for i in range(1, 21))


def _tok_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string").select(
        "doc_id",
        "text",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("tok"),
    )


def test_append_empty_batch_commits_and_noops(spark, tmp_path):
    """ADVICE (high): an all-rejected micro-batch must COMMIT (record
    its batch id, flip the manifest, write no data dir) instead of
    crashing on the zero-row partitioned staging read — which made
    every streaming replay crash-loop."""
    out = str(tmp_path / "out")
    empty = _tok_df(spark, [(1, BASE)]).filter("doc_id < 0")

    # empty FIRST batch: manifest created, no data dirs, no counts
    man0 = append_shard_batch(spark, empty, out, 0, ctx_tokens=CTX)
    assert man0["batches"] == [0]
    assert man0["dirs"] == []
    assert man0["n_docs"] == 0
    assert not [d for d in os.listdir(out) if d.startswith("batch-0")]
    assert read_manifest(out) == man0  # flip actually happened

    # replay of the committed empty batch is a strict no-op
    assert append_shard_batch(spark, empty, out, 0, ctx_tokens=CTX) == man0

    # the stream continues: a later non-empty batch appends normally
    man1 = append_shard_batch(
        spark, _tok_df(spark, [(10, BASE)]), out, 1, ctx_tokens=CTX
    )
    assert man1["batches"] == [0, 1]
    assert man1["n_docs"] == 1

    # and an empty batch AFTER data keeps all committed counts intact
    man2 = append_shard_batch(spark, empty, out, 2, ctx_tokens=CTX)
    assert man2["batches"] == [0, 1, 2]
    assert man2["n_docs"] == man1["n_docs"]
    assert man2["shards"] == man1["shards"]


def test_conformal_empty_calibration_yields_null_qhat(spark, tmp_path):
    """ADVICE (low): an empty hash-calibration split must yield NULL
    qhat and zero coverage (the oracle's scalar-subquery semantics),
    not a TypeError from int(None)."""
    from atlassian_confluence_data_pipeline_spark.functions.text import (
        rolling_hash,
    )
    from atlassian_confluence_data_pipeline_spark.plans.evals import (
        _CONF_SPLIT_MOD,
        conformal_length_calibration,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    # keep only doc_ids that hash OUT of the calibration split
    docs = (
        spark.range(1, 200)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("alpha beta gamma delta").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("wiki").alias("source"),
            F.lit(22).cast("bigint").alias("n_chars"),
        )
        .filter(rolling_hash(F.col("doc_id").cast("string")) % _CONF_SPLIT_MOD != 0)
        .limit(25)
    )
    assert docs.count() > 0
    docs.write.parquet(str(sf / "documents.parquet"))

    r = conformal_length_calibration(spark, str(sf)).collect()[0]
    assert r.n_calib == 0
    assert r.qhat is None
    assert r.n_test > 0
    assert r.coverage == 0.0


# (round-11: the fixture-fingerprint and legacy-reap tests were removed
# with the chain cache's cross-run disk layer — plans/_cache.py is
# session-scoped now and has no fingerprint or reaping machinery.)
