"""Curated-shard materialization sink (sources/shard_sink.py):
manifest-gated atomic publish, stat consistency with the oracle-checked
packing math, replay idempotence, and crash-leftover sweeping."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.operators.state import REAP_GRACE_S
from atlassian_confluence_data_pipeline_spark.plans.curation import (
    curated_survivor_docs,
)
from atlassian_confluence_data_pipeline_spark.plans.packing import CTX_TOKENS
from atlassian_confluence_data_pipeline_spark.sources.shard_sink import (
    MANIFEST,
    materialize_curated_shards,
    read_curated_shards,
    read_manifest,
)


def test_materialize_commits_consistent_manifest(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    man = materialize_curated_shards(spark, sf_dir, out)

    # the manifest IS the committed pointer
    assert read_manifest(out) == man
    df = read_curated_shards(spark, out)

    # row/token counts in the manifest match the bytes read back
    got = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("tok").alias("t")
    ).collect()[0]
    assert got["n"] == man["n_docs"] and got["t"] == man["n_tokens"]

    # survivor set matches the oracle-checked curation stage exactly
    surv = {
        r["doc_id"] for r in curated_survivor_docs(spark, sf_dir).collect()
    }
    assert {r["doc_id"] for r in df.collect()} == surv

    # per-shard packing accounting is internally consistent
    for sid, s in man["shards"].items():
        assert s["n_windows"] == (s["n_tokens"] + CTX_TOKENS - 1) // CTX_TOKENS
        assert 0 <= s["n_chopped"] <= s["n_docs"]
    assert man["n_docs"] == sum(s["n_docs"] for s in man["shards"].values())

    # shard-local prefix really is shard-local: max shard_cum == shard
    # token mass, and window ids stay inside the shard's window count
    per = {
        int(r["shard_id"]): r
        for r in df.groupBy("shard_id")
        .agg(F.max("shard_cum").alias("mx"), F.max("window_id").alias("mw"))
        .collect()
    }
    for sid, s in man["shards"].items():
        assert per[int(sid)]["mx"] == s["n_tokens"]
        assert per[int(sid)]["mw"] <= s["n_windows"] - 1


def test_replay_is_idempotent_and_sweeps_superseded(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    man1 = materialize_curated_shards(spark, sf_dir, out)
    rows1 = sorted(
        (r["shard_id"], r["doc_id"], r["shard_cum"], r["window_id"])
        for r in read_curated_shards(spark, out).collect()
    )
    man2 = materialize_curated_shards(spark, sf_dir, out)
    rows2 = sorted(
        (r["shard_id"], r["doc_id"], r["shard_cum"], r["window_id"])
        for r in read_curated_shards(spark, out).collect()
    )
    assert rows1 == rows2
    assert {k: v for k, v in man1.items() if k != "dir"} == {
        k: v for k, v in man2.items() if k != "dir"
    }
    # exactly one data dir remains; no staging leftovers
    dirs = [d for d in os.listdir(out) if d.startswith("data-")]
    assert dirs == [man2["dir"]]
    assert not [d for d in os.listdir(out) if d.startswith(".tmp-")]


def test_crashed_staging_never_visible_and_swept(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    os.makedirs(out)
    # a crashed prior run left staging behind and NO manifest; it is
    # older than the reap grace period, so the next publish sweeps it
    dead = os.path.join(out, ".tmp-data-dead")
    os.makedirs(dead)
    old = time.time() - 2 * REAP_GRACE_S
    os.utime(dead, (old, old))
    assert read_manifest(out) is None
    man = materialize_curated_shards(spark, sf_dir, out)
    assert not os.path.exists(os.path.join(out, ".tmp-data-dead"))
    # a torn manifest write is impossible (os.replace), but a reader
    # with the committed manifest always finds the named dir
    assert os.path.isdir(os.path.join(out, man["dir"]))
    with open(os.path.join(out, MANIFEST)) as fh:
        assert json.load(fh)["dir"] == man["dir"]
