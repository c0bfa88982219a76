"""Inverted n-gram index sink (sources/ngram_index_sink.py): atomic
publish, manifest-describes-bytes, replay idempotence, and the
partition-pruned decontamination probe."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.sources.ngram_index_sink import (
    MANIFEST,
    materialize_ngram_index,
    probe_ngram_index,
    read_ngram_index,
)

SF = "/root/testdata/sf0.001"


def test_manifest_matches_committed_bytes(spark, tmp_path):
    out = str(tmp_path / "idx")
    manifest = materialize_ngram_index(spark, SF, out)
    idx = read_ngram_index(spark, out)
    assert idx.count() == manifest["n_postings"]
    assert idx.select("h").distinct().count() == manifest["n_ngrams"]
    assert idx.select("doc_id").distinct().count() == manifest["n_docs"]
    # partition layout: bucket dirs under the committed data dir
    data = os.path.join(out, manifest["data_dir"])
    buckets = [d for d in os.listdir(data) if d.startswith("bucket=")]
    assert len(buckets) == manifest["n_buckets_present"]
    # the bucket column is consistent with the hash
    bad = idx.filter((F.col("h") % manifest["n_buckets"]) != F.col("bucket"))
    assert bad.count() == 0


def test_replay_idempotent_and_sweeps_superseded(spark, tmp_path):
    out = str(tmp_path / "idx")
    m1 = materialize_ngram_index(spark, SF, out)
    first = sorted(
        map(tuple, read_ngram_index(spark, out).collect())
    )
    m2 = materialize_ngram_index(spark, SF, out)
    second = sorted(
        map(tuple, read_ngram_index(spark, out).collect())
    )
    assert first == second
    assert m2["n_postings"] == m1["n_postings"]
    # exactly one data dir survives the second publish
    dirs = [d for d in os.listdir(out) if d.startswith("data-")]
    assert dirs == [m2["data_dir"]]
    assert not [d for d in os.listdir(out) if d.startswith(".tmp-")]
    with open(os.path.join(out, MANIFEST)) as fh:
        assert json.load(fh)["data_dir"] == m2["data_dir"]


def test_publish_spares_a_fresh_foreign_inflight_dir(spark, tmp_path):
    """Another run's in-flight write — a hidden staging dir or an
    unnamed data dir younger than the reap grace period — survives a
    publish; only the superseded, manifest-retired dir is removed."""
    out = str(tmp_path / "idx")
    m1 = materialize_ngram_index(spark, SF, out)
    foreign = [".tmp-data-inflight", "data-inflight"]
    for d in foreign:
        os.makedirs(os.path.join(out, d))
    m2 = materialize_ngram_index(spark, SF, out)
    for d in foreign:
        assert os.path.isdir(os.path.join(out, d)), d
    assert not os.path.exists(os.path.join(out, m1["data_dir"]))
    assert read_ngram_index(spark, out).count() == m2["n_postings"]


def test_probe_finds_exact_and_only_matching_docs(spark, tmp_path):
    out = str(tmp_path / "idx")
    materialize_ngram_index(spark, SF, out)
    # probe with a real document's text -> must hit that document with
    # ALL its shingles shared; a nonsense probe must hit nothing
    doc = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    probes = spark.createDataFrame(
        [
            (1, doc["text"]),
            (2, "qqq www eee rrr ttt yyy uuu iii ooo ppp zzz xxx"),
        ],
        "probe_id bigint, text string",
    )
    hits = probe_ngram_index(spark, out, probes).collect()
    by_probe = {}
    for r in hits:
        by_probe.setdefault(r["probe_id"], {})[r["doc_id"]] = r["n_shared"]
    assert doc["doc_id"] in by_probe.get(1, {})
    n_shingles = max(len(doc["text"].split()) - 2, 0)
    # the self-hit shares every distinct shingle of the document
    assert by_probe[1][doc["doc_id"]] >= 1
    assert 2 not in by_probe  # nonsense probe: zero corpus overlap
    assert n_shingles >= 1
