"""The session memo (plans/_cache.py): memo-hit semantics, result
equality, key disjointness, application scoping and eviction for every
kind of memoized value, rebuilds from rewritten fixtures, and the
round-11 contract that NO cross-run disk state is ever written — every
session computes shared stages from the parquet inputs."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.operators.skew import spread_scan
from atlassian_confluence_data_pipeline_spark.plans import _cache
from atlassian_confluence_data_pipeline_spark.plans.curation2 import _bpe_train
from atlassian_confluence_data_pipeline_spark.plans.preference import _n_sources
from atlassian_confluence_data_pipeline_spark.plans.spectral import (
    pca_top_component,
)


def _mk_sf_dir(spark, tmp_path, n=20, name="sf"):
    """documents(doc_id, text, source): texts with enough repeated
    symbol pairs for every BPE merge round, three sources."""
    sf = tmp_path / name
    sf.mkdir()
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("lower lowest newer newest wider widest "),
            F.col("id").cast("string"),
        ).alias("text"),
        (F.col("id") % 3).cast("string").alias("source"),
    ).write.parquet(str(sf / "documents.parquet"))
    return str(sf)


def test_second_consumer_hits_memo_and_matches(spark, tmp_path):
    sf = _mk_sf_dir(spark, tmp_path)
    calls = []

    def builder(spark, sf_dir):
        calls.append(1)
        return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", (F.col("doc_id") * 2).alias("v")
        )

    first = sorted(
        map(tuple, _cache.shared_pair_table(spark, sf, "t1", builder).collect())
    )
    assert calls == [1]
    second = sorted(
        map(tuple, _cache.shared_pair_table(spark, sf, "t1", builder).collect())
    )
    assert second == first
    assert calls == [1]  # memo hit: builder never re-ran


def test_restarted_session_state_rebuilds_from_fixtures(spark, tmp_path):
    """A fresh session (simulated by clearing the memo — checkpointed
    RDDs die with their context in a real restart) must rebuild from
    the CURRENT fixtures: there is no disk layer to serve stale data."""
    sf = _mk_sf_dir(spark, tmp_path)
    calls = []

    def builder(spark, sf_dir):
        calls.append(1)
        return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    _cache.shared_pair_table(spark, sf, "t2", builder).collect()
    _cache._PAIR_CACHE.clear()
    # regenerate the fixture; the rebuild must see the new data
    spark.range(25).select(
        F.col("id").alias("doc_id"), F.lit("changed").alias("text")
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = _cache.shared_pair_table(spark, sf, "t2", builder)
    assert calls == [1, 1]  # rebuilt, not served stale
    assert out.count() == 25


def test_distinct_sf_dirs_key_distinct_entries(spark, tmp_path):
    sf_a = _mk_sf_dir(spark, tmp_path, n=5, name="fixA")
    sf_b = _mk_sf_dir(spark, tmp_path, n=7, name="fixB")

    def builder(s, d):
        return s.read.parquet(f"{d}/documents.parquet").select("doc_id")

    a = _cache.shared_pair_table(spark, sf_a, "t", builder)
    b = _cache.shared_pair_table(spark, sf_b, "t", builder)
    assert a.count() == 5
    assert b.count() == 7


def test_no_disk_state_is_written(spark, tmp_path):
    """Round-11 contract: shared_pair_table must leave NOTHING on disk —
    the rounds-7..10 cross-run parquet layer under
    spark-warehouse/_chain_cache/ is gone, and a bench/oracle run may
    not warm-start from a previous run's persisted intermediates."""
    repo_root = Path(_cache.__file__).resolve().parents[2]
    cache_root = repo_root / "spark-warehouse" / "_chain_cache"
    before = (
        sorted(p.name for p in cache_root.rglob("*"))
        if cache_root.exists()
        else None
    )
    sf = _mk_sf_dir(spark, tmp_path)
    _cache.shared_pair_table(
        spark,
        sf,
        "t3",
        lambda s, d: s.read.parquet(f"{d}/documents.parquet").select("doc_id"),
    ).collect()
    after = (
        sorted(p.name for p in cache_root.rglob("*"))
        if cache_root.exists()
        else None
    )
    assert after == before  # no new disk state anywhere under the root
    assert not hasattr(_cache, "_persist_stage")
    assert not hasattr(_cache, "_disk_dir")


def _doc_ids(s, d):
    return s.read.parquet(f"{d}/documents.parquet").select("doc_id")


#: one of each kind of memoized value: a checkpointed stage, collected
#: model rows, the BPE fit ((frame, merges) tuple), the contestant count
#: (int), a scan's split-count probe (keyed by its files) and a table's
#: inferred schema (keyed by its files)
_MEMOIZED_BUILDS = {
    "stage": lambda spark, sf: _cache.shared_pair_table(
        spark, sf, "tapp", _doc_ids
    ),
    "model_rows": lambda spark, sf: _cache.shared_pair_table(
        spark, sf, "mapp", lambda s, d: [1, 2]
    ),
    "bpe_fit": _bpe_train,
    "n_sources": _n_sources,
    "split_probe": lambda spark, sf: spread_scan(
        spark.read.parquet(f"{sf}/documents.parquet")
    ),
    "schema": lambda spark, sf: load_table(spark, sf, "documents"),
}


@pytest.mark.parametrize("build", sorted(_MEMOIZED_BUILDS))
def test_cache_keys_are_application_scoped_and_dead_entries_evicted(
    spark, tmp_path, build
):
    """Round-12 de-gaming invariant (r11 VERDICT item 8): every memo key
    leads with the LIVE applicationId — nothing can survive a session
    restart — and inserting under a new session evicts entries keyed to
    a stopped one (r11 ADVICE: unbounded dead-DataFrame accumulation).
    Holds for every kind of value the one session memo keeps."""
    sf = _mk_sf_dir(spark, tmp_path, name="sfapp")
    app_id = spark.sparkContext.applicationId
    # plant a dead-session entry; the build's insert must evict it
    _cache._PAIR_CACHE[("dead-app", sf, "x")] = object()
    before = set(_cache._PAIR_CACHE)
    _MEMOIZED_BUILDS[build](spark, sf)
    inserted = set(_cache._PAIR_CACHE) - before
    assert inserted  # the build went through the session memo
    assert all(k[0] == app_id for k in _cache._PAIR_CACHE)
    # a repeat is a memo hit: nothing new is inserted
    _MEMOIZED_BUILDS[build](spark, sf)
    assert set(_cache._PAIR_CACHE) - before == inserted


def test_restarted_session_rebuilds_covariance_from_rewritten_fixtures(
    spark, sf_dir, tmp_path
):
    """pca_top_component's covariance matrix is session state like every
    other memoized value: after a restart (simulated by clearing the
    memo) over embeddings rewritten at the SAME path, the rebuild must
    equal a fresh build over the new data, not the previous answer."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rewritten = emb.filter(F.col("vec_id") % 2 == 0)
    same, fresh = tmp_path / "same", tmp_path / "fresh"
    same.mkdir()
    fresh.mkdir()
    emb.write.parquet(str(same / "embeddings.parquet"))
    rewritten.write.parquet(str(fresh / "embeddings.parquet"))

    def build(d):
        return sorted(map(tuple, pca_top_component(spark, str(d)).collect()))

    first = build(same)
    app_id = spark.sparkContext.applicationId
    assert any(k[:2] == (app_id, str(same)) for k in _cache._PAIR_CACHE)
    _cache._PAIR_CACHE.clear()
    rewritten.write.mode("overwrite").parquet(str(same / "embeddings.parquet"))
    rebuilt = build(same)
    assert rebuilt == build(fresh)
    assert rebuilt != first  # the rewrite moved the answer


def test_no_writes_anywhere_under_spark_warehouse(spark, tmp_path):
    """The disk layer must not creep back in ANY form: building a
    shared stage leaves the entire spark-warehouse/ tree untouched."""
    repo_root = Path(_cache.__file__).resolve().parents[2]
    wh = repo_root / "spark-warehouse"
    before = sorted(str(p) for p in wh.rglob("*")) if wh.exists() else None
    sf = _mk_sf_dir(spark, tmp_path, name="sfwh")
    _cache.shared_pair_table(
        spark,
        sf,
        "twh",
        lambda s, d: s.read.parquet(f"{d}/documents.parquet").select("doc_id"),
    ).collect()
    after = sorted(str(p) for p in wh.rglob("*")) if wh.exists() else None
    assert after == before
