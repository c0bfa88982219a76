"""Inverted n-gram index materialization — the decontamination-probe
SINK: one posting row per (distinct 3-word shingle hash, document),
written as ``bucket=N/`` partitioned parquet behind one atomic manifest
(the commit protocol of operators/state.py).

Why it exists: at 100 TB, "does this benchmark sentence appear in the
corpus?" must not be a corpus scan. With postings bucketed by
``h % n_buckets``, a probe set of shingle hashes reads ONLY its bucket
directories (static partition pruning on the bucket column) and
answers membership with one small equi-join — the offline index behind
decontaminate_overlap's online form.

Commit protocol: write a fresh ``data-{nonce}`` dir, read its bytes
back for the manifest's bucket/posting counts, publish with one atomic
manifest replace naming it; the superseded dir is retired after the
replace, and unnamed leftovers (crashed runs, a concurrent run's
in-flight dir) are reaped only once older than ``REAP_GRACE_S``.
Replays are idempotent (the index is a deterministic function of the
fixtures).

Reference analog: the reference's state index keyed by page id
(utilities/state_manager.py:60-99) generalized to a content-keyed
posting index.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.operators.state import (
    fresh_name,
    load_manifest,
    publish,
    reap,
)

MANIFEST = "MANIFEST.json"

#: posting buckets — the unit of probe-side partition pruning
N_BUCKETS = 64


def materialize_ngram_index(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_buckets: int = N_BUCKETS,
) -> dict:
    """Build and atomically publish the inverted shingle index under
    ``out_path``. Returns the committed manifest dict.

    Written columns: bucket (= h % n_buckets, the partition key),
    h (the 3-shingle rolling hash), doc_id. Scale shape: the posting
    list is the session-shared exploded-shingle stage (one corpus fold,
    narrow bigints); the write is one partitioned parquet job; the
    manifest rollup is one aggregate over the written files."""
    from atlassian_confluence_data_pipeline_spark.plans.curation6 import (
        _exploded_shingles,
    )

    os.makedirs(out_path, exist_ok=True)
    name = fresh_name("data-")
    data_dir = os.path.join(out_path, name)
    postings = _exploded_shingles(spark, sf_dir).select(
        (F.col("h") % n_buckets).cast("int").alias("bucket"),
        "h",
        "doc_id",
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(data_dir)

    stats = spark.read.parquet(data_dir).agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("h").alias("n_ngrams"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("bucket").alias("n_buckets_present"),
    ).collect()[0]

    manifest = {
        "data_dir": name,
        "n_buckets": n_buckets,
        "n_postings": int(stats["n_postings"]),
        "n_ngrams": int(stats["n_ngrams"]),
        "n_docs": int(stats["n_docs"]),
        "n_buckets_present": int(stats["n_buckets_present"]),
        "committed_at": time.time(),
    }
    prior = load_manifest(out_path, MANIFEST) or {}
    retired = [prior["data_dir"]] if "data_dir" in prior else []
    publish(out_path, MANIFEST, manifest, retired)
    reap(out_path, [name], ("data-",))
    return manifest


def read_ngram_index(spark: SparkSession, out_path: str) -> DataFrame:
    """The committed view: read the manifest, then the data dir it
    names — never an unnamed, possibly half-written dir."""
    manifest = load_manifest(out_path, MANIFEST)
    if manifest is None:
        raise FileNotFoundError(f"no committed n-gram index under {out_path}")
    return spark.read.parquet(
        os.path.join(out_path, manifest["data_dir"])
    )


def probe_ngram_index(
    spark: SparkSession,
    out_path: str,
    probe_docs: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Decontamination probe: shingle the probe docs with the SAME
    portable hash family, then join ONLY the buckets the probe hashes
    land in (an IN-list filter on the partition column — static
    partition pruning, so a 10-shingle probe touches at most 10 of the
    ``n_buckets`` directories, never the whole index). Returns
    (probe_id, doc_id, n_shared) — corpus documents sharing at least
    one shingle with each probe."""
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        shingle_hashes_from_word_hashes,
        word_hashes,
    )

    probe = (
        word_hashes(probe_docs)
        .select(
            "probe_id",
            F.explode(
                shingle_hashes_from_word_hashes(F.col("wh"))
            ).alias("h"),
        )
        .select("probe_id", "h", (F.col("h") % n_buckets).cast("int").alias("bucket"))
    )
    # bounded collect: one int per probe shingle bucket (<= n_buckets)
    buckets = [
        r["bucket"] for r in probe.select("bucket").distinct().collect()
    ]
    index = read_ngram_index(spark, out_path).filter(
        F.col("bucket").isin(buckets)
    )
    return (
        probe.join(index, ["bucket", "h"])
        .groupBy("probe_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
