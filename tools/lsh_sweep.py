#!/usr/bin/env python
"""MinHash LSH parameter sweep: wall time vs recall at sf0.1.

    python tools/lsh_sweep.py [--sf /root/testdata/sf0.1]

For each (k, bands) configuration: time the full candidates+verify
chain, and compute recall against the EXACT ground truth (all pairs
with true shingle-set Jaccard >= the query threshold, computed once by
brute force — feasible at sweep scale, impossible at 100 TB, which is
the point of LSH). Results are appended to SCALING.md by the caller.

The S-curve P(candidate) = 1 - (1 - j^r)^b explains the shape: more
bands with short rows catches low-similarity pairs (higher recall, more
candidate noise); longer rows sharpens the threshold.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from atlassian_confluence_data_pipeline_spark.catalog import load_table  # noqa: E402
from atlassian_confluence_data_pipeline_spark.operators.lsh import (  # noqa: E402
    lsh_band_candidates,
    minhash_signatures,
    shingle_hashes_from_word_hashes,
    verify_candidates_jaccard,
    word_hashes,
)
from atlassian_confluence_data_pipeline_spark.plans.multimodal import (  # noqa: E402
    MINHASH_JACCARD,
)
from atlassian_confluence_data_pipeline_spark.session import get_session  # noqa: E402

CONFIGS = [(16, 8), (32, 16), (32, 8), (64, 32), (64, 16)]  # (k, bands)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    spark = get_session("lsh-sweep", cpus=32)
    docs = load_table(spark, args.sf, "documents")
    hs = (
        word_hashes(docs)
        .select(
            "doc_id", shingle_hashes_from_word_hashes(F.col("wh")).alias("hs")
        )
        .localCheckpoint(eager=True)
        .filter(F.size("hs") > 0)
    )
    # exact ground truth: brute-force all-pairs Jaccard (sweep-scale only)
    a = hs.select(F.col("doc_id").alias("id_a"), F.col("hs").alias("__a"))
    b = hs.select(F.col("doc_id").alias("id_b"), F.col("hs").alias("__b"))
    inter = F.size(F.array_intersect("__a", "__b"))
    jac = inter.cast("double") / (F.size("__a") + F.size("__b") - inter)
    t0 = time.perf_counter()
    truth = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("j", jac)
        .filter(F.col("j") >= MINHASH_JACCARD)
        .select("id_a", "id_b", "j")
        .localCheckpoint(eager=True)
    )
    n_truth = truth.count()
    # the S-curve knee for (r=2, b=16) sits near j~0.2: recall above it
    # is the number that matters for dedup use (high-sim pairs)
    truth_hi = truth.filter(F.col("j") >= 0.2).localCheckpoint(eager=True)
    n_hi = truth_hi.count()
    print(
        f"ground truth: {n_truth} pairs with j >= {MINHASH_JACCARD},"
        f" {n_hi} with j >= 0.2"
        f" (brute force took {time.perf_counter() - t0:.1f}s)"
    )
    print(
        "| k | bands | rows | wall (s) | pairs found |"
        " recall@0.05 | recall@0.2 |"
    )
    print("|---|---|---|---|---|---|---|")
    for k, bands in CONFIGS:
        t0 = time.perf_counter()
        sig = minhash_signatures(hs, "doc_id", k=k).localCheckpoint(eager=True)
        cand = lsh_band_candidates(sig, "doc_id", bands, k // bands)
        found = verify_candidates_jaccard(
            cand, hs, "doc_id", "hs", threshold=MINHASH_JACCARD
        ).select("id_a", "id_b")
        n_found = found.count()
        wall = time.perf_counter() - t0
        found = found.localCheckpoint(eager=True)
        n_hit = found.join(truth, ["id_a", "id_b"], "left_semi").count()
        n_hit_hi = found.join(truth_hi, ["id_a", "id_b"], "left_semi").count()
        recall = n_hit / n_truth if n_truth else float("nan")
        recall_hi = n_hit_hi / n_hi if n_hi else float("nan")
        print(
            f"| {k} | {bands} | {k // bands} | {wall:.2f} |"
            f" {n_found} | {recall:.3f} | {recall_hi:.3f} |"
        )


if __name__ == "__main__":
    main()
