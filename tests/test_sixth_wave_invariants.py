"""Structural invariants of the sixth-wave operators (TPC-H wave 3 +
curation wave 6) — properties the row-hash oracle parity can't
articulate (ordering, bounds, discriminative direction), checked at the
test scale factor."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.plans import QUERIES


def test_returned_item_customers_is_sorted_topk(spark, sf_dir):
    rows = QUERIES["returned_item_customers"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_min_cost_supplier_unique_winner_and_cost_range(spark, sf_dir):
    df = QUERIES["min_cost_supplier"].fn(spark, sf_dir)
    # one winner per part, and the modeled cost stays in [50.00, 69.99]
    assert df.groupBy("p_partkey").count().filter(F.col("count") > 1).count() == 0
    assert (
        df.filter((F.col("supply_cost") < 50.0) | (F.col("supply_cost") > 69.99)).count()
        == 0
    )


def test_forecast_revenue_change_positive_and_consistent(spark, sf_dir):
    row = QUERIES["forecast_revenue_change"].fn(spark, sf_dir).first()
    assert row["n_lines"] > 0
    assert row["revenue_delta"] > 0


def test_excess_stock_suppliers_distinct(spark, sf_dir):
    df = QUERIES["excess_stock_suppliers"].fn(spark, sf_dir)
    assert df.count() == df.select("s_suppkey").distinct().count()


def test_dsir_weights_favor_target_language(spark, sf_dir):
    """The whole point of DSIR: documents from the target slice must
    score higher on average than the rest of the corpus."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table

    w = QUERIES["dsir_importance_weights"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    by_side = (
        w.join(docs, "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_target"))
        .agg(F.avg(F.col("dsir_weight") / F.col("n_tokens")).alias("mean_w"))
        .collect()
    )
    means = {r["is_target"]: r["mean_w"] for r in by_side}
    assert means[True] > means[False]


def test_linear_classifier_decision_matches_logit(spark, sf_dir):
    df = QUERIES["linear_quality_classifier"].fn(spark, sf_dir)
    bad = df.filter(
        (F.col("predicted_keep") == 1) != (F.col("quality_logit") > 0)
    ).count()
    assert bad == 0
    # mean of per-token weights in [-0.5, 0.5) stays in that band
    assert df.filter(F.abs(F.col("quality_logit")) > 0.5).count() == 0


def test_word_entropy_bounds(spark, sf_dir):
    rows = QUERIES["word_entropy_scores"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        cap = math.log2(r["n_distinct"]) if r["n_distinct"] > 1 else 0.0
        assert -1e-6 <= r["entropy_bits"] <= cap + 1e-6
        assert 0.0 < r["ttr"] <= 1.0
        if r["n_distinct"] == 1:
            assert r["entropy_bits"] == 0.0


def test_shingle_df_spectrum_accounts_for_all_postings(spark, sf_dir):
    """sum(df * n_shingles) over the spectrum = total (shingle, doc)
    postings; sum(n_shingles) = distinct shingles in the corpus."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        shingle_hashes_from_word_hashes,
        word_hashes,
    )

    spec = QUERIES["shingle_df_spectrum"].fn(spark, sf_dir)
    got = spec.agg(
        F.sum(F.col("df") * F.col("n_shingles")).alias("postings"),
        F.sum("n_shingles").alias("distinct_shingles"),
    ).first()

    docs = load_table(spark, sf_dir, "documents")
    posting = word_hashes(docs).select(
        "doc_id", F.explode(shingle_hashes_from_word_hashes(F.col("wh"))).alias("h")
    )
    assert got["postings"] == posting.count()
    assert got["distinct_shingles"] == posting.select("h").distinct().count()


def test_knn_graph_ranks_contiguous_and_cos_monotone(spark, sf_dir):
    df = QUERIES["knn_graph_lsh"].fn(spark, sf_dir)
    per_src = df.groupBy("src").agg(
        F.min("rank").alias("lo"),
        F.max("rank").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    assert per_src.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0
    assert per_src.filter(F.col("n") > 3).count() == 0
    assert df.filter((F.col("cos") < -1.000001) | (F.col("cos") > 1.000001)).count() == 0
    # cosine non-increasing along each src's rank order
    prev = df.select(
        "src", "rank", F.col("cos").alias("c1")
    )
    nxt = df.select(
        "src", (F.col("rank") - 1).alias("rank"), F.col("cos").alias("c2")
    )
    assert prev.join(nxt, ["src", "rank"]).filter(F.col("c2") > F.col("c1")).count() == 0


def test_minhash_calibration_estimates_are_gridded_and_close(spark, sf_dir):
    rows = QUERIES["minhash_estimate_calibration"].fn(spark, sf_dir).collect()
    assert rows  # banded LSH yields candidates at every fixture SF
    for r in rows:
        # estimates are multiples of 1/32 in [0, 1]
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert abs(r["est_jaccard"] * 32 - round(r["est_jaccard"] * 32)) < 1e-4
        assert 0.0 < r["jaccard"] <= 1.0
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["jaccard"])) < 1e-5
    # k=32 signatures: binomial std <= 0.09, so the mean error over
    # candidates should sit well under 0.15
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err < 0.15
