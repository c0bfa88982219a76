"""X6 scale patterns verified for correctness and plan shape: salted
aggregation/join equivalence on a skewed fixture, and bucketed tables
joining without a shuffle exchange."""

from __future__ import annotations

import io
import contextlib

from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.operators.skew import (
    salted_agg,
    salted_join_skewed,
    spread_scan,
)


def _skewed_df(spark):
    # 90% of rows share one hot key
    hot = spark.range(0, 9000).select(
        F.lit("HOT").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    cold = spark.range(0, 1000).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 31).cast("double").alias("v"),
    )
    return hot.unionByName(cold)


def test_salted_agg_matches_plain_agg(spark):
    df = _skewed_df(spark)
    plain = {
        (r["k"]): (r["n"], r["tot"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,6)")).alias("tot"),
        )
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["tot"])
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "tot": (
                    F.sum(F.col("v").cast("decimal(18,6)")),
                    F.sum("tot"),
                ),
            },
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain_join(spark):
    big = _skewed_df(spark)
    small = spark.createDataFrame(
        [("HOT", 1.5), ("c1", 2.0), ("c2", 3.0)], ["k", "w"]
    )
    plain = (
        big.join(small, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * F.col("w")).alias("s"))
    )
    salted = (
        salted_join_skewed(big, small, "k", hot_keys=["HOT"], n_salts=8)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * F.col("w")).alias("s"))
    )
    p = {r["k"]: (r["n"], round(r["s"], 6)) for r in plain.collect()}
    s = {r["k"]: (r["n"], round(r["s"], 6)) for r in salted.collect()}
    assert s == p


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketed copies of orders/customer co-locate the join: the plan
    must contain NO Exchange on the join keys (the 100 TB repeated-join
    pattern: pay the shuffle once at write time)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table

    warehouse = str(tmp_path / "wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{warehouse}'")
    try:
        load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).mode("overwrite").saveAsTable("bktest.orders_b")
        load_table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "o_custkey"
        ).write.bucketBy(8, "o_custkey").mode("overwrite").saveAsTable(
            "bktest.customer_b"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
        joined = spark.table("bktest.orders_b").join(
            spark.table("bktest.customer_b"), "o_custkey"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bktest.orders_b")
        spark.sql("DROP TABLE IF EXISTS bktest.customer_b")
        spark.sql("DROP DATABASE IF EXISTS bktest")


def test_pair_task_salt_exactness_on_hot_block(spark):
    """A deliberately hot block must produce IDENTICAL pairs through the
    salted pair-task grid, with the hot block's rows actually fanned out
    across tasks (and cold blocks left unreplicated)."""
    from atlassian_confluence_data_pipeline_spark.operators.skew import (
        hot_blocks,
        pair_task_salt,
    )

    n_salts, threshold = 4, 50
    # one hot block of 120 members, several cold blocks of 5
    rows = [(i, "HOT") for i in range(120)] + [
        (1000 + 10 * b + i, f"cold{b}") for b in range(6) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["id", "block"])
    hot = hot_blocks(df.select("block"), ["block"], threshold)
    assert [r["block"] for r in hot.collect()] == ["HOT"]

    left = df.select(F.col("id").alias("id_a"), "block")
    right = df.select(F.col("id").alias("id_b"), "block")
    plain = {
        (r["id_a"], r["id_b"])
        for r in left.join(right, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .collect()
    }
    sl = pair_task_salt(left, "id_a", hot, ["block"], n_salts, "left")
    sr = pair_task_salt(right, "id_b", hot, ["block"], n_salts, "right")
    salted = {
        (r["id_a"], r["id_b"])
        for r in sl.join(sr, ["block", "__u", "__v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .collect()
    }
    assert salted == plain  # exactly once per pair, none lost

    # replication shape: hot rows fan out n_salts times, cold rows once
    per_block = {
        r["block"]: r["n"]
        for r in sl.groupBy("block").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_block["HOT"] == 120 * n_salts
    assert all(v == 5 for k, v in per_block.items() if k != "HOT")
    # the hot block's pair space is spread over many tasks
    tasks = sl.filter(F.col("block") == "HOT").select("__u", "__v").distinct().count()
    assert tasks == n_salts * n_salts


def test_guarded_pair_frames_adaptive(spark):
    """The adaptive guard must pass inputs through untouched (plain
    keys, no extra plan nodes) when the census finds no hot block, and
    engage the pair-task grid when it does."""
    from atlassian_confluence_data_pipeline_spark.operators.skew import (
        guarded_pair_frames,
        hot_blocks,
    )

    rows = [(i, "b%d" % (i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "block"])
    left = df.select(F.col("id").alias("id_a"), "block")
    right = df.select(F.col("id").alias("id_b"), "block")

    cold_hot = hot_blocks(df.select("block"), ["block"], threshold=1000)
    gl, gr, keys = guarded_pair_frames(
        left, right, "id_a", "id_b", cold_hot, ["block"], 4
    )
    assert keys == ["block"]
    assert gl is left and gr is right  # untouched: zero plan overhead

    warm_hot = hot_blocks(df.select("block"), ["block"], threshold=5)
    gl, gr, keys = guarded_pair_frames(
        left, right, "id_a", "id_b", warm_hot, ["block"], 4
    )
    assert keys == ["block", "__u", "__v"]
    assert "__u" in gl.columns and "__v" in gr.columns


class TestConnectedComponents:
    """operators/graph.py — pairwise matches -> dedup groups."""

    def test_transitive_chain_collapses_to_one_component(self, spark):
        from atlassian_confluence_data_pipeline_spark.operators.graph import (
            connected_components,
        )

        # chain 1-2-3-4 (diameter 3, needs >1 propagation round) plus a
        # separate pair {10, 11}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "a bigint, b bigint"
        )
        out = {
            r.node: r.component
            for r in connected_components(pairs, "a", "b").collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_pair_order_irrelevant(self, spark):
        from atlassian_confluence_data_pipeline_spark.operators.graph import (
            connected_components,
        )

        # reversed/duplicated pairs resolve identically
        pairs = spark.createDataFrame(
            [(5, 2), (2, 5), (9, 5)], "a bigint, b bigint"
        )
        out = {
            r.node: r.component
            for r in connected_components(pairs, "a", "b").collect()
        }
        assert out == {2: 2, 5: 2, 9: 2}


class TestTopKPlanPruning:
    """The top-k queries claim scale safety on specific physical-plan
    shapes: per-group rank filters must compile to WindowGroupLimit
    (rank pushed into a per-map-partition group limit) and GLOBAL top-k
    must compile to TakeOrderedAndProject (per-task partial top-k,
    driver merge) — Spark 4.1 does NOT WindowGroupLimit-optimize an
    empty partition spec, so a global row_number window would be a
    single-partition full sort. A conf or version change could silently
    revert either; assert the nodes, like PLANS.md's pushdown
    evidence."""

    def _physical(self, spark, sf_dir, name):
        from atlassian_confluence_data_pipeline_spark.plans import QUERIES

        df = QUERIES[name].fn(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    def test_cosine_topk_has_window_group_limit(self, spark, sf_dir):
        assert "WindowGroupLimit" in self._physical(spark, sf_dir, "cosine_topk")

    def test_bm25_topk_is_take_ordered(self, spark, sf_dir):
        plan = self._physical(spark, sf_dir, "bm25_topk")
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan


class TestNarrowCentroidAssignment:
    """The round-3 k-means/IVF assignment contract: nearest-centroid
    assignment is a NARROW literal-fold map — no join, no window. The
    only Exchanges in a Lloyd step are the two mean-recompute hash
    aggregates; a regression to the broadcast-crossJoin + row_number
    form would re-introduce a BNLJ and a Window plus one more
    exchange per iteration."""

    def test_lloyd_step_plan_is_narrow(self, spark, sf_dir):
        from atlassian_confluence_data_pipeline_spark.plans import QUERIES

        df = QUERIES["kmeans_lloyd_step"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert " Window" not in plan
        # exactly the two mean-aggregate exchanges, nothing else
        assert plan.count("Exchange") == 2


def test_assign_nearest_centroid_matches_window_form(spark):
    """The literal-fold argmax must agree with the broadcast-crossJoin +
    row_number reference form on every row — including EXACT ties
    (duplicate centroids), where both must pick the smallest
    centroid_id."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.operators.similarity import (
        assign_nearest_centroid,
        cosine_similarity,
    )

    rng = random.Random(0xC3)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    cents = [(c, [rng.uniform(-1, 1) for _ in range(8)]) for c in range(4)]
    cents.append((4, list(cents[1][1])))  # duplicate of centroid 1 -> tie
    corpus = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_nearest_centroid(corpus, cents).collect()
    }
    cent_df = spark.createDataFrame(
        cents, "centroid_id int, centroid array<double>"
    )
    sim = cosine_similarity(F.col("embedding"), F.col("centroid"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__s").desc(), "centroid_id")
    want = {
        r["vec_id"]: r["centroid_id"]
        for r in corpus.crossJoin(F.broadcast(cent_df))
        .withColumn("__s", sim)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .collect()
    }
    assert got == want
    # ties resolved toward the smaller id: centroid 4 (the duplicate)
    # must never win over its twin, centroid 1
    assert 4 not in set(got.values())


class TestFourthWavePlanShapes:
    """Plan contracts for the fourth-wave queries: the vector maps must
    stay shuffle-free (a regression to per-centroid expression
    duplication or a join-based argmin would show up as Exchanges /
    BNLJ), and the interval self-join must stay a hash join on the
    bucketed key rather than a nested-loop range join."""

    def _physical(self, spark, sf_dir, name):
        from atlassian_confluence_data_pipeline_spark.plans import QUERIES

        df = QUERIES[name].fn(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    def test_pq_codes_plan_is_narrow(self, spark, sf_dir):
        plan = self._physical(spark, sf_dir, "pq_codes")
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_random_projection_plan_is_narrow(self, spark, sf_dir):
        plan = self._physical(spark, sf_dir, "random_projection_embed")
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_interval_join_is_hash_join(self, spark, sf_dir):
        plan = self._physical(spark, sf_dir, "error_click_interval_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert (
            "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan
        )


def test_grouped_distributed_rank_matches_plain_window(spark):
    from pyspark.sql import Window

    from atlassian_confluence_data_pipeline_spark.operators.windows import (
        grouped_distributed_rank,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 7).cast("string").alias("g"),
        # non-unique leading key (ties span range buckets), id tie-break
        (F.col("id") % 211).cast("bigint").alias("k"),
        F.col("id").alias("id"),
    )
    got = {
        (r["g"], r["id"]): r["rk"]
        for r in grouped_distributed_rank(
            df, ["g"], ["k", "id"], "rk", num_ranges=8
        ).collect()
    }
    want = {
        (r["g"], r["id"]): r["rk"]
        for r in df.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("g").orderBy("k", "id")),
        ).collect()
    }
    assert got == want


def test_grouped_distributed_rank_single_bucket(spark):
    from atlassian_confluence_data_pipeline_spark.operators.windows import (
        grouped_distributed_rank,
    )

    df = spark.range(0, 10).select(
        F.lit("g").alias("g"), F.col("id").alias("k")
    )
    rows = grouped_distributed_rank(
        df, ["g"], ["k"], "rk", num_ranges=1
    ).collect()
    assert sorted((r["k"], r["rk"]) for r in rows) == [
        (i, i + 1) for i in range(10)
    ]


def test_spread_scan_skips_columns_holding_nested_maps(spark, tmp_path):
    """xxhash64 rejects a MapType at any depth, so the spread key must
    leave out a struct<map>, array<map> or map column; the rows still
    spread over the cores and survive unchanged."""
    p = str(tmp_path / "nested.parquet")
    spark.range(200).select(
        "id",
        F.struct(F.create_map(F.lit("k"), F.col("id")).alias("m")).alias("s"),
        F.array(F.create_map(F.lit("k"), F.col("id"))).alias("a"),
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = spread_scan(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    got = sorted(
        (r["id"], r["s"]["m"]["k"], r["a"][0]["k"]) for r in out.collect()
    )
    assert got == [(i, i, i) for i in range(200)]
