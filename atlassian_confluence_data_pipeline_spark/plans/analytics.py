"""Extended analytics surface: as-of join, TF-IDF, fuzzy matching,
percentiles, grouping sets, pivot, range-frame windows, ranking
variants, array higher-order ops, approximate distinct, IVF ANN.

These widen the engine beyond the reference's own operator set into the
standard analytics surface SURVEY.md §2.4-2.5 marks ABSENT (the
reference has no ordering/ranking/percentiles at all) plus the
training-data operators from the driver's north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.operators.joins import (
    asof_join_backward,
)
from atlassian_confluence_data_pipeline_spark.plans._exact import DEC, dsum
from atlassian_confluence_data_pipeline_spark.plans.registry import query

# ---------------------------------------------------------------------------
# As-of join (custom operator — Spark lacks native ASOF)
# ---------------------------------------------------------------------------


@query(
    "asof_last_click",
    oracle="""
WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
       c.click_id AS asof_click_id, c.ts AS asof_click_ts
FROM purchases p ASOF JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    tags=("asof", "join", "events"),
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each purchase event gets the latest click
    of the same user at-or-before it — attribution's canonical shape.
    Implemented with the union/carry-forward operator (one shuffle per
    key, no range-join pair explosion); DuckDB checks it with a native
    ASOF JOIN. Click ties per (user, ts) are pre-aggregated so both
    engines pick deterministically."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", F.col("ts").alias("click_ts"), "click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = asof_join_backward(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        right_value_cols=["click_id", "click_ts"],
    )
    return joined.filter(F.col("asof_click_id").isNotNull()).select(
        "event_id",
        "user_id",
        "purchase_ts",
        "asof_click_id",
        F.col("asof_click_ts").alias("asof_click_ts"),
    )


# ---------------------------------------------------------------------------
# TF-IDF (X4 — the classic text-relevance pipeline, pure built-ins)
# ---------------------------------------------------------------------------


@query(
    "tfidf_top_terms",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
), df AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY 1
), n AS (SELECT count(*) AS n FROM documents)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
       round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (word) CROSS JOIN n
QUALIFY row_number() OVER (
  PARTITION BY doc_id ORDER BY tf * ln(CAST(n.n AS DOUBLE) / df.df) DESC, word
) <= 3
""",
    tags=("text", "tfidf", "window"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document: explode -> term frequencies ->
    document frequencies (broadcast back) -> tf*ln(N/df) -> per-doc
    ranking. Two HashAggregates + one broadcast join + one window; the
    N scalar comes from a distributed count, not a collect of data rows."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        doc_word_positions,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar cardinality (A3), computed distributed
    # session-staged token stream (round 11) — the per-build regex
    # split + explode was this query's scan cost
    words = doc_word_positions(spark, sf_dir).select("doc_id", "word")
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_t = words.distinct().groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(tfidf.desc(), F.col("word"))
    return (
        tf.join(F.broadcast(df_t), "word")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("doc_id", "word", F.col("tf").cast("bigint").alias("tf"),
                F.round(tfidf, 6).alias("tfidf"))
    )


# ---------------------------------------------------------------------------
# Fuzzy matching (levenshtein) — dedup-adjacent fuzzy key matching
# ---------------------------------------------------------------------------


@query(
    "similar_customer_names",
    oracle="""
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE a.c_custkey < 200 AND b.c_custkey < 200
  AND levenshtein(a.c_name, b.c_name) <= 1
""",
    tags=("text", "fuzzy", "join"),
)
def similar_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching with nation-key blocking (the same
    blocked-join scale pattern as near_dup_pairs; levenshtein runs only
    inside blocks, never all-pairs)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    a = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nk"),
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "nk")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(dist <= 1)
        .select("key_a", "key_b", dist.cast("int").alias("distance"))
    )


# ---------------------------------------------------------------------------
# Exact percentiles
# ---------------------------------------------------------------------------


@query(
    "order_price_percentiles",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       round(min(o_totalprice), 4) AS min_price,
       round(max(o_totalprice), 4) AS max_price
FROM orders GROUP BY 1
""",
    tags=("agg", "percentile"),
)
def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per group — the
    engine's exact-percentile aggregate (continuous interpolation, same
    definition as SQL percentile_cont)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Grouping sets (beyond cube/rollup) — SQL surface
# ---------------------------------------------------------------------------


@query(
    "grouping_sets_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    tags=("agg", "groupingsets", "sql"),
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the engine's SQL surface (Catalyst
    Expand node — one pass over the input for all three groupings)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Pivot
# ---------------------------------------------------------------------------

_YEARS = list(range(1995, 2002))


@query(
    "pivot_segment_year_revenue",
    oracle=f"""
SELECT c.c_mktsegment AS c_mktsegment,
  {", ".join(
    "round(CAST(sum(CASE WHEN year(o.o_orderdate) = %d THEN CAST(o.o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE), 2) AS y%d" % (y, y)
    for y in _YEARS
  )}
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1
""",
    tags=("agg", "pivot", "join"),
)
def pivot_segment_year_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue matrix segment x order-year, explicit pivot values
    (no extra distinct-values job; at scale always enumerate pivot
    columns)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment",
        F.year("o_orderdate").alias("yr"),
        F.col("o_totalprice").cast(DEC).alias("price"),
    )
    pivoted = (
        joined.groupBy("c_mktsegment")
        .pivot("yr", _YEARS)
        .agg(F.round(F.sum("price").cast("double"), 2))
    )
    return pivoted.select(
        "c_mktsegment", *[F.col(str(y)).alias(f"y{y}") for y in _YEARS]
    )


# ---------------------------------------------------------------------------
# Range-frame window (rolling 90-day revenue)
# ---------------------------------------------------------------------------


@query(
    "rolling_90d_revenue",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 2) AS rolling_rev
FROM orders
WHERE o_custkey < 300
""",
    tags=("window", "rangeframe"),
)
def rolling_90d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, the trailing-90-day revenue sum
    at each order. Value-based frames include date peers on both engines;
    the decimal inner sum keeps totals bit-identical."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    day_num = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_num)
        .rangeBetween(-90, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double"), 2).alias(
            "rolling_rev"
        ),
    )


# ---------------------------------------------------------------------------
# Ranking variants: dense_rank / ntile / percent_rank
# ---------------------------------------------------------------------------


@query(
    "customer_value_ranks",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(dense_rank() OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal DESC
       ) AS INT) AS bal_dense_rank,
       CAST(ntile(4) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
       ) AS INT) AS bal_quartile,
       round(percent_rank() OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal DESC
       ), 8) AS bal_pct_rank
FROM customer WHERE c_custkey < 500
""",
    tags=("window", "rank"),
)
def customer_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking family (dense_rank, ntile, percent_rank)
    over per-segment account-balance order (ntile tie-broken to a total
    order for determinism)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    by_bal = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    by_bal_total = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.dense_rank().over(by_bal).cast("int").alias("bal_dense_rank"),
        F.ntile(4).over(by_bal_total).cast("int").alias("bal_quartile"),
        F.round(F.percent_rank().over(by_bal), 8).alias("bal_pct_rank"),
    )


# ---------------------------------------------------------------------------
# Higher-order array functions over embeddings
# ---------------------------------------------------------------------------


@query(
    "embedding_array_ops",
    oracle="""
SELECT vec_id,
       CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS INT) AS n_pos,
       round(list_max(embedding::DOUBLE[]), 6) AS max_val,
       round(list_sum(list_transform(embedding::DOUBLE[], x -> abs(x))), 6) AS sum_abs
FROM embeddings WHERE vec_id < 100
""",
    tags=("hof", "array", "vector"),
)
def embedding_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array surface (filter/max/fold) over the embedding
    column — all JVM expressions, elementwise double casts matching the
    oracle's DOUBLE[] cast."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter(xd, lambda x: x > 0)).cast("int").alias("n_pos"),
        F.round(F.array_max(xd), 6).alias("max_val"),
        F.round(
            F.aggregate(xd, F.lit(0.0), lambda s, x: s + F.abs(x)), 6
        ).alias("sum_abs"),
    )


@query(
    "lineitem_statistics",
    oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
       round(stddev_samp(l_extendedprice), 4) AS price_stddev,
       round(var_samp(l_discount), 8) AS discount_var,
       bool_and(l_quantity > 0) AS all_positive_qty,
       bool_or(l_discount > 0.09) AS any_deep_discount
FROM lineitem
GROUP BY 1
""",
    tags=("agg", "statistics"),
)
def lineitem_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: Pearson correlation, sample covariance/
    variance/stddev, and boolean aggregates (every/some) — the numeric
    profiling surface. Rounded outputs absorb the cross-engine
    difference in numerically-stable accumulation formulas."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_discount"), 8).alias("discount_var"),
        F.every(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.some(F.col("l_discount") > 0.09).alias("any_deep_discount"),
    )


# ---------------------------------------------------------------------------
# Approximate distinct (HLL) — oracle-paired via portable accuracy assertion
# ---------------------------------------------------------------------------


@query(
    "approx_distinct_parts",
    oracle="""
SELECT p.p_brand AS p_brand,
       count(DISTINCT l.l_orderkey) AS exact_orders,
       count(DISTINCT l.l_suppkey) AS exact_suppliers,
       TRUE AS orders_within_5pct,
       TRUE AS suppliers_within_5pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
""",
    tags=("agg", "approx"),
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts per brand — the
    sketch-based path for 100 TB cardinality estimation (fixed-size
    state vs exact distinct's full shuffle). Raw sketch estimates are
    algorithm-specific (not comparable across engines), so the
    hash-checked output is the engine-portable ASSERTION: the exact
    count plus a within-5%% boolean (``20*|approx-exact| <= exact`` —
    pure integer arithmetic, no float threshold) computed from THIS
    engine's sketch, with the oracle pinning the expected TRUE — so a
    Spark sketch drifting past 5%% fails the value hash. (The oracle
    does not consult DuckDB's own approx_count_distinct: that sketch
    has no accuracy knob and measurably exceeds 5%% on one brand at
    sf0.1 — found by the full sf0.1 parity sweep.) Spark runs at
    rsd=0.015 (round 12; measured worst relative error 1.2/1.6/1.5%%
    at sf0.001/0.01/0.1 — a deterministic >= 3x margin inside the band
    at every fixture SF, for about half the rsd=0.01 sketch cost);
    absolute estimate accuracy is additionally asserted in
    tests/test_analytics.py.

    PLAN NOTE: the exact and approx aggregates run as SEPARATE
    aggregations joined on the (tiny) group key. Mixing count_distinct
    with approx_count_distinct in one agg makes Catalyst's Expand-based
    multi-distinct plan treat the sketch as a non-distinct aggregate of
    the partial stage, whose grouping key includes the distinct column —
    one 2^p-register HLL buffer PER (brand, orderkey) partial group.
    At sf0.1 that is ~40x slower (98 s vs 2.5 s) and GC-poisons the JVM;
    at 100 TB it is an OOM. Two lean aggs + a 25-row broadcast join keep
    both plans in their fast shape."""
    # spread_scan is applied to the EXACT side only (round 12): its
    # Expand-based multi-distinct partial dedup parallelizes cleanly
    # (measured 2.0 -> 1.3 s warm). The HLL side stays on the unspread
    # scan deliberately — the sketches keep a multi-KB register buffer
    # per (group, partition) partial, so multiplying input partitions
    # multiplies partial-aggregate state and its merge traffic
    # (measured WORSE under spread at both rsd=0.01 and rsd=0.015).
    from atlassian_confluence_data_pipeline_spark.operators.skew import (
        spread_scan,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand", "l_orderkey", "l_suppkey"
    )
    spread = (
        spread_scan(li.select("l_partkey", "l_orderkey", "l_suppkey"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select("p_brand", "l_orderkey", "l_suppkey")
    )
    exact = spread.groupBy("p_brand").agg(
        F.count_distinct(F.col("l_orderkey")).alias("exact_orders"),
        F.count_distinct(F.col("l_suppkey")).alias("exact_suppliers"),
    )
    approx = joined.groupBy("p_brand").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.015).alias("__ao"),
        F.approx_count_distinct("l_suppkey", rsd=0.015).alias("__as"),
    )
    return (
        exact.join(F.broadcast(approx), "p_brand")
        .select(
            "p_brand",
            "exact_orders",
            "exact_suppliers",
            (
                F.abs(F.col("__ao") - F.col("exact_orders")) * 20
                <= F.col("exact_orders")
            ).alias("orders_within_5pct"),
            (
                F.abs(F.col("__as") - F.col("exact_suppliers")) * 20
                <= F.col("exact_suppliers")
            ).alias("suppliers_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbors — oracle-paired (deterministic centroids)
# ---------------------------------------------------------------------------


# literal-centroid narrow-map assignment + loop-control-scale centroid
# collect live with the other vector operators; re-exported here because
# the k-means plans and their tests historically import them from plans
from atlassian_confluence_data_pipeline_spark.operators.similarity import (  # noqa: E402,E501
    assign_nearest_centroid as _assign_nearest_centroid,
    collect_centroids as _collect_centroids,
)


_IVF_COS = (
    "list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)

def _deterministic_mean_vectors(
    df, group_col: str, vec_col: str = "embedding", id_col: str = "vec_id"
):
    """Per-group elementwise mean vector with a DETERMINISTIC reduction:
    each dimension's values are collected as (id, v) structs, sorted by
    id, and folded left-to-right in double precision — bit-identical to
    the oracle's ``list_reduce(list(v ORDER BY id))``. A plain avg()
    would reduce in partition order and drift across engines/runs.
    Returns (group_col, n, mean_vec). Scale shape: two hash aggregates;
    the per-(group, pos) state is the value list of ONE dimension of one
    group — bounded by group size, never by corpus size."""
    return (
        df.select(group_col, id_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(group_col, "pos")
        .agg(
            F.array_sort(F.collect_list(F.struct(id_col, "v"))).alias("vs"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            group_col,
            "pos",
            "n",
            (
                F.aggregate(
                    F.transform("vs", lambda s: s["v"].cast("double")),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
                / F.col("n")
            ).alias("m"),
        )
        .groupBy(group_col)
        .agg(
            F.max("n").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("mean_vec"),
        )
    )


_IVF_ORACLE = f"""
WITH comp AS (
  SELECT label, vec_id,
         unnest(range(1, len(embedding)+1)) AS pos,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
), cm AS (
  SELECT label, pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
                     (a, b) -> a + b) / count(*) AS m
  FROM comp GROUP BY label, pos
), cent AS (
  SELECT label AS centroid_id, list(m ORDER BY pos) AS c FROM cm GROUP BY label
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), ca AS (
  SELECT * FROM (
    SELECT e.vec_id AS neighbor_id, e.v AS cv, cent.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_COS.format(a='e.v', b='cent.c')} DESC, cent.centroid_id) AS r
    FROM e CROSS JOIN cent
  ) WHERE r = 1
), qa AS (
  SELECT * FROM (
    SELECT e.vec_id AS query_id, e.v AS qv, cent.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_COS.format(a='e.v', b='cent.c')} DESC, cent.centroid_id) AS r
    FROM e CROSS JOIN cent WHERE e.vec_id < 10
  ) WHERE r <= 2
), p AS (
  SELECT query_id, neighbor_id, {_IVF_COS.format(a='qv', b='cv')} AS sim
  FROM qa JOIN ca USING (centroid_id)
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, round(sim, 6) AS sim
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id
  ) AS rnk FROM p
) WHERE rnk <= 5
"""


@query("ivf_ann_topk", oracle=_IVF_ORACLE, tags=("similarity", "ann", "vector"))
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (X3 scale path): coarse-quantize the corpus to
    per-label centroid cells, probe each query's 2 nearest cells only —
    the scan per query drops from N to ~N*2/cells. Hash-checked: the
    centroid mean is a left-to-right double fold in vec_id order
    (deterministic, engine-portable — a plain avg() differs in reduction
    order across engines; a DECIMAL sum is order-free but DuckDB's
    decimal->double conversion drifts 1 ULP), so cell assignment, probe
    set and top-k ranks reproduce exactly in the DuckDB oracle. Recall
    vs brute force is additionally asserted in tests/test_analytics.py."""
    from atlassian_confluence_data_pipeline_spark.operators.similarity import ivf_topk
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        label_centroid_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(
        emb,
        queries,
        k=5,
        n_probe=2,
        cent_rows=label_centroid_rows(spark, sf_dir),
    ).select(
        "query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim")
    )


_KMEANS_ORACLE = f"""
WITH comp AS (
  SELECT label, vec_id,
         unnest(range(1, len(embedding)+1)) AS pos,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
), cm AS (
  SELECT label, pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
                     (a, b) -> a + b) / count(*) AS m
  FROM comp GROUP BY label, pos
), cent AS (
  SELECT label AS centroid_id, list(m ORDER BY pos) AS c FROM cm GROUP BY label
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), asg AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, cent.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_COS.format(a='e.v', b='cent.c')} DESC, cent.centroid_id) AS r
    FROM e CROSS JOIN cent
  ) WHERE r = 1
), cnt AS (
  SELECT centroid_id, count(*) AS n_assigned FROM asg GROUP BY 1
), comp2 AS (
  SELECT centroid_id, vec_id,
         unnest(range(1, len(v)+1)) AS pos,
         unnest(v) AS vv
  FROM asg
), nm AS (
  SELECT centroid_id, pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(vv ORDER BY vec_id)),
                     (a, b) -> a + b) / count(*) AS m
  FROM comp2 GROUP BY centroid_id, pos
)
SELECT nm.centroid_id AS centroid_id,
       cnt.n_assigned,
       pos - 1 AS pos,
       round(m, 6) AS m
FROM nm JOIN cnt USING (centroid_id)
"""


@query(
    "kmeans_lloyd_step",
    oracle=_KMEANS_ORACLE,
    tags=("similarity", "clustering", "vector", "iterative"),
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus — the
    refinement step a semantic-clustering pipeline (cluster-then-dedup,
    SemDeDup-style) runs repeatedly: assign every vector to its nearest
    current centroid (cosine, deterministic tie-break), then recompute
    each cell's mean vector. Initial centroids are the label means (the
    same deterministic fold the IVF coarse quantizer uses); both the
    assignment and BOTH mean computations reproduce bit-for-bit in the
    DuckDB oracle because every float reduction is an id-ordered
    left-to-right double fold, never a partition-order avg().

    Scale shape: centroids are tiny and BROADCAST; assignment is one
    narrow pass over the corpus (k cosines per row); the mean recompute
    is two hash aggregates keyed by (cell, dimension) — per-group state
    is one cell's one dimension. Iterating = re-running this plan with
    the previous output as `cent` (driver loop, like
    operators/hierarchy.py).

    Round-3 shape: the k centroid rows are collected (loop-control
    scale) and inlined as a literal array, so the assignment is a
    narrow per-row HOF argmax — zero Exchange between the corpus scan
    and the mean recompute's partial aggregate (was: broadcast
    crossJoin + row_number window, one ~n-row hash exchange)."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        label_centroid_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _assign_nearest_centroid(
        emb.select("vec_id", "embedding"), label_centroid_rows(spark, sf_dir)
    )
    refined = _deterministic_mean_vectors(assigned, "centroid_id")
    # one scalar row per (cell, dimension): array-valued output columns
    # don't survive hash comparison harnesses, and the long shape is the
    # joinable one anyway
    return refined.select(
        "centroid_id",
        F.col("n").alias("n_assigned"),
        F.posexplode("mean_vec").alias("pos", "m"),
    ).select(
        "centroid_id",
        "n_assigned",
        F.col("pos").cast("bigint").alias("pos"),
        F.round("m", 6).alias("m"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters (portable sketch: estimates hash-check)
# ---------------------------------------------------------------------------

#: CMS geometry: d rows x W buckets; eps = e/W ~ 0.27%, delta = e^-d ~ 2%
CMS_ROWS = 4
CMS_WIDTH = 1024
CMS_TOPK = 10


def _cms_perms():
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        _affine_perms,
    )

    return _affine_perms(0xC36, CMS_ROWS)


def _cms_oracle() -> str:
    from atlassian_confluence_data_pipeline_spark.functions.text import (
        ROLLING_MOD,
        rolling_hash_sql,
    )

    rh = rolling_hash_sql("word")
    buckets = ", ".join(
        f"(({a} * wh + {b}) % {ROLLING_MOD}) % {CMS_WIDTH} AS b{r}"
        for r, (a, b) in enumerate(_cms_perms())
    )
    lookups = ", ".join(
        f"(SELECT n FROM cms WHERE r = {r} AND bucket = t.b{r})"
        for r in range(CMS_ROWS)
    )
    return f"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), wh AS (
  SELECT word, {rh} AS wh FROM words
), wb AS (
  SELECT word, wh, {buckets} FROM wh
), cms AS (
  SELECT r, bucket, count(*) AS n FROM (
    SELECT unnest(range(0, {CMS_ROWS})) AS r,
           unnest([{", ".join(f"b{r}" for r in range(CMS_ROWS))}]) AS bucket
    FROM wb
  ) GROUP BY r, bucket
), exact AS (
  SELECT word, count(*) AS exact_count,
         any_value(b0) AS b0, any_value(b1) AS b1,
         any_value(b2) AS b2, any_value(b3) AS b3
  FROM wb GROUP BY word
  ORDER BY exact_count DESC, word LIMIT {CMS_TOPK}
)
SELECT word, CAST(exact_count AS BIGINT) AS exact_count,
       CAST(least({lookups}) AS BIGINT) AS cms_estimate
FROM exact t
"""


@query(
    "heavy_hitters_cms",
    oracle=_cms_oracle(),
    tags=("sketch", "text", "approx"),
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a Count-Min sketch built with the engine-
    portable rolling-hash family — unlike HLL (engine-specific sketch,
    checked by assertion only, see approx_distinct_parts), every CMS
    cell and therefore every ESTIMATE is bit-reproducible in DuckDB, so
    the sketch itself is value-hash-checked. Reports the top-k exact
    words with their CMS estimates (est >= exact always; overcount
    bounded by eps*N w.h.p.).

    Scale shape: the sketch is d x W = 4096 counters regardless of
    corpus size — ONE hash aggregate with map-side combine produces it;
    the top-k side is the standard count + TakeOrdered. At 100 TB the
    sketch table broadcasts for the lookup join."""
    from atlassian_confluence_data_pipeline_spark.functions.text import (
        ROLLING_MOD,
        rolling_hash,
    )

    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        doc_word_positions,
    )

    # session-staged token stream (round 11)
    words = doc_word_positions(spark, sf_dir).select("word")
    wh = words.select("word", rolling_hash(F.col("word")).alias("wh"))
    bucket_cols = [
        (((F.lit(a) * F.col("wh") + F.lit(b)) % ROLLING_MOD) % CMS_WIDTH).alias(
            f"b{r}"
        )
        for r, (a, b) in enumerate(_cms_perms())
    ]
    wb = wh.select("word", *bucket_cols).localCheckpoint(eager=True)
    cms = (
        wb.select(
            F.posexplode(F.array(*[F.col(f"b{r}") for r in range(CMS_ROWS)])).alias(
                "r", "bucket"
            )
        )
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exact = (
        wb.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("exact_count"),
            *[F.first(f"b{r}").alias(f"b{r}") for r in range(CMS_ROWS)],
        )
        .orderBy(F.col("exact_count").desc(), "word")
        .limit(CMS_TOPK)
    )
    est = exact.select(
        "word",
        "exact_count",
        F.posexplode(F.array(*[F.col(f"b{r}") for r in range(CMS_ROWS)])).alias(
            "r", "bucket"
        ),
    ).join(F.broadcast(cms), ["r", "bucket"]).groupBy("word", "exact_count").agg(
        F.min("n").alias("cms_estimate")
    )
    return est.select(
        "word",
        F.col("exact_count").cast("bigint").alias("exact_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
    )


# ---------------------------------------------------------------------------
# Multi-iteration k-means (driver loop, per-iteration checkpoints)
# ---------------------------------------------------------------------------

KMEANS_ITERS = 2


def _kmeans_iter_block(i: int, prev_cent: str) -> str:
    """One Lloyd iteration as oracle CTE blocks: assign to nearest of
    ``prev_cent``, recompute id-ordered deterministic means."""
    return f"""asg{i} AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_COS.format(a='e.v', b='c.c')} DESC, c.centroid_id) AS r
    FROM e CROSS JOIN {prev_cent} c
  ) WHERE r = 1
), comp{i} AS (
  SELECT centroid_id, vec_id,
         unnest(range(1, len(v)+1)) AS pos, unnest(v) AS vv
  FROM asg{i}
), nm{i} AS (
  SELECT centroid_id, pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(vv ORDER BY vec_id)),
                     (a, b) -> a + b) / count(*) AS m
  FROM comp{i} GROUP BY centroid_id, pos
), cent{i} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS c FROM nm{i} GROUP BY centroid_id
)"""


def _kmeans_iters_oracle() -> str:
    blocks = [
        """comp AS (
  SELECT label, vec_id,
         unnest(range(1, len(embedding)+1)) AS pos,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
), cm AS (
  SELECT label, pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
                     (a, b) -> a + b) / count(*) AS m
  FROM comp GROUP BY label, pos
), cent0 AS (
  SELECT label AS centroid_id, list(m ORDER BY pos) AS c FROM cm GROUP BY label
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
)"""
    ]
    prev = "cent0"
    for i in range(1, KMEANS_ITERS + 1):
        blocks.append(_kmeans_iter_block(i, prev))
        prev = f"cent{i}"
    last = KMEANS_ITERS
    return (
        "WITH "
        + ",\n".join(blocks)
        + f""",
cnt AS (
  SELECT centroid_id, count(*) AS n_assigned FROM asg{last} GROUP BY 1
)
SELECT nm{last}.centroid_id AS centroid_id, cnt.n_assigned,
       pos - 1 AS pos, round(m, 6) AS m
FROM nm{last} JOIN cnt USING (centroid_id)
"""
    )


@query(
    "kmeans_iterations",
    oracle=_kmeans_iters_oracle(),
    tags=("similarity", "clustering", "vector", "iterative"),
)
def kmeans_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means run for KMEANS_ITERS Lloyd iterations as a DRIVER LOOP
    (the hierarchy-expansion pattern): each round assigns every vector
    to its nearest current centroid and recomputes deterministic cell
    means, with the new centroid table localCheckpoint-materialized so
    plan depth stays O(1) per round instead of nesting the whole
    history. Every round's floats are id-ordered folds, so even the
    SECOND iteration — whose input is itself computed data — reproduces
    bit-for-bit in the oracle's chained CTEs. Per-round cost is one
    NARROW corpus pass (literal-centroid HOF argmax, no join/window/
    exchange before the mean aggregate) + two hash aggregates, the
    100 TB iteration shape. Materializing each round's k centroid rows
    on the driver (``_collect_centroids``) replaces the round-2
    localCheckpoint — same job count, but the assignment exchange is
    gone and plan depth stays O(1) per round."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        label_centroid_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    cent_rows = label_centroid_rows(spark, sf_dir)
    assigned = None
    for i in range(KMEANS_ITERS):
        assigned = _assign_nearest_centroid(corpus, cent_rows)
        if i < KMEANS_ITERS - 1:
            cent_rows = _collect_centroids(
                _deterministic_mean_vectors(assigned, "centroid_id").select(
                    "centroid_id", F.col("mean_vec").alias("centroid")
                )
            )
    from atlassian_confluence_data_pipeline_spark import iterstats

    iterstats.record("kmeans_iterations", KMEANS_ITERS)
    refined = _deterministic_mean_vectors(assigned, "centroid_id")
    return refined.select(
        "centroid_id",
        F.col("n").alias("n_assigned"),
        F.posexplode("mean_vec").alias("pos", "m"),
    ).select(
        "centroid_id",
        "n_assigned",
        F.col("pos").cast("bigint").alias("pos"),
        F.round("m", 6).alias("m"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): cluster cells bound the pair space
# ---------------------------------------------------------------------------

#: cosine floor for "semantically duplicate" — matches the fixture's
#: near-dup regime (same constant as the embedding near-dup queries)
SEMDEDUP_COS = 0.45

#: corpus rows per sub-cell-division unit: the number of sub-cells per
#: coarse cell is ceil(n / this) (integer arithmetic in BOTH engines),
#: so expected cell population stays CONSTANT as the corpus grows — the
#: SemDeDup k ~ n/C discipline that keeps within-cell pairing linear
SEMDEDUP_SUBCELL_ROWS = 250


def _semantic_dedup_oracle() -> str:
    cos = _IVF_COS.format(a="a.v", b="b.v")
    r = SEMDEDUP_SUBCELL_ROWS
    return f"""
WITH comp AS (
  SELECT label, vec_id,
         unnest(range(1, len(embedding)+1)) AS pos,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
), cm AS (
  SELECT label, pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
                     (a, b) -> a + b) / count(*) AS m
  FROM comp GROUP BY label, pos
), cent AS (
  SELECT label AS centroid_id, list(m ORDER BY pos) AS c FROM cm GROUP BY label
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), params AS (
  SELECT CAST((count(*) + {r - 1}) // {r} AS BIGINT) AS s FROM embeddings
), asg AS (
  SELECT vec_id, v, centroid_id, sim AS proj FROM (
    SELECT e.vec_id, e.v, cent.centroid_id,
           {_IVF_COS.format(a='e.v', b='cent.c')} AS sim,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_IVF_COS.format(a='e.v', b='cent.c')} DESC, cent.centroid_id) AS r
    FROM e CROSS JOIN cent
  ) WHERE r = 1
), st AS (
  SELECT centroid_id, min(proj) AS mn,
         greatest((max(proj) - min(proj)) / (SELECT s FROM params), 1e-12)
           AS w
  FROM asg GROUP BY 1
), sub AS (
  SELECT asg.vec_id, asg.v, asg.centroid_id,
         CAST(floor((asg.proj - st.mn) / st.w) AS BIGINT) AS sc
  FROM asg JOIN st USING (centroid_id)
), drops AS (
  SELECT DISTINCT b.vec_id AS drop_id
  FROM sub a JOIN sub b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
   AND abs(a.sc - b.sc) <= 1
  WHERE {cos} >= {SEMDEDUP_COS}
)
SELECT asg.vec_id, asg.centroid_id,
       asg.vec_id NOT IN (SELECT drop_id FROM drops) AS keep
FROM asg
"""


@query(
    "semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    tags=("curation", "dedup", "vector", "clustering", "pipeline"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup over the embedding corpus — the
    composition a pretraining-data pipeline runs after exact/fuzzy text
    dedup: coarse-cluster every vector (the deterministic k-means cell
    assignment, a NARROW literal-centroid argmax — no shuffle), refine
    each coarse cell into CORPUS-SCALED sub-cells, compare pairs ONLY
    within a (cell, ±1 sub-cell) block, and drop every vector that has
    a higher-priority (lower vec_id) block-mate above the cosine floor.
    Returns the full census (vec_id, centroid_id, keep) — keepers +
    dropped, so the caller can both filter and audit.

    SUB-CELL DISCIPLINE (the round-3 brief's near-linearity fix): the
    number of sub-cells per coarse cell is ceil(n / 250) — integer
    arithmetic, identical in both engines — so expected cell
    population stays CONSTANT as the corpus grows (SemDeDup's k ~ n/C
    regime) and within-cell pairing is O(n) instead of n²/k-fixed. The
    sub-cell axis is the vector's cosine to its OWN centroid (the
    argmax value itself — zero extra folds), quantized equal-width
    per cell; a pair's projections differ by at most its angular
    distance (spherical triangle inequality), so comparing own ±1
    neighboring sub-cells (the multi-probe band trick: the a-side
    emits 3 band keys, the b-side its own) catches every pair whose
    projection gap is under one bucket width — exact duplicates and
    high-cosine mates always co-locate; the far-projection misses are
    the same cross-cell approximation SemDeDup itself accepts, and
    the DuckDB oracle reproduces the blocking decision bit-for-bit
    (min/max/width/floor all from the identical doubles).

    Within-block pairing is an equi-join on (centroid_id, band) (hot
    blocks spread over salted pair tasks, exactness-preserving); the
    drop set is a distinct projection and the final flag a
    broadcast-able left anti semi-join pattern."""
    from atlassian_confluence_data_pipeline_spark.operators.similarity import (
        dot,
        l2_norm,
    )
    from atlassian_confluence_data_pipeline_spark.operators.skew import (
        guarded_pair_frames,
        hot_blocks,
    )

    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        label_centroid_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = label_centroid_rows(spark, sf_dir)
    n = emb.count()
    n_sub = (n + SEMDEDUP_SUBCELL_ROWS - 1) // SEMDEDUP_SUBCELL_ROWS
    # one norm fold per VECTOR instead of two per candidate pair (the
    # embedding_near_dup_pairs pattern — identical fold, identical bits)
    assigned = (
        _assign_nearest_centroid(
            emb.select("vec_id", "embedding"), cent_rows, sim_col="proj"
        )
        .select(
            "centroid_id",
            "vec_id",
            "embedding",
            "proj",
            l2_norm(F.col("embedding")).alias("__n"),
        )
        .localCheckpoint(eager=True)
    )
    # per-cell projection range -> equal-width sub-cell quantization;
    # k tiny rows of loop-control stats (never corpus-scale)
    stats = assigned.groupBy("centroid_id").agg(
        F.min("proj").alias("mn"), F.max("proj").alias("mx")
    ).collect()
    mn_map = F.create_map(
        *[
            x
            for row in stats
            for x in (F.lit(row["centroid_id"]), F.lit(row["mn"]))
        ]
    )
    w_map = F.create_map(
        *[
            x
            for row in stats
            for x in (
                F.lit(row["centroid_id"]),
                F.lit(max((row["mx"] - row["mn"]) / n_sub, 1e-12)),
            )
        ]
    )
    sub = assigned.withColumn(
        "__sc",
        F.floor(
            (F.col("proj") - mn_map[F.col("centroid_id")])
            / w_map[F.col("centroid_id")]
        ).cast("bigint"),
    )
    a = sub.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("__n").alias("na"),
        F.explode(
            F.array(F.col("__sc") - 1, F.col("__sc"), F.col("__sc") + 1)
        ).alias("__band"),
    )
    b = sub.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("__n").alias("nb"),
        F.col("__sc").alias("__band"),
    )
    hot = hot_blocks(
        b.select("centroid_id", "__band"), ["centroid_id", "__band"], 2000
    )
    a, b, join_keys = guarded_pair_frames(
        a, b, "id_a", "id_b", hot, ["centroid_id", "__band"], 8
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    drops = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= SEMDEDUP_COS)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(drops, "vec_id", "left").select(
        "vec_id",
        "centroid_id",
        F.col("__dropped").isNull().alias("keep"),
    )
