"""Evaluation wave (24): ANN index quality, tokenizer fertility, and
cross-dimension covariance — the measurement layer a retrieval /
tokenization / embedding pipeline needs before trusting its own
indexes.

``ivf_ann_topk`` ships an index; ``ivf_recall_audit`` grades it
against brute force inside the engine (recall@k as a query, not a
notebook). ``token_counts`` counts two tokenizations;
``tokenizer_fertility_by_lang`` turns them into the fertility ratio
tokenizer papers report per language. ``embedding_whitening`` takes
per-dimension moments; ``embedding_covariance_block`` adds the
CROSS-dimension second moments (the input to PCA) with the same
quantize-to-exact-integers discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.plans.registry import query

#: same lossless quantizer as embedding_whitening (|v| < 1 in fixtures)
_QS = 1 << 20

#: leading dimensions in the covariance block (full d x d is d^2/2
#: aggregates — the block keeps the demonstration cheap; production
#: would shard pairs over jobs)
_COV_DIMS = 8

_N_QUERIES = 10
_K = 5

_COS = (
    "list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


def _ivf_recall_oracle() -> str:
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
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_COS.format(a='q.v', b='c.v')} DESC, c.vec_id) AS r
    FROM e q CROSS JOIN e c
    WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
  ) WHERE r <= {_K}
), ca AS (
  SELECT * FROM (
    SELECT e.vec_id AS neighbor_id, e.v AS cv, cent.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_COS.format(a='e.v', b='cent.c')} DESC, cent.centroid_id) AS r
    FROM e CROSS JOIN cent
  ) WHERE r = 1
), qa AS (
  SELECT * FROM (
    SELECT e.vec_id AS query_id, e.v AS qv, cent.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_COS.format(a='e.v', b='cent.c')} DESC, cent.centroid_id) AS r
    FROM e CROSS JOIN cent WHERE e.vec_id < {_N_QUERIES}
  ) WHERE r <= 2
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY {_COS.format(a='qv', b='cv')} DESC, neighbor_id) AS rnk
    FROM qa JOIN ca USING (centroid_id)
    WHERE query_id <> neighbor_id
  ) WHERE rnk <= {_K}
)
SELECT exact.query_id,
       CAST(count(approx.neighbor_id) AS BIGINT) AS n_hits,
       round(CAST(count(approx.neighbor_id) AS DOUBLE) / {_K}, 6)
         AS recall_at_k
FROM exact LEFT JOIN approx
  ON exact.query_id = approx.query_id
 AND exact.neighbor_id = approx.neighbor_id
GROUP BY 1
"""


@query(
    "ivf_recall_audit",
    oracle=_ivf_recall_oracle(),
    tags=("similarity", "ann", "eval", "vector"),
)
def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against brute force, per query, AS A
    QUERY — the index-quality gate a retrieval pipeline runs after
    (re)building cells, not a notebook afterthought. Exact top-5 comes
    from the broadcast brute-force scan; approximate top-5 from the
    same 2-probe IVF plan ``ivf_ann_topk`` ships; recall is the overlap
    count over k (exact integer arithmetic).

    Scale shape: the exact side broadcasts the 10-query frame against
    the corpus (corpus never moves — one pass); the IVF side scans
    ~2/cells of the corpus; the overlap is an equi-join on
    (query_id, neighbor_id) between two k-row-per-query frames."""
    from atlassian_confluence_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        label_centroid_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = brute_force_topk(emb, queries, k=_K).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(
        emb,
        queries,
        k=_K,
        n_probe=2,
        cent_rows=label_centroid_rows(spark, sf_dir),
    ).select("query_id", F.col("neighbor_id").alias("a_neighbor"))
    hit = approx.withColumn("hit", F.lit(1))
    return (
        exact.join(
            hit,
            (exact.query_id == hit.query_id)
            & (exact.neighbor_id == hit.a_neighbor),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))).cast("double") / _K, 6
            ).alias("recall_at_k"),
        )
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
         AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')))
         AS BIGINT) AS bpe_ish_tokens,
       round(CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')))
             AS DOUBLE)
             / sum(len(regexp_split_to_array(trim(text), '\\s+'))), 6)
         AS fertility,
       round(CAST(sum(n_chars) AS DOUBLE)
             / sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))), 4)
         AS chars_per_token
FROM documents
GROUP BY 1
""",
    tags=("curation", "tokenizer", "text"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword-ish tokens per
    whitespace word (the per-language cost metric tokenizer papers
    report — high-fertility languages pay more sequence length per
    word) plus chars-per-token compression. Same two tokenizations as
    ``token_counts``, aggregated to the language axis with exact
    integer ratios. One hash aggregate over the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        F.sum(bpe).cast("bigint").alias("bpe_ish_tokens"),
        F.round(F.sum(bpe).cast("double") / F.sum(ws), 6).alias("fertility"),
        F.round(F.sum("n_chars").cast("double") / F.sum(bpe), 4).alias(
            "chars_per_token"
        ),
    )


@query(
    "embedding_covariance_block",
    oracle=f"""
WITH q AS (
  SELECT vec_id, pos, CAST(floor(v * {float(_QS)!r}) AS BIGINT) AS qv
  FROM (
    SELECT vec_id,
           unnest(range(1, len(embedding)+1)) AS pos,
           unnest(embedding::DOUBLE[]) AS v
    FROM embeddings
  ) WHERE pos <= {_COV_DIMS}
), marg AS (
  SELECT pos, sum(qv) AS s, count(*) AS n FROM q GROUP BY 1
), pairs AS (
  SELECT a.pos AS pos_i, b.pos AS pos_j,
         sum(a.qv * b.qv) AS sij, count(*) AS n
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.pos >= a.pos
  GROUP BY 1, 2
)
SELECT CAST(pos_i - 1 AS INT) AS dim_i,
       CAST(pos_j - 1 AS INT) AS dim_j,
       CAST(CAST(p.n * sij - mi.s * mj.s AS DECIMAL(38,0)) AS VARCHAR)
         AS cov_numerator,
       round((CAST(p.n AS DOUBLE) * sij - CAST(mi.s AS DOUBLE) * mj.s)
             / (CAST(p.n AS DOUBLE) * p.n)
             / {float(_QS * _QS)!r}, 10) AS covariance
FROM pairs p
JOIN marg mi ON mi.pos = p.pos_i
JOIN marg mj ON mj.pos = p.pos_j
""",
    tags=("vector", "statistics", "eval"),
)
def embedding_covariance_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dimension covariance of the first {_COV_DIMS} embedding
    dimensions — the second-moment block PCA consumes
    (embedding_whitening covers the diagonal; this adds the
    off-diagonal structure that says which dimensions co-vary).

    Exactness: floats quantize to exact integers (floor(v*2^20),
    lossless for |v| < 1 fixtures — the embedding_whitening
    discipline); pair products and marginal sums are exact integer
    aggregates; the covariance double is one identical closed form,
    and the raw integer numerator ships alongside it so the hash also
    pins the EXACT value. Scale shape: one posexplode limited to the
    block dims (corpus x 8 rows), one self equi-join on vec_id
    (corpus x 36 pair rows), two hash aggregates — no all-pairs over
    vectors, only over the constant dimension block."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos0", "v"))
        .filter(F.col("pos0") < _COV_DIMS)
        .select(
            "vec_id",
            (F.col("pos0") + 1).alias("pos"),
            F.floor(F.col("v").cast("double") * float(_QS)).cast("bigint").alias("qv"),
        )
        .localCheckpoint(eager=True)
    )
    marg = q.groupBy("pos").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = q.select("vec_id", F.col("pos").alias("pos_i"), F.col("qv").alias("qa"))
    b = q.select(
        F.col("vec_id").alias("vb"), F.col("pos").alias("pos_j"), F.col("qv").alias("qb")
    )
    pairs = (
        a.join(b, (a.vec_id == b.vb) & (F.col("pos_j") >= F.col("pos_i")))
        .groupBy("pos_i", "pos_j")
        .agg(
            F.sum(F.col("qa") * F.col("qb")).alias("sij"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    mi = marg.select(F.col("pos").alias("pos_i"), F.col("s").alias("si"))
    mj = marg.select(F.col("pos").alias("pos_j"), F.col("s").alias("sj"))
    return (
        pairs.join(F.broadcast(mi), "pos_i")
        .join(F.broadcast(mj), "pos_j")
        .select(
            (F.col("pos_i") - 1).cast("int").alias("dim_i"),
            (F.col("pos_j") - 1).cast("int").alias("dim_j"),
            (F.col("n") * F.col("sij") - F.col("si") * F.col("sj"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("cov_numerator"),
            F.round(
                (
                    F.col("n").cast("double") * F.col("sij")
                    - F.col("si").cast("double") * F.col("sj")
                )
                / (F.col("n").cast("double") * F.col("n"))
                / float(_QS * _QS),
                10,
            ).alias("covariance"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval quality metrics (nDCG@k / MRR) over the cosine top-k chain
# ---------------------------------------------------------------------------


def _ndcg_oracle() -> str:
    from atlassian_confluence_data_pipeline_spark.plans.similarity import (
        N_QUERIES,
        TOP_K,
    )

    return f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlab, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, label AS nlab, embedding::DOUBLE[] AS cv
  FROM embeddings
), p AS (
  SELECT query_id, qlab, neighbor_id, nlab,
         list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * cv[i]))
           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
              * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS sim
  FROM q, c WHERE query_id <> neighbor_id
), topk AS (
  SELECT query_id, rnk,
         CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id
    ) AS rnk FROM p
  ) WHERE rnk <= {TOP_K}
), agg AS (
  SELECT query_id,
         CAST(sum(rel) AS BIGINT) AS n_relevant,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(rel / log2(rnk + 1.0) ORDER BY rnk)), (a, b) -> a + b) AS dcg,
         CASE WHEN sum(rel) = 0 THEN CAST(0 AS BIGINT)
              ELSE min(CASE WHEN rel = 1 THEN rnk END) END AS first_rel
  FROM topk GROUP BY query_id
)
SELECT query_id, n_relevant,
       CASE WHEN n_relevant = 0 THEN 0.0
            ELSE round(dcg / list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(range(1, CAST(n_relevant AS INT) + 1),
                                    i -> 1.0 / log2(i + 1.0))),
                   (a, b) -> a + b), 6) END AS ndcg,
       CASE WHEN n_relevant = 0 THEN 0.0
            ELSE round(1.0 / first_rel, 6) END AS mrr
FROM agg
"""


@query(
    "retrieval_ndcg_mrr",
    oracle=_ndcg_oracle(),
    tags=("evaluation", "retrieval", "ranking", "vector"),
)
def retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metrics over the brute-force cosine top-k
    ranking: per query, nDCG@k (binary label-match relevance, log2
    discounts) and MRR — the standard report card an embedding-search
    deployment publishes alongside recall. Relevance = neighbor shares
    the query's label. The DCG fold runs in rank order (id-ordered
    fold), the ideal DCG is a closed-form fold over 1..n_relevant, so
    both engines reproduce every float."""
    from pyspark.sql import Window

    from atlassian_confluence_data_pipeline_spark.operators.similarity import (
        dot,
        l2_norm,
    )
    from atlassian_confluence_data_pipeline_spark.plans.similarity import (
        N_QUERIES,
        TOP_K,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # fold each side's norm ONCE per vector (sqrt(dot(v, v)) reused
    # across pairs is bit-identical to re-folding per pair) — the
    # brute-force pair stream then pays one dot fold instead of three
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlab"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("__qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlab"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("__cn"),
    )
    sim = dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    topk = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            sim.alias("sim"),
            F.when(F.col("qlab") == F.col("nlab"), 1).otherwise(0).alias("rel"),
            "neighbor_id",
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )
    agg = topk.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_relevant"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "rnk",
                            (
                                F.col("rel").cast("double")
                                / F.log2(F.col("rnk") + F.lit(1.0))
                            ).alias("g"),
                        )
                    )
                ),
                lambda s: s["g"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("dcg"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
    )
    idcg = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("n_relevant").cast("int")),
            lambda i: F.lit(1.0) / F.log2(i.cast("double") + F.lit(1.0)),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return agg.select(
        "query_id",
        "n_relevant",
        F.when(F.col("n_relevant") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("dcg") / idcg, 6))
        .alias("ndcg"),
        F.when(F.col("n_relevant") == 0, F.lit(0.0))
        .otherwise(F.round(F.lit(1.0) / F.col("first_rel"), 6))
        .alias("mrr"),
    )


# ---------------------------------------------------------------------------
# Split-conformal calibration (integer nonconformity scores)
# ---------------------------------------------------------------------------

#: conformal target coverage and the fixed "model" (chars-per-word)
CONFORMAL_LEVEL = 0.9
CHARS_PER_WORD = 6

_CONF_SPLIT_MOD = 5  # hash % 5 == 0 -> calibration split (~20%)


def _conformal_oracle() -> str:
    from atlassian_confluence_data_pipeline_spark.functions.text import (
        rolling_hash_sql,
    )

    rh = rolling_hash_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH s AS (
  SELECT doc_id,
         abs(n_chars - {CHARS_PER_WORD}
             * len(regexp_split_to_array(trim(text), '\\s+'))) AS score,
         {rh} % {_CONF_SPLIT_MOD} = 0 AS is_calib
  FROM documents
), calib AS (SELECT score FROM s WHERE is_calib),
test AS (SELECT score FROM s WHERE NOT is_calib),
n AS (SELECT count(*) AS c FROM calib),
ranked AS (
  SELECT score, row_number() OVER (ORDER BY score) AS r FROM calib
), qh AS (
  SELECT max(score) AS qhat FROM ranked
  WHERE r <= ceil({CONFORMAL_LEVEL} * ((SELECT c FROM n) + 1))
)
SELECT (SELECT CAST(c AS BIGINT) FROM n) AS n_calib,
       (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test,
       (SELECT CAST(qhat AS BIGINT) FROM qh) AS qhat,
       round((SELECT CAST(sum(CASE WHEN score <= (SELECT qhat FROM qh)
                                   THEN 1 ELSE 0 END) AS DOUBLE)
              FROM test) / (SELECT count(*) FROM test), 6) AS coverage
"""


@query(
    "conformal_length_calibration",
    oracle=_conformal_oracle(),
    tags=("evaluation", "calibration", "conformal"),
)
def conformal_length_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration — the distribution-free uncertainty
    wrapper an eval pipeline puts around any point predictor: a
    portable-hash 20% calibration split, INTEGER nonconformity scores
    ``|n_chars - 6·n_words|`` (a fixed chars-per-word model, so the
    whole chain is float-free until the final coverage ratio), the
    ceil((n+1)·0.9)-th order statistic as the conformal quantile, and
    the empirical coverage of ``score <= qhat`` on the held-out split —
    which the conformal guarantee lower-bounds by 0.9 in expectation.

    Scale shape: the order statistic is TakeOrderedAndProject (top-k by
    score, k from one count — never an unpartitioned ranking window on
    the Spark side); coverage is one aggregate of integers."""
    from atlassian_confluence_data_pipeline_spark.functions.text import (
        rolling_hash,
    )
    from atlassian_confluence_data_pipeline_spark.plans.textops import _words

    import math

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        F.abs(
            F.col("n_chars")
            - F.lit(CHARS_PER_WORD) * F.size(_words(F.col("text")))
        ).alias("score"),
        (
            rolling_hash(F.col("doc_id").cast("string")) % _CONF_SPLIT_MOD == 0
        ).alias("is_calib"),
    ).localCheckpoint(eager=True)
    calib = s.filter("is_calib").select("score")
    test = s.filter("NOT is_calib").select("score")
    n_calib = calib.count()
    k = int(math.ceil(CONFORMAL_LEVEL * (n_calib + 1)))
    qhat = calib.orderBy("score").limit(k).agg(F.max("score")).collect()[0][0]
    # Empty calibration split -> qhat is None; mirror the oracle's
    # scalar-subquery semantics (NULL qhat, `score <= NULL` never true
    # so coverage collapses to 0) instead of raising on int(None).
    qhat_cmp = F.lit(int(qhat)) if qhat is not None else F.lit(None).cast("int")
    cov = test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(
            F.sum(F.when(F.col("score") <= qhat_cmp, 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("coverage"),
    )
    return cov.select(
        F.lit(n_calib).cast("bigint").alias("n_calib"),
        "n_test",
        qhat_cmp.cast("bigint").alias("qhat"),
        "coverage",
    )
