"""Embedding-space evaluation wave (33): nearest-centroid classifier
confusion, centroid silhouette, and per-dimension Fisher ratios.

The label-quality readouts an embedding pipeline runs before trusting
its vectors: does the cheapest possible classifier (nearest label
centroid) recover the labels (confusion matrix), how well-separated are
the label clusters (silhouette against centroids), and WHICH dimensions
carry the separation (Fisher discriminant ratio per dim — the
feature-selection signal for truncation/quantization decisions).

Exactness: embeddings quantize to integers (floor(x * 2^20) — the
embedding_whitening discipline), all moments are exact DECIMAL(38,0)
sums, centroids are closed-form doubles of those exact sums (computed
with the same expression both engines evaluate), and every distance is
an index-ordered array fold — sequential, so Spark's F.aggregate and
DuckDB's list_reduce produce bit-identical doubles."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.plans.registry import query

#: quantization scale shared with embedding_whitening (curation4)
_QSCALE = 1 << 20

#: fixture label vocabulary (TESTDATA.md): 10 integer labels
_N_LABELS = 10


_QUANT_SQL = f"""
e AS (
  SELECT vec_id, CAST(label AS INT) AS label,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {float(_QSCALE)!r}) AS BIGINT))
           AS q
  FROM embeddings
), ex AS (
  SELECT vec_id, label, unnest(q) AS qv, generate_subscripts(q, 1) AS dim
  FROM e
), st AS (
  SELECT label, dim, count(*) AS n,
         CAST(sum(CAST(qv AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(sum(CAST(qv * qv AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM ex GROUP BY 1, 2
)"""

_DIST_SQL = f"""
cents AS (
  SELECT label AS pred, list(s1 / n ORDER BY dim) AS c FROM st GROUP BY 1
), dists AS (
  SELECT e.vec_id, e.label, cents.pred,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(e.q) + 1),
             i -> (CAST(e.q[i] AS DOUBLE) - cents.c[i])
                  * (CAST(e.q[i] AS DOUBLE) - cents.c[i]))),
           (a, b) -> a + b) AS d2
  FROM e CROSS JOIN cents
)"""


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-staged quantized embedding frame (round 12): confusion,
    silhouette and Fisher all start from the identical (vec_id, label,
    q) projection, so it is built once per session via the shared-stage
    cache instead of one eager localCheckpoint per consumer."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        q = F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * float(_QSCALE)).cast(
                "bigint"
            ),
        )
        return emb.select(
            "vec_id", F.col("label").cast("int").alias("label"), q.alias("q")
        )

    return shared_pair_table(spark, sf_dir, "embed_quantized", _build)


def _centroids(spark: SparkSession, sf_dir: str) -> dict[int, list[float]]:
    """Per-label centroid components in quantized units — exact DECIMAL
    sums reduced with the oracle's own s1/n double expression; 10 x 64
    doubles of loop-control scale (the k-means codebook class),
    session-memoized (round 12) so the confusion/silhouette pair pays
    the aggregate + collect once."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )

    def _build(spark: SparkSession, sf_dir: str) -> dict[int, list[float]]:
        st = (
            _quantized(spark, sf_dir)
            .select("label", F.posexplode("q").alias("dim", "qv"))
            .groupBy("label", "dim")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("qv").cast("decimal(38,0)")).alias("s1"),
            )
            .collect()
        )
        comp: dict[int, dict[int, float]] = {}
        for r in st:
            comp.setdefault(r["label"], {})[r["dim"]] = float(
                r["s1"]
            ) / float(r["n"])
        return {
            lab: [dims[d] for d in sorted(dims)] for lab, dims in comp.items()
        }

    return shared_pair_table(spark, sf_dir, "embed_quant_centroids", _build)


def _dist_structs(cents: dict[int, list[float]]):
    """array<struct<pred,d2>> of the squared distance to EVERY label
    centroid, as a per-row column — the centroids ride along as literal
    arrays (corpus never moves). Round 12: the per-(vector, label) rows
    consumed by confusion/silhouette used to come from exploding this
    array and shuffling 10x corpus rows into a vec_id-keyed aggregate /
    window; both consumers now reduce the array IN PLACE (array_min /
    filter — same doubles, same comparisons), so neither query shuffles
    corpus rows at all."""

    def _d(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    entries = []
    for lab in sorted(cents):
        arr = F.expr("array(" + ",".join(_d(v) for v in cents[lab]) + ")")
        d2 = F.aggregate(
            F.zip_with(
                F.col("q"),
                arr,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        entries.append(
            F.struct(F.lit(lab).alias("pred"), d2.alias("d2"))
        )
    return F.array(*entries)


@query(
    "centroid_classifier_confusion",
    oracle=f"""
WITH {_QUANT_SQL.strip()}
, {_DIST_SQL.strip()}
, ranked AS (
  SELECT vec_id, label, pred,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, pred) AS rn
  FROM dists
)
SELECT CAST(label AS INT) AS true_label,
       CAST(pred AS INT) AS pred_label,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM ranked WHERE rn = 1
GROUP BY 1, 2
""",
    tags=("embedding", "evaluation", "classifier"),
)
def centroid_classifier_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier confusion matrix: assign
    every vector to its closest label centroid and cross-tabulate
    against the true labels — the 5-minute baseline that tells you
    whether the embedding space separates the labels AT ALL before any
    model training, and which label pairs collide.

    Scale shape: centroids are exact quantized moments collected as a
    10 x 64 literal codebook (the k-means/IVF broadcast-centroid
    discipline — the corpus never moves); per-vector distances are 10
    index-ordered array folds held in ONE per-row array; the argmin is
    an in-place array_min over (d2, pred) structs (struct comparison ==
    the window's ORDER BY d2, pred — round 12: this replaces the 10x
    explode + vec_id-keyed rank window, so the only exchange left is
    the |labels|²-bounded confusion aggregate)."""
    qdf = _quantized(spark, sf_dir)
    ds = _dist_structs(_centroids(spark, sf_dir))
    best = F.array_min(
        F.transform(
            ds,
            lambda e: F.struct(e["d2"].alias("d2"), e["pred"].alias("pred")),
        )
    )
    return (
        qdf.select("label", best["pred"].alias("pred"))
        .groupBy(
            F.col("label").cast("int").alias("true_label"),
            F.col("pred").cast("int").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    )


@query(
    "centroid_silhouette_by_label",
    oracle=f"""
WITH {_QUANT_SQL.strip()}
, {_DIST_SQL.strip()}
, ab AS (
  SELECT vec_id, label,
         sqrt(min(CASE WHEN pred = label THEN d2 END)) AS a,
         sqrt(min(CASE WHEN pred <> label THEN d2 END)) AS b
  FROM dists GROUP BY 1, 2
), s AS (
  SELECT label,
         CASE WHEN greatest(a, b) = 0 THEN 0.0
              ELSE (b - a) / greatest(a, b) END AS s
  FROM ab
)
SELECT CAST(label AS INT) AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(CAST(round(s, 9) AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS avg_silhouette,
       CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negative
FROM s GROUP BY 1
""",
    tags=("embedding", "evaluation", "clustering"),
)
def centroid_silhouette_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: a = distance
    to the own-label centroid, b = distance to the nearest OTHER
    centroid, s = (b - a)/max(a, b) — the per-label cluster-quality
    score (negative s = the vector sits closer to a foreign centroid =
    label noise or genuine overlap; n_negative counts them).

    Scale shape: reuses the broadcast-codebook distance array (10
    bounded entries per vector, no join); a/b reduce IN PLACE per row
    (filter + array_min over the same doubles the oracle's
    min(CASE...) aggregates — round 12: this replaces the 10x explode
    + (vec_id, label) hash aggregate, leaving the |labels|-bounded
    label rollup as the only exchange); the label rollup sums
    9-rounded DECIMAL terms."""
    qdf = _quantized(spark, sf_dir)
    ds = _dist_structs(_centroids(spark, sf_dir))
    a = F.sqrt(
        F.array_min(
            F.transform(
                F.filter(ds, lambda e: e["pred"] == F.col("label")),
                lambda e: e["d2"],
            )
        )
    )
    b = F.sqrt(
        F.array_min(
            F.transform(
                F.filter(ds, lambda e: e["pred"] != F.col("label")),
                lambda e: e["d2"],
            )
        )
    )
    ab = qdf.select("label", a.alias("a"), b.alias("b"))
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        ab.select("label", s.alias("s"))
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                F.sum(F.round(F.col("s"), 9).cast("decimal(28,12)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_silhouette"),
            F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_negative"),
        )
    )


@query(
    "fisher_ratio_by_dim",
    oracle=f"""
WITH {_QUANT_SQL.strip()}
, tot AS (
  SELECT dim, CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(CAST(s1 AS DECIMAL(38,0))) AS DOUBLE) AS ss1
  FROM st GROUP BY 1
), parts AS (
  SELECT st.dim,
         round(st.n * ((st.s1 / st.n - tot.ss1 / tot.nn)
                       * (st.s1 / st.n - tot.ss1 / tot.nn)), 9) AS bterm,
         round(st.s2 - st.s1 * st.s1 / st.n, 9) AS wterm
  FROM st JOIN tot USING (dim)
), acc AS (
  SELECT dim,
         CAST(sum(CAST(bterm AS DECIMAL(38,12))) AS DOUBLE) AS bsum,
         CAST(sum(CAST(wterm AS DECIMAL(38,12))) AS DOUBLE) AS wsum
  FROM parts GROUP BY 1
)
SELECT CAST(acc.dim AS INT) AS dim,
       round(bsum / tot.nn / {float(_QSCALE)!r} / {float(_QSCALE)!r}, 9)
         AS between_var,
       round(wsum / tot.nn / {float(_QSCALE)!r} / {float(_QSCALE)!r}, 9)
         AS within_var,
       round(bsum / wsum, 6) AS fisher_ratio
FROM acc JOIN tot USING (dim)
""",
    tags=("embedding", "evaluation", "feature-selection"),
)
def fisher_ratio_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher discriminant ratio per embedding dimension:
    between-class variance over within-class variance of each
    coordinate — the per-dimension answer to "where does the label
    signal live", read before truncating (Matryoshka-style), pruning,
    or int8-quantizing dimensions.

    Scale shape: ONE posexplode + (label, dim) hash aggregate with
    exact quantized integer moments carries all corpus-sized work; the
    between/within decomposition runs on the |labels| x |dims| bounded
    moment table with 9-rounded DECIMAL sums. Variances are reported
    back in original (unquantized) units."""
    qdf = _quantized(spark, sf_dir)
    st = (
        qdf.select("label", F.posexplode("q").alias("dim0", "qv"))
        .select((F.col("dim0") + 1).alias("dim"), "label", "qv")
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("qv").cast("decimal(38,0)"))
            .cast("double")
            .alias("s1"),
            F.sum((F.col("qv") * F.col("qv")).cast("decimal(38,0)"))
            .cast("double")
            .alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    tot = st.groupBy("dim").agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("s1").cast("decimal(38,0)")).cast("double").alias("ss1"),
    )
    j = st.join(F.broadcast(tot), "dim")
    gap = F.col("s1") / F.col("n") - F.col("ss1") / F.col("nn")
    parts = j.select(
        "dim",
        "nn",
        F.round(F.col("n") * (gap * gap), 9).alias("bterm"),
        F.round(
            F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"), 9
        ).alias("wterm"),
    )
    q2 = float(_QSCALE)
    acc = parts.groupBy("dim", "nn").agg(
        F.sum(F.col("bterm").cast("decimal(38,12)"))
        .cast("double")
        .alias("bsum"),
        F.sum(F.col("wterm").cast("decimal(38,12)"))
        .cast("double")
        .alias("wsum"),
    )
    return acc.select(
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("bsum") / F.col("nn") / q2 / q2, 9).alias(
            "between_var"
        ),
        F.round(F.col("wsum") / F.col("nn") / q2 / q2, 9).alias(
            "within_var"
        ),
        F.round(F.col("bsum") / F.col("wsum"), 6).alias("fisher_ratio"),
    )
