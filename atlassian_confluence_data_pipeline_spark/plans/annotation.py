"""Multi-annotator label aggregation (Dawid-Skene EM).

Labeled training data rarely comes from one annotator; the standard
aggregation model is Dawid & Skene (1979): latent true classes, one
confusion matrix per annotator, fit by EM. This wave synthesizes a
DETERMINISTIC 3-annotator labeling of the documents table (true class =
``lang``; annotator k corrupts docs where ``(doc_id * a_k) % m_k <
r_k`` to the next class in sorted order — noise rates 2/11, 2/7, 2/5)
and runs DS_ITERS fixed EM iterations, recovering each annotator's
confusion matrix. The fixture noise ordering (annotator 3 noisiest) is
recovered in the fitted diagonals — the pytest pins it.

Float determinism: the M-step reductions over the corpus are EXACT
DECIMAL(38,18) hash aggregates — decimal addition is associative and
commutative, so the distributed sums are order-free and engine-exact
(the poisson_bootstrap DECIMAL-moment idiom); everything row-local
(likelihood products over the K annotators, the per-document posterior
normalization) is a fixed-order fold inside one row's arrays. DS_ITERS
iterations therefore reproduce bit-for-bit in the oracle's unrolled
materialized-CTE chain.

Scale shape (round-10: sufficient-statistics compression): a document
enters the likelihood only through its k-ordered observation vector,
so the corpus collapses to a C^K-bounded pattern histogram (125 cells
here) in ONE distributed hash aggregate; every EM round then runs over
the histogram on the driver with exact-decimal weighted M-steps
(count × per-pattern posterior — bit-equal to the old per-doc
DECIMAL(38,18) hash aggregate) and IEEE-double E-steps in the oracle's
fold order. Total Spark jobs: one class scan + one histogram pass,
independent of DS_ITERS (was one M-step collect + one checkpoint per
round).

Reference analog: none — §2.11 LLM-pipeline extension mandate (label
quality for supervised fine-tuning data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.plans.registry import query

#: fixed EM iterations (the iteration count IS the semantics)
DS_ITERS = 4

#: Laplace-style smoothing on confusion cells — keeps every probability
#: strictly positive so no likelihood product collapses to 0
DS_ALPHA = 0.01

#: (annotator id, multiplier, modulus, rate): doc is mislabeled by
#: annotator k when (doc_id * a) % m < r
ANNOTATORS = ((1, 3, 11, 2), (2, 5, 7, 2), (3, 7, 5, 2))


def _ofold_sql(x: str, k: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list({x} ORDER BY {k})),"
        " (a, b) -> a + b)"
    )


_ANN_VALUES = ", ".join(f"({k}, {a}, {m}, {r})" for k, a, m, r in ANNOTATORS)

_ANN_CTE = f"""classes AS MATERIALIZED (
  SELECT lang AS c,
         CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS idx
  FROM (SELECT DISTINCT lang FROM documents)
), nc AS (SELECT count(*) AS n FROM classes),
truth AS MATERIALIZED (
  SELECT d.doc_id, d.lang AS true_c, c.idx
  FROM documents d JOIN classes c ON d.lang = c.c
),
ann AS MATERIALIZED (
  SELECT t.doc_id, k.k, t.true_c,
         CASE WHEN (t.doc_id * k.a) % k.m < k.r
              THEN (SELECT c FROM classes
                    WHERE idx = (t.idx + 1) % (SELECT n FROM nc))
              ELSE t.true_c END AS obs
  FROM truth t
  CROSS JOIN (VALUES {_ANN_VALUES}) AS k(k, a, m, r)
)"""


def _ds_iter_cte(i, prev: str, with_posteriors: bool = True) -> str:
    z_fold = _ofold_sql("v", "c")
    dec = "DECIMAL(38, 18)"
    head = f"""pi{i} AS MATERIALIZED (
  SELECT c, CAST(sum(CAST(q AS {dec})) AS DOUBLE)
              / (SELECT count(*) FROM truth) AS pi
  FROM {prev} GROUP BY c
), cnum{i} AS MATERIALIZED (
  SELECT a.k, q.c, a.obs, sum(CAST(q.q AS {dec})) AS s
  FROM ann a JOIN {prev} q ON a.doc_id = q.doc_id
  GROUP BY a.k, q.c, a.obs
), cden{i} AS MATERIALIZED (
  SELECT k, c, sum(s) AS d FROM cnum{i} GROUP BY k, c
), conf{i} AS MATERIALIZED (
  SELECT x.k, x.c, cl.c AS obs,
         (CAST(coalesce(n.s, 0) AS DOUBLE) + {DS_ALPHA})
           / (CAST(x.d AS DOUBLE) + {DS_ALPHA} * (SELECT n FROM nc)) AS p
  FROM cden{i} x CROSS JOIN classes cl
  LEFT JOIN cnum{i} n ON n.k = x.k AND n.c = x.c AND n.obs = cl.c
)"""
    if not with_posteriors:
        return head
    return head + f""", lik{i} AS MATERIALIZED (
  SELECT a.doc_id, cf.c,
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                                  list(cf.p ORDER BY a.k)),
                     (a1, b1) -> a1 * b1) AS prod
  FROM ann a JOIN conf{i} cf ON cf.k = a.k AND cf.obs = a.obs
  GROUP BY a.doc_id, cf.c
), un{i} AS MATERIALIZED (
  SELECT l.doc_id, l.c, l.prod * p.pi AS v
  FROM lik{i} l JOIN pi{i} p ON l.c = p.c
), z{i} AS MATERIALIZED (
  SELECT doc_id, {z_fold} AS z FROM un{i} GROUP BY doc_id
), q{i} AS MATERIALIZED (
  SELECT u.doc_id, u.c, u.v / z.z AS q
  FROM un{i} u JOIN z{i} z ON u.doc_id = z.doc_id
)"""


def _ds_oracle() -> str:
    blocks = [
        _ANN_CTE,
        """q0 AS MATERIALIZED (
  SELECT a.doc_id, c.c,
         CAST(sum(CASE WHEN a.obs = c.c THEN 1 ELSE 0 END) AS DOUBLE)
           / {n} AS q
  FROM ann a CROSS JOIN classes c
  GROUP BY a.doc_id, c.c
)""".format(n=len(ANNOTATORS)),
    ]
    prev = "q0"
    for i in range(1, DS_ITERS + 1):
        blocks.append(_ds_iter_cte(i, prev))
        prev = f"q{i}"
    blocks.append(_ds_iter_cte("F", prev, with_posteriors=False))
    return (
        "WITH "
        + ",\n".join(blocks)
        + """
SELECT k AS annotator, c AS true_class, obs AS observed_class,
       round(p, 6) AS p_conf
FROM confF
"""
    )


def _class_list(spark: SparkSession, sf_dir: str) -> list[str]:
    """Sorted class domain, materialized on the driver — the bounded
    5-value lang set, collected once (no unpartitioned ranking window
    over even 5 rows)."""
    docs = load_table(spark, sf_dir, "documents")
    return sorted(
        r["lang"] for r in docs.select("lang").distinct().collect()
    )


def _annotator_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, k, true_c, obs) — the synthesized 3-annotator labels."""
    docs = load_table(spark, sf_dir, "documents")
    cls = _class_list(spark, sf_dir)
    classes = spark.createDataFrame(
        [(c, i) for i, c in enumerate(cls)], "c string, idx bigint"
    )
    n_classes = len(cls)
    nxt = classes.select(
        F.col("idx").alias("__nidx"), F.col("c").alias("__next_c")
    )
    truth = docs.select("doc_id", F.col("lang").alias("true_c")).join(
        F.broadcast(classes.withColumnRenamed("c", "true_c")), "true_c"
    )
    ann = truth.select(
        "doc_id",
        "true_c",
        "idx",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.lit(a).alias("a"),
                        F.lit(m).alias("m"),
                        F.lit(r).alias("r"),
                    )
                    for k, a, m, r in ANNOTATORS
                ]
            )
        ).alias("an"),
    ).select(
        "doc_id",
        "true_c",
        F.col("an.k").alias("k"),
        ((F.col("idx") + 1) % F.lit(n_classes)).alias("__nidx"),
        ((F.col("doc_id") * F.col("an.a")) % F.col("an.m") < F.col("an.r")).alias(
            "__noisy"
        ),
    )
    return (
        ann.join(F.broadcast(nxt), "__nidx")
        .select(
            "doc_id",
            "k",
            "true_c",
            F.when(F.col("__noisy"), F.col("__next_c"))
            .otherwise(F.col("true_c"))
            .alias("obs"),
        )
    )


@query(
    "annotator_labels",
    oracle=f"""
WITH {_ANN_CTE}
SELECT doc_id, k AS annotator, true_c AS true_class, obs AS observed_class
FROM ann
""",
    tags=("annotation", "labels", "quality"),
)
def annotator_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 3-annotator labeling of the documents table
    (module docstring) — the fixture every annotation-quality query in
    this wave consumes, exposed and oracle-checked on its own."""
    return _annotator_labels(spark, sf_dir).select(
        "doc_id",
        F.col("k").alias("annotator"),
        F.col("true_c").alias("true_class"),
        F.col("obs").alias("observed_class"),
    )


@query(
    "dawid_skene_confusion",
    oracle=_ds_oracle(),
    tags=("annotation", "quality", "fitting", "iterative"),
)
def dawid_skene_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dawid-Skene EM, DS_ITERS fixed iterations from the majority-vote
    soft initialization: E-step posteriors ``q_d(c) ∝ π_c ·
    Π_k conf_k(c, obs_kd)``, M-step priors and smoothed confusion
    matrices. Output: every annotator's fitted 5x5 confusion matrix.

    Execution shape (round-10 fusion — sufficient-statistics
    compression, the 100 TB EM form): two documents with the same
    k-ordered observation vector have IDENTICAL posteriors at every
    iteration, so the corpus collapses to a C^K-bounded histogram of
    observation patterns (125 cells here) in ONE distributed hash
    aggregate; all DS_ITERS EM rounds then run over the pattern
    histogram on the driver — zero per-round Spark jobs vs the old
    loop's one M-step collect per round. The M-step stays EXACT: each
    pattern's posterior is cast to DECIMAL(38,18) with Spark's own
    shortest-repr + HALF_UP semantics (verified bitwise against the
    engine's cast) and multiplied by the integer pattern count — the
    same value the old per-doc decimal hash aggregate summed doc by
    doc, since decimal arithmetic is exact. The E-step replicates the
    oracle's ORDER BY folds in IEEE doubles (product over k order,
    partition function over class order), so all DS_ITERS rounds
    reproduce the unrolled-CTE oracle to the bit, pattern by pattern."""
    cls = _class_list(spark, sf_dir)
    C = len(cls)
    K = len(ANNOTATORS)
    cls_arr = F.array(*[F.lit(c) for c in cls])
    labels = _annotator_labels(spark, sf_dir).select(
        "doc_id",
        "k",
        (F.array_position(cls_arr, F.col("obs")) - 1).alias("oi"),
    )
    # one row per doc (k-ordered obs vector), then the C^K-bounded
    # pattern histogram — the fit's ONLY corpus-sized work
    per_doc = labels.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("k", "oi"))),
            lambda st: st["oi"],
        ).alias("ois")
    )
    hist = (
        per_doc.groupBy("ois")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    )
    patterns = [
        ([int(o) for o in r["ois"]], int(r["cnt"])) for r in hist
    ]
    n_docs = sum(cnt for _, cnt in patterns)

    from decimal import ROUND_HALF_UP, Decimal, localcontext

    _Q18 = Decimal(1).scaleb(-18)

    def collect_model(qvs):
        """M-step over the pattern histogram: π and confusion
        numerators as exact decimal sums (count × per-pattern
        posterior), matching the old per-doc DECIMAL(38,18) hash
        aggregate bit-for-bit; the smoothed divisions run in double
        like the oracle's."""
        with localcontext() as ctx:
            ctx.prec = 60  # keep count×quantized products exact
            zero = Decimal(0)
            num = {
                (k + 1, o, c): zero
                for k in range(K)
                for o in range(C)
                for c in range(C)
            }
            for (ois, cnt), qv in zip(patterns, qvs):
                for c in range(C):
                    # Spark's double->decimal cast goes through the
                    # SHORTEST decimal repr (Double.toString), then
                    # setScale(18, HALF_UP) — repr() is the same
                    # shortest-roundtrip value in Python
                    qdec = Decimal(repr(qv[c])).quantize(
                        _Q18, rounding=ROUND_HALF_UP
                    ) * cnt
                    for k in range(K):
                        num[(k + 1, ois[k], c)] += qdec
            # π falls out of the numerators for free: every doc
            # contributes q_d(c) to exactly one (k=1, obs) cell, and
            # decimal addition is exact
            pi = [
                float(sum(num[(1, o, c)] for o in range(C))) / n_docs
                for c in range(C)
            ]
            conf = {}
            for k in range(1, K + 1):
                for c in range(C):
                    den = float(sum(num[(k, o, c)] for o in range(C)))
                    for o in range(C):
                        conf[(k, o, c)] = (
                            float(num[(k, o, c)]) + DS_ALPHA
                        ) / (den + DS_ALPHA * C)
        return pi, conf

    # majority-vote soft init, per pattern (identical for every doc
    # sharing the pattern)
    qvs = [
        [ois.count(c) / float(K) for c in range(C)] for ois, _ in patterns
    ]
    for _ in range(DS_ITERS):
        pi, conf = collect_model(qvs)
        # E-step per pattern: pi_c * prod_k conf[k, obs_k, c] (k-ordered
        # product), normalized with the class-ordered left fold — the
        # exact op sequence of the oracle's row-local expressions
        new_qvs = []
        for ois, _cnt in patterns:
            prod = [1.0] * C
            for k in range(K):
                kc = [conf[(k + 1, ois[k], c)] for c in range(C)]
                prod = [prod[c] * kc[c] for c in range(C)]
            v = [prod[c] * pi[c] for c in range(C)]
            z = 0.0
            for c in range(C):
                z = z + v[c]
            new_qvs.append([v[c] / z for c in range(C)])
        qvs = new_qvs

    from atlassian_confluence_data_pipeline_spark import iterstats

    iterstats.record("dawid_skene_confusion", DS_ITERS)
    _, conf = collect_model(qvs)
    out_rows = [
        (k, cls[c], cls[o], conf[(k, o, c)])
        for k in range(1, K + 1)
        for c in range(C)
        for o in range(C)
    ]
    return spark.createDataFrame(
        out_rows,
        "annotator int, true_class string, observed_class string, p_conf double",
    ).select(
        "annotator",
        "true_class",
        "observed_class",
        # round ENGINE-side: Spark/DuckDB round half-up; Python's
        # builtin is half-even and would diverge on exact ties
        F.round("p_conf", 6).alias("p_conf"),
    )
