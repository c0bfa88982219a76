"""Sixth-wave training-data curation operators.

Data-selection and corpus-diagnostic shapes that round out the
LLM-pipeline surface (driver mandate X2-X4):

- DSIR-style importance weighting (hashed-unigram log-likelihood ratio
  against a target slice — Xie et al. 2023's data-selection shape),
- a hashed-feature linear quality classifier (the fastText-style
  keep/drop scorer every web pipeline runs, with deterministic
  hash-derived weights so the oracle reproduces every score),
- per-document unigram entropy + type-token ratio (diversity signals),
- the shingle document-frequency spectrum (corpus-level duplication
  diagnostic: how many 3-shingles appear in exactly k documents),
- a k-NN graph over the embedding corpus via SRP-LSH candidates
  (the semantic-neighborhood structure semdedup/clustering consume),
- MinHash estimator calibration (estimated vs exact Jaccard per
  candidate pair — the error the (k, bands) choice actually yields).

Every query is DuckDB-oracle-paired through the same engine-portable
hash families as the round-2 LSH work (functions/text.py rolling hash,
operators/lsh.py affine permutations) and the ordered-fold double
discipline (position- or key-ordered left folds) so float totals are
bit-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.functions.text import (
    ROLLING_MOD,
    rolling_hash,
    rolling_hash_sql,
)
from atlassian_confluence_data_pipeline_spark.operators.lsh import (
    BAND_BASE,
    BAND_MOD,
    MINHASH_PERMS,
    SIMHASH_THRESHOLD,
    SRP_PERMS,
    shingle_hashes_sql,
    with_srp_fingerprint,
)
from atlassian_confluence_data_pipeline_spark.plans.multimodal import (
    MINHASH_BANDS,
    MINHASH_K,
)
from atlassian_confluence_data_pipeline_spark.plans.registry import query

#: hashed-feature space for DSIR / the linear classifier — small enough
#: that the per-bucket stats table broadcasts everywhere, large enough
#: that the fixture vocabulary (~60 words) rarely collides
N_BUCKETS = 256
DSIR_TARGET_LANG = "en"

#: deterministic weight formula for the linear classifier: Knuth
#: multiplicative mix of the bucket id, exact in INT64 (bucket < 256)
_W_MULT = 2654435761
_W_ADD = 987654321
_W_MOD = 1000003

#: k-NN graph: SRP candidate generation (same thresholds as
#: embedding_lsh_pairs' candidate stage) + top-k by exact cosine
KNN_K = 3
KNN_MAX_HAMMING = 26
KNN_CHUNKS = 8


def _tok_bucket_sql() -> str:
    """Shared CTE prefix: tokenize documents and hash every token into
    ``N_BUCKETS`` feature buckets with the portable rolling hash."""
    return f"""
w AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), tok AS (
  SELECT doc_id, lang, unnest(w) AS word, generate_subscripts(w, 1) AS pos
  FROM w
), tb AS (
  SELECT doc_id, lang, pos, {rolling_hash_sql('word')} % {N_BUCKETS} AS b FROM tok
)"""


@query(
    "dsir_importance_weights",
    oracle=f"""
WITH {_tok_bucket_sql()},
rawc AS (
  SELECT b, count(*) AS c_r FROM tb GROUP BY 1
), tgtc AS (
  SELECT b, count(*) AS c_t FROM tb WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
), n AS (
  SELECT (SELECT count(*) FROM tb) AS n_r,
         (SELECT count(*) FROM tb WHERE lang = '{DSIR_TARGET_LANG}') AS n_t
), buckets AS (
  SELECT r.b,
         ln(CAST(coalesce(t.c_t, 0) + 1 AS DOUBLE) / CAST(n.n_t + {N_BUCKETS} AS DOUBLE))
         - ln(CAST(r.c_r + 1 AS DOUBLE) / CAST(n.n_r + {N_BUCKETS} AS DOUBLE)) AS delta
  FROM rawc r LEFT JOIN tgtc t USING (b) CROSS JOIN n
)
SELECT tb.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(bu.delta ORDER BY tb.pos)),
                         (a, b) -> a + b), 6) AS dsir_weight
FROM tb JOIN buckets bu USING (b)
GROUP BY tb.doc_id
""",
    tags=("curation", "sampling", "quality", "pipeline"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: per-document log-likelihood ratio
    between a TARGET hashed-unigram distribution (the '{en}' slice —
    the high-resource proxy a selection run would target) and the RAW
    corpus distribution, add-one smoothed over 256 hash buckets. A
    document's weight is sum_tokens [ln p_tgt(b) - ln p_raw(b)] — the
    statistic importance resampling thresholds on.

    Scale shape: token->bucket hashing is a narrow projection; the two
    bucket-count aggregates reduce to <=256 rows each and the merged
    per-bucket delta table BROADCASTS onto the token stream, so the
    only wide exchange is the final per-document aggregate. Corpus
    cardinalities are scalar count() actions (loop-control scalars, not
    data collects). The per-document sum is a position-ordered left
    fold so the float total is deterministic and oracle-identical."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        doc_word_positions,
    )

    # session-staged token stream (round 11) replaces the per-build
    # regex explode feeding the hashed-bucket checkpoint below
    tok = doc_word_positions(spark, sf_dir).select(
        "doc_id", "lang", "pos", "word"
    )
    # The hashed token stream feeds FOUR consumers (raw buckets, target
    # buckets, two corpus scalars, final per-doc fold); materialize it
    # once instead of re-running the regex explode + hash per pass
    # (guide §1.2: don't recompute what you throw away — the checkpoint
    # is narrow ints + the doc id).
    tb = tok.select(
        "doc_id", "lang", "pos", (rolling_hash(F.col("word")) % N_BUCKETS).alias("b")
    ).localCheckpoint(eager=True)
    rawc = tb.groupBy("b").agg(F.count(F.lit(1)).alias("c_r"))
    tgtc = (
        tb.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    # both corpus cardinalities in ONE job instead of two count() passes
    totals = tb.agg(
        F.count(F.lit(1)).alias("n_r"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("n_t"),
    ).first()
    n_r, n_t = totals["n_r"], totals["n_t"]
    delta = F.log(
        (F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double")
        / F.lit(float(n_t + N_BUCKETS))
    ) - F.log((F.col("c_r") + 1).cast("double") / F.lit(float(n_r + N_BUCKETS)))
    buckets = rawc.join(tgtc, "b", "left").select("b", delta.alias("delta"))
    return (
        tb.join(F.broadcast(buckets), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "delta"))),
                        lambda s: s["delta"],
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                ),
                6,
            ).alias("dsir_weight"),
        )
    )


@query(
    "linear_quality_classifier",
    oracle=f"""
WITH {_tok_bucket_sql()},
wt AS (
  SELECT doc_id, pos,
         CAST((b * {_W_MULT} + {_W_ADD}) % {_W_MOD} AS DOUBLE) / {_W_MOD} - 0.5
           AS wgt
  FROM tb
), scored AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(wgt ORDER BY pos)),
                     (a, b) -> a + b) / count(*) AS logit
  FROM wt GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(logit, 6) AS quality_logit,
       CAST(CASE WHEN logit > 0 THEN 1 ELSE 0 END AS INT) AS predicted_keep
FROM scored
""",
    tags=("curation", "quality", "classifier", "pipeline"),
)
def linear_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier — the fastText-style
    keep/drop scorer (hash each token into a bucket, sum the bucket
    weights, threshold the mean activation). Weights are DETERMINISTIC
    — a Knuth multiplicative mix of the bucket id, exact in INT64 — so
    this exercises the full inference plan (hash -> lookup-free weight
    -> mean -> decision) while staying bit-reproducible in any engine;
    swapping in trained weights is a literal-array change. The decision
    is taken on the RAW logit (no sigmoid: a monotone transform cannot
    change the argmax, and exp() is the one libm call the cross-engine
    bit-parity contract cannot guarantee).

    Scale shape: everything up to the per-document aggregate is a
    narrow projection; one wide exchange (doc_id), position-ordered
    fold for the deterministic float mean."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        doc_word_positions,
    )

    # session-staged token stream (round 11)
    tok = doc_word_positions(spark, sf_dir).select("doc_id", "pos", "word")
    wgt = (
        ((rolling_hash(F.col("word")) % N_BUCKETS) * _W_MULT + _W_ADD) % _W_MOD
    ).cast("double") / _W_MOD - 0.5
    wt = tok.select("doc_id", "pos", wgt.alias("wgt"))
    scored = wt.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "wgt"))),
                    lambda s: s["wgt"],
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.count(F.lit(1))
        ).alias("logit"),
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("logit", 6).alias("quality_logit"),
        F.when(F.col("logit") > 0, 1).otherwise(0).cast("int").alias("predicted_keep"),
    )


@query(
    "word_entropy_scores",
    oracle="""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS word FROM w
), c AS (
  SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2
), t AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM c GROUP BY 1
), terms AS (
  SELECT c.doc_id, c.word,
         (CAST(c.c AS DOUBLE) / t.n_tokens)
           * ln(CAST(c.c AS DOUBLE) / t.n_tokens) AS term
  FROM c JOIN t USING (doc_id)
)
SELECT t.doc_id, t.n_tokens, t.n_distinct,
       round(-(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                        list(terms.term ORDER BY terms.word)),
                           (a, b) -> a + b)) / ln(CAST(2 AS DOUBLE)), 6)
         AS entropy_bits,
       round(CAST(t.n_distinct AS DOUBLE) / t.n_tokens, 6) AS ttr
FROM terms JOIN t USING (doc_id)
GROUP BY t.doc_id, t.n_tokens, t.n_distinct
""",
    tags=("curation", "quality", "text", "pipeline"),
)
def word_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (bits) + type-token ratio —
    the lexical-diversity pair of quality signals (low entropy = spammy
    repetition; the inverse face of repetition_scores' dup-bigram
    fraction). Entropy is -sum p ln p / ln 2 over the document's own
    word distribution.

    Scale shape: one exchange on (doc_id, word) for the counts, one on
    doc_id for the per-document reduce; the entropy sum folds terms in
    word-sorted order (words are unique per document after the count
    aggregate) so the float total is deterministic cross-engine."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        doc_word_positions,
    )

    # session-staged token stream (round 11)
    tok = doc_word_positions(spark, sf_dir).select("doc_id", "word")
    c = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    t = c.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("n_tokens")
    terms = c.join(t, "doc_id").select(
        "doc_id", "word", "n_tokens", "n_distinct", (p * F.log(p)).alias("term")
    )
    ent = -F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", "term"))),
            lambda s: s["term"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    ) / F.log(F.lit(2.0))
    return terms.groupBy("doc_id", "n_tokens", "n_distinct").agg(
        F.round(ent, 6).alias("entropy_bits"),
        F.round(
            F.first(F.col("n_distinct").cast("double") / F.col("n_tokens")), 6
        ).alias("ttr"),
    )


def _shingle_cte(src: str = "documents") -> str:
    """Shared oracle CTE: per-document distinct hashed 3-shingles ``hs``
    (``t``), and the documents that have any (``ne``)."""
    return f"""
w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM {src}
), wht AS (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), t AS (
  SELECT doc_id, {shingle_hashes_sql()} AS hs FROM wht
), ne AS (
  SELECT doc_id, hs FROM t WHERE len(hs) > 0
)"""


@query(
    "shingle_df_spectrum",
    oracle=f"""
WITH {_shingle_cte()},
s AS (
  SELECT doc_id, unnest(hs) AS h FROM ne
), dfreq AS (
  SELECT h, CAST(count(*) AS BIGINT) AS df FROM s GROUP BY 1
)
SELECT df, CAST(count(*) AS BIGINT) AS n_shingles
FROM dfreq GROUP BY 1
""",
    tags=("curation", "dedup", "diagnostic"),
)
def shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency spectrum: for k = 1, 2, ..., how many
    distinct 3-word shingles appear in exactly k documents. The
    corpus-level duplication diagnostic read BEFORE choosing dedup
    thresholds — a heavy df>=2 tail says near-dup dedup will pay off;
    the df=1 mass is the unique core. Shingles are the same portable
    hashed 3-grams the MinHash chain blocks on, so the spectrum is
    exactly the distribution that LSH's candidate volume depends on.

    Scale shape: two cascaded hash aggregates (shingle -> df, df ->
    count), both with map-side partials; per-document shingle sets are
    already distinct so no distinct aggregate is needed. The shingle
    hashes are the session-shared ``minhash_doc_hashes`` stage."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        minhash_doc_hashes,
    )

    s = minhash_doc_hashes(spark, sf_dir).select(
        "doc_id", F.explode("hs").alias("h")
    )
    dfreq = s.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return dfreq.groupBy("df").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )


def _srp_fingerprint_cte() -> str:
    """Oracle CTEs ``e, d, f`` reproducing
    operators/lsh.with_srp_fingerprint bit-for-bit: ``f(vec_id, v,
    fp)``, the fingerprint of every SRP consumer's oracle. Each
    ``list_sum`` adds the signed terms left to right from 0, the order
    of the kernel's fold. The kernel's edge rules hold too: a vector
    with a null element gives 0 (``list_sum`` alone would skip the
    element), a null vector or an empty array gives 0 (its dots are
    null), and a NaN dot sets its bit (NaN sorts above 0 in DuckDB)."""
    dots = ",\n         ".join(
        f"list_sum(list_transform(range(1, len(v)+1), j -> "
        f"CASE WHEN ({a} * (j-1) + {b}) % {ROLLING_MOD} >= {SIMHASH_THRESHOLD} "
        f"THEN v[j] ELSE -v[j] END)) AS d{i}"
        for i, (a, b) in enumerate(SRP_PERMS)
    )
    fp_terms = [
        f"CASE WHEN d{i} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(63)
    ] + [
        "CASE WHEN d63 >= 0 THEN CAST(-9223372036854775808 AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
    ]
    fp = "\n       + ".join(fp_terms)
    return f"""
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), d AS (
  SELECT vec_id, v,
         {dots}
  FROM e
), f AS (
  SELECT vec_id, v,
       CASE WHEN list_count(v) < len(v) THEN CAST(0 AS BIGINT) ELSE
       {fp}
       END AS fp
  FROM d
)"""


def _knn_oracle() -> str:
    width = 64 // KNN_CHUNKS
    mask = (1 << width) - 1
    chunk_eq = " OR ".join(
        f"((a.fp >> {i * width}) & {mask}) = ((b.fp >> {i * width}) & {mask})"
        for i in range(KNN_CHUNKS)
    )
    cos = (
        "list_sum(list_transform(range(1, len(va)+1), i -> va[i] * vb[i]))"
        " / (sqrt(list_sum(list_transform(va, x -> x * x)))"
        " * sqrt(list_sum(list_transform(vb, x -> x * x))))"
    )
    return f"""
WITH {_srp_fingerprint_cte()},
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, a.v AS va, b.v AS vb,
         bit_count(xor(a.fp, b.fp)) AS hamming
  FROM f a JOIN f b ON a.vec_id <> b.vec_id AND ({chunk_eq})
), scored AS (
  SELECT src, dst, {cos} AS cos
  FROM cand WHERE hamming <= {KNN_MAX_HAMMING}
), ranked AS (
  SELECT src, dst, cos,
         row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
  FROM scored
)
SELECT src, dst, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {KNN_K}
""".replace("\n\ne AS", "\ne AS")


@query(
    "knn_graph_lsh",
    oracle=_knn_oracle(),
    tags=("similarity", "vector", "lsh", "graph"),
)
def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the embedding corpus: each vector's
    top-{k} nearest candidates by exact cosine, candidates generated by
    the SAME SRP pigeonhole banding as embedding_lsh_pairs (Hamming <=
    26 over 8 chunks) — the semantic-neighborhood structure that
    SemDeDup clustering, diversity sampling, and graph-based curation
    all consume. Unlike the pair queries the graph is DIRECTED: the
    candidate list is symmetrized and ranked per source vector.

    Scale shape: candidate generation is the chunk equi-join
    (near-linear); the per-source top-k is a rank<=k filter over a
    keyed window, which Spark executes with WindowGroupLimit pruning
    (per-partition heaps of k rows, asserted for the top-k family in
    tests/test_scale_patterns.py) — never a global sort. Ties on cosine
    break by dst id, and cosine folds element-in-order on both engines,
    so ranks are bit-deterministic."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        srp_candidate_cosines,
    )

    # session-shared fingerprint + banding + exact-cosine verify stages
    # (round-5 advice item 1; round-6 item 6); the honest chain shape
    # stays audited under embedding_lsh_pairs. The graph is DIRECTED:
    # symmetrize the verified pair cosines (dot and the norm product
    # commute bitwise, so (b -> a) reuses (a, b)'s cosine exactly).
    vc = srp_candidate_cosines(
        spark, sf_dir, max_hamming=KNN_MAX_HAMMING, chunks=KNN_CHUNKS
    )
    scored = vc.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "cos"
    ).union(
        vc.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "cos")
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("src", "dst", F.round("cos", 6).alias("cos"), F.col("rank").cast("int").alias("rank"))
    )


def _calibration_oracle() -> str:
    rows = MINHASH_K // MINHASH_BANDS
    mins = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {ROLLING_MOD}))"
        for a, b in MINHASH_PERMS[:MINHASH_K]
    )
    jac = (
        "CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)"
        " / (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b)))"
    )
    return f"""
WITH {_shingle_cte()},
sig AS (
  SELECT doc_id, hs,
         [{mins}] AS sig
  FROM ne
), banded AS (
  SELECT doc_id, hs, sig, list_transform(range(0, {MINHASH_BANDS}), bi ->
    list_reduce(list_prepend(CAST(bi AS BIGINT),
        list_transform(range(1, {rows} + 1), m -> sig[bi * {rows} + m])),
      (acc, v) -> (acc * {BAND_BASE} + v) % {BAND_MOD})) AS bk
  FROM sig
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sa, b.sig AS sb, a.hs AS hs_a, b.hs AS hs_b
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id AND len(list_intersect(a.bk, b.bk)) > 0
), sel AS (
  SELECT id_a, id_b,
         round(CAST(len(list_filter(range(1, {MINHASH_K} + 1),
                                    i -> sa[i] = sb[i])) AS DOUBLE)
               / {MINHASH_K}, 6) AS est_jaccard,
         round({jac}, 6) AS jaccard
  FROM cand
)
SELECT id_a, id_b, est_jaccard, jaccard,
       round(abs(est_jaccard - jaccard), 6) AS abs_err
FROM sel
"""


@query(
    "minhash_estimate_calibration",
    oracle=_calibration_oracle(),
    tags=("dedup", "lsh", "diagnostic"),
)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every banded-LSH candidate
    pair, the signature-agreement estimate of Jaccard (matching slots /
    k) next to the EXACT shingle Jaccard, plus the absolute error — the
    empirical answer to 'is k=32 enough for our threshold?' that tunes
    the (k, bands) trade every dedup deployment makes. Error columns
    are derived from the ROUNDED estimates so the arithmetic is
    bit-identical cross-engine.

    Scale shape: identical candidate machinery as minhash_lsh_pairs
    (one signature HashAggregate, banded equi-join); the comparison
    joins signatures and shingle sets per CANDIDATE only — never
    all-pairs. Base, signature and candidate stages are the
    session-shared _cache.py chain (round-6 item 2: this query was the
    #2 bench cost purely from rebuilding the signature stage its
    siblings had already built)."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        minhash_band_candidates,
        minhash_doc_hashes,
        minhash_signatures,
    )

    base = minhash_doc_hashes(spark, sf_dir).filter(
        F.size("hs") > 0
    )
    sig = minhash_signatures(spark, sf_dir)
    pairs = minhash_band_candidates(spark, sf_dir)
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    ha = base.select(F.col("doc_id").alias("id_a"), F.col("hs").alias("hs_a"))
    hb = base.select(F.col("doc_id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    matches = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda b: b)
    )
    # materialize intersection + sizes before the ratio (the house
    # verify-stage barrier: the Jaccard expression references the
    # intersection twice)
    sized = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            matches.alias("__m"),
            inter.alias("__i"),
            (F.size("hs_a") + F.size("hs_b")).alias("__s"),
        )
        .localCheckpoint(eager=False)
    )
    est = F.round(F.col("__m").cast("double") / MINHASH_K, 6)
    jac = F.round(
        F.col("__i").cast("double") / (F.col("__s") - F.col("__i")), 6
    )
    sel = sized.select(
        "id_a", "id_b", est.alias("est_jaccard"), jac.alias("jaccard")
    )
    return sel.withColumn(
        "abs_err", F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6)
    )
