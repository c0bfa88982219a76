"""Seventh-wave training-data curation operators.

The retrieval-prep / data-selection shapes that finish out the
LLM-pipeline surface (driver mandate X1-X5):

- overlapping token-window document chunking (the RAG/packing prep step
  every retrieval corpus runs, with per-chunk content hashes),
- tokenizer vocabulary coverage (per-document OOV rate against the
  corpus' own top-df vocabulary — the "will my tokenizer shred this
  text" diagnostic),
- per-source document caps (the domain-quota sampling CommonCrawl
  pipelines apply so no single source dominates the mixture),
- Bloom-filter decontamination with a false-positive audit against the
  exact n-gram join (the constant-memory broadcast structure that
  replaces the exact hash-set when the holdout no longer fits),
- embedding whitening (per-dimension standardization with exact
  integer-quantized moments, the normalization step before ANN /
  clustering),
- farthest-point (k-center) diverse selection — the greedy coreset
  every diversity-sampling recipe reduces to,
- contrastive hard-negative mining over SRP-LSH candidates (anchor /
  nearest-positive / hardest-negatives triples for embedding training).

All queries follow the house float discipline: portable rolling-hash
families shared with the DuckDB oracles, integer/DECIMAL-exact moments,
and position-ordered left folds so every double is bit-identical
cross-engine. Reference parity note: the reference pipeline
(`/root/reference`) has no analog for any of these — they are the
driver-mandated §2.11 extensions, built Spark-first.
"""

from __future__ import annotations

import math
import threading as _threading

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.functions.text import (
    ROLLING_MOD,
    rolling_hash_sql,
)
from atlassian_confluence_data_pipeline_spark.operators.lsh import (
    BAND_BASE,
    MINHASH_PERMS,
    shingle_hashes_from_word_hashes,
    shingle_hashes_sql,
    word_hashes,
)
from atlassian_confluence_data_pipeline_spark.operators.similarity import (
    dot,
    l2_norm,
)
from atlassian_confluence_data_pipeline_spark.plans.curation import (
    DECONTAM_HOLDOUT,
    DECONTAM_N,
)
from atlassian_confluence_data_pipeline_spark.plans.curation3 import (
    _srp_fingerprint_cte,
)
from atlassian_confluence_data_pipeline_spark.plans.registry import query

#: chunking: 32-token windows advancing 24 tokens (8-token overlap) —
#: the context-window prep shape; constants are per-run config
CHUNK_W = 32
CHUNK_S = 24

#: vocabulary coverage: top-N words by document frequency
VOCAB_TOP = 100

#: per-source quota (domain cap)
SOURCE_CAP = 50

#: Bloom decontamination: position space + probe count. The fixture
#: keeps the bitmap literal-sized; production swaps in a ~1e9-bit
#: binary bitmap broadcast + the same 3 affine probes.
BLOOM_BITS = 4096
BLOOM_PROBES = tuple(MINHASH_PERMS[32 : 32 + 3])

#: embedding whitening: quantization scale for exact integer moments
#: (|v| < 1 in the fixture, so floor(v * 2^20) is lossless in double)
QUANT_SCALE = 1 << 20

#: farthest-point selection size
MMR_K = 8

#: hard-negative mining: SRP candidate thresholds (same family as
#: knn_graph_lsh) + negatives per anchor
HN_MAX_HAMMING = 26
HN_CHUNKS = 8
HN_NEG_K = 2


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------

def _chunk_oracle() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), wht AS (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), nc AS (
  SELECT doc_id, wh,
         1 + (greatest(len(wh) - {CHUNK_W}, 0) + {CHUNK_S} - 1) // {CHUNK_S}
           AS n_chunks
  FROM wht
), ch AS (
  SELECT doc_id, wh, unnest(range(0, n_chunks)) AS chunk_id FROM nc
), sl AS (
  SELECT doc_id, chunk_id,
         wh[chunk_id * {CHUNK_S} + 1 : chunk_id * {CHUNK_S} + {CHUNK_W}]
           AS chunk
  FROM ch
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(chunk) AS INT) AS n_tokens,
       list_reduce(list_prepend(CAST(0 AS BIGINT), chunk),
                   (a, b) -> (a * {BAND_BASE} + b) % {ROLLING_MOD})
         AS chunk_hash
FROM sl
"""


@query(
    "chunk_documents",
    oracle=_chunk_oracle(),
    tags=("curation", "chunking", "retrieval", "pipeline"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the RAG-corpus prep step:
    each document becomes ceil-spaced {W}-token windows advancing
    {S} tokens (8-token overlap), each chunk carrying a portable
    rolling content hash (the chunk-level dedup key). The last chunk
    keeps the tail even when shorter than the window.

    Scale shape: per-document arithmetic only — word hashing is one
    narrow projection, chunk starts come from `sequence()` (no join,
    no shuffle anywhere), and `slice` clamps at the tail so no guard
    predicates re-inline the hash fold. Chunk explosion multiplies
    rows by ~n/{S} — the expected output geometry, not a blow-up."""
    docs = load_table(spark, sf_dir, "documents")
    wh = (
        word_hashes(docs.select("doc_id", "text"))
        # barrier: the per-chunk slices reference wh n_chunks times;
        # without it CollapseProject re-inlines the char fold per slice
        .localCheckpoint(eager=False)
    )
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(F.size("wh") - CHUNK_W, F.lit(0)) + CHUNK_S - 1) / CHUNK_S
        ).cast("int")
    )
    ch = wh.select(
        "doc_id",
        "wh",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(F.col("wh"), F.col("chunk_id") * CHUNK_S + 1, CHUNK_W)
    sl = ch.select("doc_id", "chunk_id", chunk.alias("chunk"))
    return sl.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size("chunk").cast("int").alias("n_tokens"),
        F.aggregate(
            F.col("chunk"),
            F.lit(0).cast("bigint"),
            lambda a, b: (a * BAND_BASE + b) % ROLLING_MOD,
        ).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage
# ---------------------------------------------------------------------------

@query(
    "vocab_oov_rates",
    oracle=f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS word FROM w
), dfreq AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), vocab AS (
  SELECT word FROM dfreq ORDER BY df DESC, word LIMIT {VOCAB_TOP}
), j AS (
  SELECT t.doc_id, CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok t LEFT JOIN vocab v USING (word)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
FROM j GROUP BY 1
""",
    tags=("curation", "text", "tokenizer", "quality"),
)
def vocab_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the corpus' own top-{N}
    vocabulary by document frequency (ties broken by word, so the
    cut is total-ordered) and report each document's out-of-vocabulary
    token count and rate — the diagnostic for how much of a corpus a
    fixed vocab will shred into unknowns.

    Scale shape: df-counting is two cascaded hash aggregates with
    map-side partials; the vocab cut is a global top-{N}
    (TakeOrderedAndProject, never a full sort); membership is a
    BROADCAST left join of a {N}-row table onto the token stream, then
    one per-document aggregate — the corpus shuffles once, on doc_id."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        doc_word_positions,
    )

    # session-staged token stream (round 11)
    tok = doc_word_positions(spark, sf_dir).select("doc_id", "word")
    dfreq = tok.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    vocab = (
        dfreq.orderBy(F.col("df").desc(), "word")
        .limit(VOCAB_TOP)
        .select("word", F.lit(1).alias("__in"))
    )
    j = tok.join(F.broadcast(vocab), "word", "left")
    oov = F.when(F.col("__in").isNull(), 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(F.sum(oov).cast("double") / F.count(F.lit(1)), 6).alias(
            "oov_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Per-source cap
# ---------------------------------------------------------------------------

@query(
    "docs_per_source_cap",
    oracle=f"""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS r
  FROM documents
), totals AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         sum(n_chars) AS total_chars
  FROM documents GROUP BY 1
), kept AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         sum(n_chars) AS kept_chars
  FROM ranked WHERE r <= {SOURCE_CAP} GROUP BY 1
)
SELECT t.source, t.n_docs, k.n_kept,
       round(CAST(k.kept_chars AS DOUBLE) / t.total_chars, 6)
         AS kept_char_share
FROM totals t JOIN kept k USING (source)
""",
    tags=("curation", "sampling", "window", "pipeline"),
)
def docs_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (domain cap): keep at most {CAP} docs
    per source, preferring longer documents (n_chars desc, doc_id
    tie-break), and report each source's kept count and kept-character
    share — the anti-domination sampling web pipelines apply before
    mixing sources.

    Scale shape: the rank<=cap filter sits directly on the window, so
    Spark runs it with WindowGroupLimit pruning (per-partition top-cap
    heaps — the same asserted shape as the top-k family); totals are
    one hash aggregate and the final join is 20 rows a side. Source
    skew bounds the window partition, and the cap bounds its output."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    kept = (
        docs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= SOURCE_CAP)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return totals.join(kept, "source").select(
        "source",
        "n_docs",
        "n_kept",
        F.round(
            F.col("kept_chars").cast("double") / F.col("total_chars"), 6
        ).alias("kept_char_share"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

def _bloom_oracle() -> str:
    probe_exprs = [
        f"(({a} * h + {b}) % {ROLLING_MOD}) % {BLOOM_BITS}"
        for a, b in BLOOM_PROBES
    ]
    probes_union = " UNION ALL ".join(
        f"SELECT {p} AS p FROM bh" for p in probe_exprs
    )
    hit = " AND ".join(
        f"ba[(({a} * h + {b}) % {ROLLING_MOD}) % {BLOOM_BITS} + 1] = 1"
        for a, b in BLOOM_PROBES
    )
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), wht AS (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), t AS (
  SELECT doc_id, {shingle_hashes_sql(DECONTAM_N)} AS hs FROM wht
), bh AS (
  SELECT DISTINCT unnest(hs) AS h FROM t WHERE doc_id < {DECONTAM_HOLDOUT}
), pos AS (
  SELECT DISTINCT p FROM ({probes_union})
), barr AS (
  SELECT list(CASE WHEN pos.p IS NOT NULL THEN 1 ELSE 0 END
              ORDER BY r.range) AS ba
  FROM range(0, {BLOOM_BITS}) r LEFT JOIN pos ON r.range = pos.p
), corpus AS (
  SELECT doc_id, hs FROM t
  WHERE doc_id >= {DECONTAM_HOLDOUT} AND len(hs) > 0
), bloomed AS (
  SELECT doc_id, CAST(len(hs) AS INT) AS n_ngrams,
         CAST(len(list_filter(hs, h -> {hit})) AS INT) AS n_bloom_hits
  FROM corpus CROSS JOIN barr
), exact AS (
  SELECT c.doc_id, CAST(count(*) AS INT) AS n_exact_hits
  FROM (SELECT doc_id, unnest(hs) AS h FROM corpus) c
  JOIN bh ON c.h = bh.h GROUP BY 1
)
SELECT b.doc_id, b.n_ngrams, b.n_bloom_hits,
       coalesce(e.n_exact_hits, 0) AS n_exact_hits,
       b.n_bloom_hits - coalesce(e.n_exact_hits, 0) AS n_false_pos
FROM bloomed b LEFT JOIN exact e USING (doc_id)
"""


@query(
    "bloom_decontaminate",
    oracle=_bloom_oracle(),
    tags=("curation", "decontamination", "sketch", "pipeline"),
)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination with a false-positive audit: the
    holdout's distinct 8-gram hashes populate a {BITS}-bit Bloom filter
    (3 affine probes from the house permutation family), every corpus
    document counts its n-grams that HIT the filter, and the exact
    broadcast-join count sits alongside so the extra column IS the
    filter's false-positive count (a Bloom filter never produces false
    negatives — asserted in tests). This is the structure that replaces
    decontaminate_overlap's exact hash set once the holdout stops
    fitting in a broadcast: the bitmap is CONSTANT-size no matter how
    many n-grams feed it.

    Scale shape: the corpus never shuffles — the bitmap is a fixed
    {BITS}-slot literal applied per-row (production: a ~1e9-bit binary
    bitmap broadcast once per executor, same probes), and only
    filter-HITTING n-grams enter the exact-verify join, so the join's
    left side is already contamination-sized. Building the bitmap
    collects <= {BITS} set positions — fixed-size loop-control data,
    the same class as k-means centroids, never corpus-scale."""
    docs = load_table(spark, sf_dir, "documents")
    hs = (
        word_hashes(docs)
        .select(
            "doc_id",
            shingle_hashes_from_word_hashes(F.col("wh"), n=DECONTAM_N).alias("hs"),
        )
        .localCheckpoint(eager=True)
    )
    bench = (
        hs.filter(F.col("doc_id") < DECONTAM_HOLDOUT)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )

    def _pos(j: int, h: Column) -> Column:
        a, b = BLOOM_PROBES[j]
        return ((F.lit(a) * h + F.lit(b)) % ROLLING_MOD) % BLOOM_BITS

    set_positions = sorted(
        r["p"]
        for r in bench.select(
            F.explode(
                F.array(*[_pos(j, F.col("h")) for j in range(len(BLOOM_PROBES))])
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    bitmap = [0] * BLOOM_BITS
    for p in set_positions:
        bitmap[p] = 1
    ba = F.expr("array(" + ",".join(str(v) for v in bitmap) + ")")

    corpus = hs.filter(
        (F.col("doc_id") >= DECONTAM_HOLDOUT) & (F.size("hs") > 0)
    )
    hit = lambda h: (  # noqa: E731 - 3-probe conjunction, kept inline
        (F.element_at(ba, (_pos(0, h) + 1).cast("int")) == 1)
        & (F.element_at(ba, (_pos(1, h) + 1).cast("int")) == 1)
        & (F.element_at(ba, (_pos(2, h) + 1).cast("int")) == 1)
    )
    bloomed = corpus.select(
        "doc_id",
        F.size("hs").cast("int").alias("n_ngrams"),
        F.size(F.filter(F.col("hs"), hit)).cast("int").alias("n_bloom_hits"),
    )
    exact = (
        corpus.select("doc_id", F.explode("hs").alias("h"))
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_exact_hits"))
    )
    return (
        bloomed.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            "n_bloom_hits",
            F.coalesce("n_exact_hits", F.lit(0)).alias("n_exact_hits"),
            (
                F.col("n_bloom_hits") - F.coalesce("n_exact_hits", F.lit(0))
            ).alias("n_false_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding whitening
# ---------------------------------------------------------------------------

def _whiten_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, CAST(label AS INT) AS label,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {float(QUANT_SCALE)!r}) AS BIGINT))
           AS q
  FROM embeddings
), ex AS (
  SELECT unnest(q) AS qv, generate_subscripts(q, 1) AS dim FROM e
), st AS (
  SELECT dim, count(*) AS n,
         CAST(sum(CAST(qv AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(sum(CAST(qv * qv AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM ex GROUP BY 1
), ms AS (
  SELECT list(s1 / n ORDER BY dim) AS mu,
         list(sqrt((s2 - s1 * s1 / n) / n) ORDER BY dim) AS sig
  FROM st
), wt AS (
  SELECT vec_id, label,
         list_transform(range(1, len(q) + 1),
                        i -> CASE WHEN sig[i] = 0 THEN CAST(0.0 AS DOUBLE)
                             ELSE (CAST(q[i] AS DOUBLE) - mu[i]) / sig[i] END)
           AS w
  FROM e CROSS JOIN ms
)
SELECT vec_id, label,
       round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                           list_transform(w, x -> x * x)),
                              (a, b) -> a + b)), 6) AS wnorm,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), w),
                         (a, b) -> a + b) / len(w), 6) AS wmean,
       round(list_aggregate(w, 'max'), 6) AS wmax
FROM wt
"""


@query(
    "embedding_whitening",
    oracle=_whiten_oracle(),
    tags=("vector", "normalization", "curation"),
)
def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding standardization (whitening without
    rotation): quantize each float to an exact integer (floor(v*2^20),
    lossless here since |v| < 1), take per-dimension DECIMAL-exact
    first/second moments — order-independent, so bit-identical under
    any shuffle — and re-emit each vector standardized, summarized as
    its whitened norm / mean / max. The normalization pass ANN and
    clustering pipelines run so no dimension dominates the metric.

    Scale shape: moments are one posexplode + hash aggregate to 64
    rows; those 64 (mu, sigma) pairs come back as LITERAL arrays
    (loop-control-scale collect, same class as k-means centroids) so
    the standardization is a NARROW per-row map — no join, no second
    shuffle. The mu/sigma doubles are computed in Python with the
    exact expression the oracle uses ((s2 - s1*s1/n)/n under correctly
    rounded binary64), so every emitted double matches DuckDB's
    bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * float(QUANT_SCALE)).cast("bigint"),
    )
    qdf = emb.select(
        "vec_id", F.col("label").cast("int").alias("label"), q.alias("q")
    ).localCheckpoint(eager=True)

    ex = qdf.select(F.posexplode("q").alias("dim", "qv"))
    st = (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("qv").cast("decimal(38,0)")).alias("s1"),
            F.sum((F.col("qv") * F.col("qv")).cast("decimal(38,0)")).alias("s2"),
        )
        .orderBy("dim")
        .collect()
    )
    mu, sig = [], []
    for r in st:
        n = float(r["n"])
        s1 = float(r["s1"])
        s2 = float(r["s2"])
        mu.append(s1 / n)
        sig.append(math.sqrt((s2 - s1 * s1 / n) / n))

    def _d(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    mu_arr = F.expr("array(" + ",".join(_d(v) for v in mu) + ")")
    sig_arr = F.expr("array(" + ",".join(_d(v) for v in sig) + ")")
    w = F.transform(
        F.col("q"),
        lambda qv, i: F.when(
            F.element_at(sig_arr, i + 1) == 0.0, F.lit(0.0)
        ).otherwise(
            (qv.cast("double") - F.element_at(mu_arr, i + 1))
            / F.element_at(sig_arr, i + 1)
        ),
    )
    wdf = qdf.select("vec_id", "label", w.alias("w")).localCheckpoint(
        eager=False
    )
    return wdf.select(
        "vec_id",
        "label",
        F.round(
            F.sqrt(F.aggregate(F.col("w"), F.lit(0.0), lambda a, x: a + x * x)),
            6,
        ).alias("wnorm"),
        F.round(
            F.aggregate(F.col("w"), F.lit(0.0), lambda a, x: a + x)
            / F.size("w"),
            6,
        ).alias("wmean"),
        F.round(F.array_max("w"), 6).alias("wmax"),
    )


# ---------------------------------------------------------------------------
# Farthest-point (k-center) diverse selection
# ---------------------------------------------------------------------------

def _mmr_oracle() -> str:
    def fold_dot(va: str, vb: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, len({va}) + 1), "
            f"i -> {va}[i] * {vb}[i])), (a, b) -> a + b)"
        )

    norm = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(v, x -> x * x)), (a, b) -> a + b))"
    )
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"b AS (SELECT vec_id, v, {norm} AS norm FROM e)",
        "s1 AS (SELECT vec_id, v, norm FROM b "
        "ORDER BY norm DESC, vec_id LIMIT 1)",
    ]
    prev = "b"
    for r in range(2, MMR_K + 1):
        cos = f"{fold_dot('d.v', 's.v')} / (d.norm * s.norm)"
        md = (
            f"1 - {cos}" if r == 2 else f"least(d.md, 1 - {cos})"
        )
        ctes.append(
            f"d{r - 1} AS (SELECT d.vec_id, d.v, d.norm, {md} AS md "
            f"FROM {prev} d CROSS JOIN s{r - 1} s WHERE d.vec_id <> s.vec_id)"
        )
        ctes.append(
            f"s{r} AS (SELECT vec_id, v, norm, md FROM d{r - 1} "
            f"ORDER BY md DESC, vec_id LIMIT 1)"
        )
        prev = f"d{r - 1}"
    selects = [
        "SELECT CAST(1 AS INT) AS rank, vec_id, CAST(0.0 AS DOUBLE) "
        "AS min_dist FROM s1"
    ] + [
        f"SELECT CAST({r} AS INT) AS rank, vec_id, round(md, 6) "
        f"AS min_dist FROM s{r}"
        for r in range(2, MMR_K + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


#: tournament pool size: the driver keeps the top-M rows by current
#: min-distance and certifies each pick against the pool's admission
#: threshold — M rows of (id, 64 floats), loop-control scale
MMR_TOURNAMENT_M = 64

#: observability for the plan audit's driver-iteration gate: cluster
#: jobs the last mmr_diverse_select run issued (seed + initial pool +
#: any certified-miss recollects) — bounded by 2 + MMR_K. Backed by
#: thread-local storage so concurrent query builds (threaded bench,
#: parallel audit) never interleave each other's counters (round-6
#: advice) — each thread reads the stats of ITS OWN last run.


class _MmrStats(_threading.local):
    def __init__(self) -> None:
        self.data = {"cluster_jobs": 0, "recollects": 0}


_MMR_TLS = _MmrStats()


class _MmrStatsView:
    """dict-like facade over the per-thread counters (keeps the public
    ``MMR_STATS["cluster_jobs"]`` API used by tests and docs)."""

    def __getitem__(self, key: str) -> int:
        return _MMR_TLS.data[key]

    def __setitem__(self, key: str, value: int) -> None:
        _MMR_TLS.data[key] = value

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return repr(_MMR_TLS.data)


MMR_STATS = _MmrStatsView()


@query(
    "mmr_diverse_select",
    oracle=_mmr_oracle(),
    tags=("vector", "sampling", "coreset", "iterative"),
)
def mmr_diverse_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-point (k-center) diverse selection: greedily pick
    {K} vectors, each maximizing its minimum cosine DISTANCE to the
    already-selected set (seeded at the max-norm vector; ties break by
    vec_id) — the greedy 2-approximation every diversity-sampling /
    coreset recipe reduces to, and the iterative sibling of the
    k-means loop.

    Scale shape (Gonzalez with a certified tournament pre-filter,
    round-5 item 6): ONE corpus pass seeds (TakeOrdered(1) on norm),
    ONE corpus pass collects the top-{M} pool by distance-to-seed
    (TakeOrdered({M})) together with its admission threshold T — every
    row outside the pool had md <= T then, and md only shrinks as picks
    accumulate, so while the pool's running argmax stays STRICTLY above
    T it is provably the global argmax and the round completes entirely
    driver-side on {M} rows. Only a certified miss (argmax <= T)
    re-runs the distance chain over the corpus — bounded by K, observed
    0 on fixtures (MMR_STATS). The previous shape ran K full-corpus
    checkpoint+TakeOrdered rounds; this runs 2 corpus passes. Driver
    arithmetic replays the exact JVM fold (left-to-right double
    products, min == least on non-NaN doubles), so picks and distances
    stay bit-identical to the oracle's unrolled-CTE chain — verified by
    the hash gate at sf0.01 and the deep run at sf0.1."""

    def _d(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    def _vec_lit(vec: list) -> tuple:
        s = 0.0
        for x in vec:  # left-to-right, same bits as l2_norm's fold
            s += float(x) * float(x)
        arr = F.expr("array(" + ",".join(_d(float(x)) for x in vec) + ")")
        return arr, math.sqrt(s)

    def _pydot(a: list, b: list) -> float:
        s = 0.0
        for x, y in zip(a, b):  # same op order as operators.similarity.dot
            s += float(x) * float(y)
        return s

    M = MMR_TOURNAMENT_M
    MMR_STATS["cluster_jobs"] = 0
    MMR_STATS["recollects"] = 0
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("norm"),
    ).localCheckpoint(eager=True)

    seed = base.orderBy(F.col("norm").desc(), "vec_id").limit(1).collect()[0]
    MMR_STATS["cluster_jobs"] += 1
    picked = [(1, int(seed["vec_id"]), 0.0)]
    sel = [(list(seed["v"]), float(seed["norm"]))]  # driver copies of picks

    def _distance_chain():
        """Corpus frame with md = least-chain over all picks so far —
        the recollect path; identical fold order to the driver's."""
        cur = base.filter(
            ~F.col("vec_id").isin([p[1] for p in picked])
        )
        md = None
        for vec, nrm in sel:
            arr, anrm = _vec_lit(vec)
            term = 1 - dot(F.col("v"), arr) / (F.col("norm") * F.lit(anrm))
            md = term if md is None else F.least(md, term)
        return cur.withColumn("md", md)

    def _collect_pool():
        rows = (
            _distance_chain()
            .orderBy(F.col("md").desc(), "vec_id")
            .limit(M)
            .collect()
        )
        MMR_STATS["cluster_jobs"] += 1
        pool = {
            int(r["vec_id"]): [list(r["v"]), float(r["norm"]), float(r["md"])]
            for r in rows
        }
        # admission threshold: rows outside the pool had md <= T at
        # collect time and md never grows — with a short pool (< M),
        # every remaining row is in hand and certification is free
        thr = min(c[2] for c in pool.values()) if len(pool) == M else -math.inf
        return pool, thr

    pool, thr = _collect_pool()
    fresh = True  # a just-collected pool's argmax is exact by definition
    for rank in range(2, MMR_K + 1):
        while True:
            best_id = max(pool, key=lambda i: (pool[i][2], -i))
            if fresh or pool[best_id][2] > thr:
                break
            MMR_STATS["recollects"] += 1  # certified miss: argmax <= T
            pool, thr = _collect_pool()
            fresh = True
        fresh = False
        vec, nrm, md = pool.pop(best_id)
        picked.append((rank, best_id, md))
        sel.append((vec, nrm))
        for c in pool.values():  # same bits as the JVM least-fold
            c[2] = min(c[2], 1 - _pydot(c[0], vec) / (c[1] * nrm))
    from atlassian_confluence_data_pipeline_spark import iterstats

    iterstats.record("mmr_diverse_select", MMR_STATS["cluster_jobs"])
    out = spark.createDataFrame(
        picked, "rank int, vec_id bigint, min_dist double"
    )
    return out.select("rank", "vec_id", F.round("min_dist", 6).alias("min_dist"))


# ---------------------------------------------------------------------------
# Contrastive hard-negative mining
# ---------------------------------------------------------------------------

def _hard_neg_oracle() -> str:
    width = 64 // HN_CHUNKS
    mask = (1 << width) - 1
    chunk_eq = " OR ".join(
        f"((a.fp >> {i * width}) & {mask}) = ((b.fp >> {i * width}) & {mask})"
        for i in range(HN_CHUNKS)
    )
    cos = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])), "
        "(a, b) -> a + b)"
        " / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(va, x -> x * x)), (a, b) -> a + b))"
        " * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(vb, x -> x * x)), (a, b) -> a + b)))"
    )
    return f"""
WITH {_srp_fingerprint_cte()},
lab AS (
  SELECT vec_id, CAST(label AS INT) AS label FROM embeddings
), cand AS (
  SELECT a.vec_id AS anchor, b.vec_id AS other, a.v AS va, b.v AS vb,
         bit_count(xor(a.fp, b.fp)) AS hamming
  FROM f a JOIN f b ON a.vec_id <> b.vec_id AND ({chunk_eq})
), scored AS (
  SELECT anchor, other, la.label AS la, lb.label AS lb, {cos} AS cos
  FROM cand JOIN lab la ON la.vec_id = cand.anchor
            JOIN lab lb ON lb.vec_id = cand.other
  WHERE hamming <= {HN_MAX_HAMMING}
), pos AS (
  SELECT anchor, other AS pos_id, cos AS pos_cos,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY cos DESC, other) AS r
  FROM scored WHERE la = lb
), neg AS (
  SELECT anchor, other AS neg_id, cos AS neg_cos,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY cos DESC, other) AS r
  FROM scored WHERE la <> lb
)
SELECT p.anchor, p.pos_id, round(p.pos_cos, 6) AS pos_cos,
       n.neg_id, round(n.neg_cos, 6) AS neg_cos,
       CAST(n.r AS INT) AS neg_rank
FROM pos p JOIN neg n USING (anchor)
WHERE p.r = 1 AND n.r <= {HN_NEG_K}
""".replace("\n\ne AS", "\ne AS")


@query(
    "hard_negative_mining",
    oracle=_hard_neg_oracle(),
    tags=("vector", "contrastive", "lsh", "curation"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining: for each anchor vector, its
    nearest SAME-label candidate (the positive) paired with its top-{N}
    highest-cosine DIFFERENT-label candidates (the hard negatives) —
    the (anchor, positive, hard-negative) triples embedding-model
    training consumes. Candidates come from the identical SRP
    pigeonhole banding as knn_graph_lsh, so "hard" negatives are
    exactly the near-misses LSH surfaces, not random draws.

    Scale shape: candidate generation is the chunk equi-join
    (near-linear); labels broadcast onto candidates; both per-anchor
    ranks are rank<=k filters directly over keyed windows
    (WindowGroupLimit heaps, never a global sort); the final
    positive-x-negative join fans out at most {N} rows per anchor."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        srp_candidate_cosines,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # session-shared fingerprint + banding + exact-cosine verify stages
    # (round-5 advice item 1; round-6 item 6); the honest chain shape
    # stays audited under embedding_lsh_pairs. Labels join onto the
    # verified pair cosines (narrow 2-col broadcast), then symmetrize —
    # the (b -> a) direction reuses (a, b)'s cosine bit-for-bit.
    vc = srp_candidate_cosines(
        spark, sf_dir, max_hamming=HN_MAX_HAMMING, chunks=HN_CHUNKS
    )
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    la = labels.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("la")
    )
    lb = labels.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("lb")
    )
    labeled = vc.join(la, "id_a").join(lb, "id_b")
    scored = labeled.select(
        F.col("id_a").alias("anchor"),
        F.col("id_b").alias("other"),
        "la",
        "lb",
        "cos",
    ).union(
        labeled.select(
            F.col("id_b").alias("anchor"),
            F.col("id_a").alias("other"),
            F.col("lb").alias("la"),
            F.col("la").alias("lb"),
            "cos",
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.col("cos").desc(), "other")
    pos = (
        scored.filter(F.col("la") == F.col("lb"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "anchor",
            F.col("other").alias("pos_id"),
            F.round("cos", 6).alias("pos_cos"),
        )
    )
    neg = (
        scored.filter(F.col("la") != F.col("lb"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= HN_NEG_K)
        .select(
            "anchor",
            F.col("other").alias("neg_id"),
            F.round("cos", 6).alias("neg_cos"),
            F.col("r").cast("int").alias("neg_rank"),
        )
    )
    return pos.join(neg, "anchor").select(
        "anchor", "pos_id", "pos_cos", "neg_id", "neg_cos", "neg_rank"
    )
