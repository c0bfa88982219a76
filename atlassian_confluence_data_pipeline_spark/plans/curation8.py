"""Round-7 third wave: the two cross-cutting audits a sharded,
packed training corpus needs — does shard-local dedup leak
cross-shard duplicates, and how much cross-source attention
contamination does concat-and-chop packing create.

Both COMPOSE existing session-shared stages (the MinHash pair chain,
the packing prefix, the shard hash) instead of new corpus passes.

Reference parity note: no analog in `/root/reference`; driver-mandate
§2.11 extension surface (training-data pipeline operations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.functions.text import (
    rolling_hash,
    rolling_hash_sql,
)
from atlassian_confluence_data_pipeline_spark.plans.curation7 import N_SHARDS
from atlassian_confluence_data_pipeline_spark.plans.multimodal import (
    MINHASH_JACCARD,
    _minhash_oracle,
)
from atlassian_confluence_data_pipeline_spark.plans.packing import CTX_TOKENS
from atlassian_confluence_data_pipeline_spark.plans.registry import query

def _shard_sql(col: str) -> str:
    """Shard-placement SQL as a FUNCTION of the id column expression —
    rendered per call site instead of string-replacing 'doc_id' inside
    one pre-rendered template (which would silently corrupt the oracle
    if the hash rendering ever mentioned doc_id itself; round-7 advice)."""
    return f"{rolling_hash_sql(f'CAST({col} AS VARCHAR)')} % {N_SHARDS}"


def shard_packed_frame(t: DataFrame) -> DataFrame:
    """Shard-LOCAL packing over any ``(doc_id, tok, ...)`` frame: adds
    the portable shard placement, the per-shard inclusive token prefix
    (``shard_cum``, in doc_id order within the shard), the shard-local
    ``window_id``, and the chop flag ``split``.

    Scale shape: the per-shard prefix is ONE distributed_prefix_rank
    pass over a composite shard-major key (``shard_id * 2^40 +
    doc_id`` — monotone in (shard, doc) for doc_id < 2^40, and <= 2^47
    so no overflow), which range-buckets WITHIN big shards too — no
    single task ever holds a whole shard, unlike a window PARTITIONed
    by the 64 shard ids. The per-shard start offsets come back as a
    64-row broadcast."""
    from atlassian_confluence_data_pipeline_spark.operators.windows import (
        distributed_prefix_rank,
    )

    assigned = t.withColumn(
        "shard_id", rolling_hash(F.col("doc_id").cast("string")) % N_SHARDS
    ).withColumn(
        "__lead",
        F.col("shard_id") * F.lit(1 << 40).cast("bigint") + F.col("doc_id"),
    )
    p = distributed_prefix_rank(assigned, ["__lead"], sums={"cum": "tok"})
    off = p.groupBy(F.col("shard_id").alias("__osh")).agg(
        F.min(F.col("cum") - F.col("tok")).alias("__off")
    )
    win = F.expr(f"(shard_cum - tok) DIV {CTX_TOKENS}")
    endw = F.expr(f"(shard_cum - 1) DIV {CTX_TOKENS}")
    return (
        p.join(F.broadcast(off), p["shard_id"] == off["__osh"])
        .withColumn("shard_cum", F.col("cum") - F.col("__off"))
        .drop("__osh", "__off", "__lead", "cum")
        .withColumn("window_id", win)
        .withColumn("split", F.when(endw > win, 1).otherwise(0))
    )


@query(
    "shard_packing_summary",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_shard_sql('doc_id')} AS shard_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok
  FROM documents
), c AS (
  SELECT shard_id, tok,
         sum(tok) OVER (PARTITION BY shard_id ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
), w AS (
  SELECT shard_id, tok,
         CASE WHEN (cum - 1) // {CTX_TOKENS} > (cum - tok) // {CTX_TOKENS}
              THEN 1 ELSE 0 END AS split
  FROM c
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens,
       CAST((sum(tok) + {CTX_TOKENS} - 1) // {CTX_TOKENS} AS BIGINT)
         AS n_windows,
       CAST(sum(split) AS BIGINT) AS n_chopped,
       round(CAST(sum(split) AS DOUBLE) / count(*), 6) AS chop_rate
FROM w GROUP BY 1
""",
    tags=("curation", "packing", "sharding", "planning"),
)
def shard_packing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local packing (round-7 next-round item 4): each training
    worker packs ITS OWN shard sequentially, so the numbers that matter
    are per-shard — window count at CTX_TOKENS, chop count/rate, token
    mass. Composes shard_assignment x pack_sequences through
    :func:`shard_packed_frame`: the prefix is strictly cheaper than the
    global one (each shard's running sum is independent; the composite
    shard-major key lets the range bucketing split big shards across
    tasks)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.plans.textops import _words

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(_words(F.col("text"))).cast("bigint").alias("tok")
    )
    w = shard_packed_frame(t)
    return w.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("n_tokens"),
        F.expr(f"(sum(tok) + {CTX_TOKENS - 1}) DIV {CTX_TOKENS}")
        .cast("bigint")
        .alias("n_windows"),
        F.sum("split").cast("bigint").alias("n_chopped"),
        F.round(F.sum("split").cast("double") / F.count(F.lit(1)), 6).alias(
            "chop_rate"
        ),
    )


@query(
    "cross_shard_dup_leakage",
    oracle=f"""
WITH p AS (SELECT id_a, id_b FROM ({_minhash_oracle()}) q),
x AS (
  SELECT CASE WHEN ({_shard_sql('p.id_a')})
              <> ({_shard_sql('p.id_b')})
         THEN 1 ELSE 0 END AS cross_shard
  FROM p
)
SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs,
       CAST(sum(cross_shard) AS BIGINT) AS n_cross_shard,
       round(CAST(sum(cross_shard) AS DOUBLE) / count(*), 6) AS leakage_rate
FROM x
""",
    tags=("curation", "dedup", "sharding", "audit"),
)
def cross_shard_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard-local-dedup audit: of the verified MinHash near-dup
    pairs (Jaccard >= the LSH threshold), how many land on DIFFERENT
    training shards under the portable hash placement? Shard-local
    dedup (the cheap per-worker pass) misses exactly those pairs —
    leakage_rate is the fraction of duplicate mass that REQUIRES the
    global banded join this engine runs. With a uniform hash the
    expected rate is (N_SHARDS-1)/N_SHARDS; a materially lower value
    would mean duplicates cluster inside shards and local dedup
    suffices.

    Scale shape: consumes the session-shared MinHash pair chain (no
    new corpus pass); the shard ids are per-pair hash arithmetic; the
    rollup is a 1-row aggregate."""
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        verify_candidates_jaccard,
    )
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        minhash_band_candidates,
        minhash_doc_hashes,
    )

    hs = minhash_doc_hashes(spark, sf_dir).filter(
        F.size("hs") > 0
    )
    pairs = verify_candidates_jaccard(
        minhash_band_candidates(spark, sf_dir),
        hs,
        "doc_id",
        "hs",
        threshold=MINHASH_JACCARD,
    ).select("id_a", "id_b")

    def shard(col):
        return rolling_hash(F.col(col).cast("string")) % N_SHARDS

    x = pairs.select(
        F.when(shard("id_a") != shard("id_b"), 1).otherwise(0).alias(
            "cross_shard"
        )
    )
    return x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
        F.sum("cross_shard").cast("bigint").alias("n_cross_shard"),
        F.round(
            F.sum("cross_shard").cast("double") / F.count(F.lit(1)), 6
        ).alias("leakage_rate"),
    )


@query(
    "packing_source_adjacency",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok
  FROM documents
), c AS (
  SELECT doc_id, source, tok,
         sum(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
), adj AS (
  SELECT source,
         lead(source) OVER (ORDER BY doc_id) AS next_source,
         CASE WHEN cum % {CTX_TOKENS} <> 0 THEN 1 ELSE 0 END AS shared_window
  FROM c
), pairs AS (SELECT * FROM adj WHERE next_source IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_adjacent,
       CAST(sum(shared_window) AS BIGINT) AS n_shared_window,
       CAST(sum(CASE WHEN shared_window = 1 AND source <> next_source
                THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source_contact,
       round(CAST(sum(CASE WHEN shared_window = 1 AND source <> next_source
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS contamination_rate
FROM pairs
""",
    tags=("curation", "packing", "audit"),
)
def packing_source_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document attention contamination under concat-and-chop:
    adjacent documents share a context window unless the earlier one
    ends EXACTLY on a window boundary (prefix % CTX == 0), and the
    harmful case is a shared window across DIFFERENT sources — tokens
    of one domain attending into another unless the loader masks
    cross-document attention. Reports adjacent-pair counts, shared-
    window counts, and the cross-source contact rate.

    Scale shape: rides the session-shared packing prefix; adjacency is
    a rank self-join (rank r joined to r+1 — the distributed form of
    lead(), no single-partition window anywhere); the rollup is one
    1-row aggregate."""
    from atlassian_confluence_data_pipeline_spark.plans.packing import (
        _packed_docs,
    )

    c = _packed_docs(spark, sf_dir)
    left = c.select(
        F.col("rk").alias("rk"),
        F.col("source").alias("source"),
        (F.col("cum") % CTX_TOKENS != 0).cast("int").alias("shared_window"),
    )
    right = c.select(
        (F.col("rk") - 1).alias("rk"), F.col("source").alias("next_source")
    )
    pairs = left.join(right, "rk")
    cross = F.when(
        (F.col("shared_window") == 1)
        & (F.col("source") != F.col("next_source")),
        1,
    ).otherwise(0)
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_adjacent"),
        F.sum("shared_window").cast("bigint").alias("n_shared_window"),
        F.sum(cross).cast("bigint").alias("n_cross_source_contact"),
        F.round(F.sum(cross).cast("double") / F.count(F.lit(1)), 6).alias(
            "contamination_rate"
        ),
    )


@query(
    "corpus_datacard",
    oracle="""
WITH w AS (
  SELECT doc_id, lang, source,
         regexp_split_to_array(trim(text), '\\s+') AS words,
         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
  FROM documents
), scored AS (
  SELECT doc_id, lang, source, fp, len(words) AS n_words,
         CAST(len(list_filter(words, x -> x IN ('the', 'a', 'of', 'and')))
              AS DOUBLE) / len(words) AS stop_ratio
  FROM w
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dup_docs,
       CAST(sum(CASE WHEN n_words >= 20 AND stop_ratio < 0.08
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_quality_fail,
       round(CAST(count(*) - count(DISTINCT fp) AS DOUBLE) / count(*), 6)
         AS exact_dup_rate,
       round(CAST(sum(CASE WHEN n_words >= 20 AND stop_ratio < 0.08
                           THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6)
         AS quality_fail_rate
FROM scored GROUP BY source
""",
    tags=("curation", "datacard", "report", "flagship"),
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE DATASET DATACARD — the per-source datasheet a pretraining
    team publishes with a corpus: document/token volume, language
    breadth, exact-duplicate surplus (docs beyond the first per
    canonical fingerprint), and the quality-gate failure rate, all in
    ONE narrow corpus pass + one hash aggregate per source. The gate
    thresholds and canonical fingerprint are exactly the
    corpus_curation / full_curation_pipeline definitions, so the card's
    numbers reconcile against the pipeline's survivor census.

    Scale shape: per-doc scoring is a projection (no shuffle); the
    rollup is one groupBy over a bounded source domain with two
    count-distincts riding the same aggregate (Expand — still one
    shuffle); no window, no join, no collect."""
    from atlassian_confluence_data_pipeline_spark.plans.textops import _words

    docs = load_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "of", "and")])
    canon = F.lower(F.regexp_replace("text", r"\s+", " "))
    scored = docs.select(
        "source",
        "lang",
        F.md5(canon).alias("fp"),
        _words(F.col("text")).alias("w"),
    ).select(
        "source",
        "lang",
        "fp",
        F.size("w").alias("n_words"),
        (
            F.size(F.filter(F.col("w"), lambda x: F.array_contains(stop, x)))
            .cast("double")
            / F.size("w")
        ).alias("stop_ratio"),
    )
    fail = F.when(
        (F.col("n_words") >= 20) & (F.col("stop_ratio") < 0.08), 0
    ).otherwise(1)
    n = F.count(F.lit(1))
    dups = n - F.countDistinct("fp")
    fails = F.sum(fail)
    return (
        scored.groupBy("source")
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_words").cast("bigint").alias("total_tokens"),
            dups.cast("bigint").alias("n_exact_dup_docs"),
            fails.cast("bigint").alias("n_quality_fail"),
            F.round(dups.cast("double") / n, 6).alias("exact_dup_rate"),
            F.round(fails.cast("double") / n, 6).alias("quality_fail_rate"),
        )
    )
