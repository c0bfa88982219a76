"""Per-document corpus-context curation signals (round-6 wave 3):
n-gram commonness (anti-diversity / memorization pressure) and novelty
versus earlier documents (ingest-order freshness).

Both ride the portable shingle-hash family (per-word rolling hashes
polynomially combined — operators/lsh.py), so the DuckDB oracles
reproduce every hash bit-for-bit.

Reference parity note: no analog in `/root/reference`; driver-mandate
§2.11 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.functions.text import (
    rolling_hash_sql,
)
from atlassian_confluence_data_pipeline_spark.operators.lsh import (
    shingle_hashes_sql,
)
from atlassian_confluence_data_pipeline_spark.plans.registry import query

#: oracle CTEs ``w, wht, t``: the 3-word shingle-hash set ``hs`` per document
_SH_CTES = f"""w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), wht AS (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), t AS (
  SELECT doc_id, {shingle_hashes_sql()} AS hs FROM wht
)"""


def _exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h) — one row per distinct 3-shingle hash per document,
    session-memoized (both corpus-context queries start from it; the
    checkpoint is narrow bigint pairs)."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        # round 7: derive from the session-shared minhash_doc_hashes frame
        # instead of refolding the corpus — when any MinHash-chain
        # consumer already ran, the explode is the only new work
        from atlassian_confluence_data_pipeline_spark.plans._cache import (
            minhash_doc_hashes,
        )

        return minhash_doc_hashes(spark, sf_dir).select(
            "doc_id", F.explode("hs").alias("h")
        )

    return shared_pair_table(spark, sf_dir, "doc_shingle_hashes", _build)


@query(
    "doc_ngram_commonness",
    oracle=f"""
WITH {_SH_CTES},
e AS (SELECT doc_id, unnest(hs) AS h FROM t),
df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY 1)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_common,
       round(CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS commonness
FROM e JOIN df USING (h)
GROUP BY 1
""",
    tags=("curation", "text", "diversity", "ngram"),
)
def doc_ngram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram commonness: the fraction of a document's
    distinct 3-word shingles that also occur in at least one OTHER
    document — high commonness marks boilerplate/template text (the
    anti-diversity pressure a mixture wants capped), low commonness
    marks unique content. The per-doc rollup of shingle_df_spectrum's
    corpus view.

    Scale shape: explode distinct shingle hashes (bigints, never
    strings), one hash aggregate to document frequencies, one equi-join
    back, one per-doc aggregate. Documents too short to shingle have no
    rows (no 0/0 division) — identical in the oracle."""
    e = _exploded_shingles(spark, sf_dir)
    df = e.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    common = F.when(F.col("df") >= 2, 1).otherwise(0)
    return (
        e.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(common).cast("bigint").alias("n_common"),
            F.round(
                F.sum(common).cast("double") / F.count(F.lit(1)), 6
            ).alias("commonness"),
        )
    )


@query(
    "doc_novelty_vs_earlier",
    oracle=f"""
WITH {_SH_CTES},
e AS (SELECT doc_id, unnest(hs) AS h FROM t),
first AS (SELECT h, min(doc_id) AS first_doc FROM e GROUP BY 1)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN first.first_doc = e.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN first.first_doc = e.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty
FROM e JOIN first USING (h)
GROUP BY 1
""",
    tags=("curation", "text", "novelty", "ngram"),
)
def doc_novelty_vs_earlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty against everything ingested BEFORE it
    (doc_id order = arrival order): the fraction of a document's
    distinct 3-shingles whose FIRST corpus occurrence is this document.
    The how-fast-is-new-data-saturating curve — when late documents'
    novelty collapses, further ingestion of that source stops paying.

    Scale shape: the same exploded hash table as doc_ngram_commonness;
    first occurrence is one min-aggregate (no window, no self-join),
    then one equi-join back and a per-doc rollup."""
    e = _exploded_shingles(spark, sf_dir)
    first = e.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        e.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(
                F.sum(novel).cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
    )


@query(
    "ngram_posting_spectrum",
    oracle=f"""
WITH {_SH_CTES},
e AS (SELECT doc_id, unnest(hs) AS h FROM t),
df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY 1)
SELECT CAST(length(format('{{:b}}', df)) - 1 AS INT) AS df_bucket,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(df) AS BIGINT) AS n_postings
FROM df GROUP BY 1
""",
    tags=("curation", "text", "ngram", "index"),
)
def ngram_posting_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list length spectrum of the inverted 3-shingle index
    (sources/ngram_index_sink.py): how many distinct shingles have
    document frequency in [2^k, 2^(k+1)) and how many posting rows they
    carry — the capacity/skew planning view for the decontamination
    index (a hot boilerplate shingle with df = 10^6 is a skew hazard a
    prober must know about). Buckets are INTEGER-exact (binary digit
    count, no float log2 at power-of-two edges).

    Scale shape: rides the session-shared exploded-shingle stage (one
    corpus fold); df is one hash aggregate on the shingle hash; the
    spectrum is a bounded (~log2 corpus) second aggregate."""
    e = _exploded_shingles(spark, sf_dir)
    df = e.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    bucket = (
        F.length(F.conv(F.col("df").cast("string"), 10, 2)) - 1
    ).cast("int")
    return (
        df.groupBy(bucket.alias("df_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum("df").cast("bigint").alias("n_postings"),
        )
    )
