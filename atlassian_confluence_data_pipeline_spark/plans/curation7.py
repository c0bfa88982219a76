"""Round-7 second wave: intra-document repetition scoring (the Gopher
repetition filters) and deterministic portable shard assignment (the
distribute-before-training step).

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
from atlassian_confluence_data_pipeline_spark.operators.lsh import (
    shingle_hashes_from_word_hashes,
    shingle_hashes_sql,
    word_hashes,
)
from atlassian_confluence_data_pipeline_spark.plans.registry import query
from atlassian_confluence_data_pipeline_spark.plans.textops import _words

#: shard fan-out for the assignment plan (any power of two; 64 keeps
#: the report readable while exercising the skew math)
N_SHARDS = 64

_POS_SH_CTES = f"""w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), wht AS (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), t AS (
  SELECT doc_id, {shingle_hashes_sql(distinct=False)} AS hs FROM wht
)"""


@query(
    "doc_repetition_scores",
    oracle=f"""
WITH {_POS_SH_CTES},
e AS (SELECT doc_id, unnest(hs) AS h FROM t),
g AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(c) AS BIGINT) AS top_count,
       round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS dup_frac,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share
FROM g GROUP BY 1
""",
    tags=("curation", "quality", "repetition", "ngram"),
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filters (the Gopher rules, adapted to
    the line-break-free fixture): per document, over its POSITIONAL
    3-word shingle sequence, the duplicate-3-gram fraction
    (1 - distinct/total — text that loops on itself) and the
    top-3-gram share (max multiplicity/total — a single phrase
    dominating). These are the within-document complement to the
    cross-document dedup family: high scorers are the degenerate/spam
    docs a curation gate drops before any corpus-level pass.

    Scale shape: explode positional shingle hashes (bigints), ONE
    (doc_id, h) hash aggregate, ONE per-doc rollup; per-group state is
    a document's shingles. Docs too short to shingle emit no rows
    (identical in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    # checkpoint barrier before the explode: InferFiltersFromGenerate
    # synthesizes a size(hs) > 0 filter under the Generate and would
    # re-inline the whole shingle fold into it (the CSE trap the plan
    # audit sweeps for — it caught this query's first draft)
    sh = (
        word_hashes(docs)
        .select(
            "doc_id",
            shingle_hashes_from_word_hashes(
                F.col("wh"), distinct=False
            ).alias("hs"),
        )
        .localCheckpoint(eager=False)
    )
    e = sh.select("doc_id", F.explode("hs").alias("h"))
    g = e.groupBy("doc_id", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return g.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_count"),
        F.round(
            1.0 - F.count(F.lit(1)).cast("double") / F.sum("c"), 6
        ).alias("dup_frac"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_share"),
    )


def _rep_profile_oracle() -> str:
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT doc_id, CAST({n} AS INT) AS n,
           {shingle_hashes_sql(n, distinct=False)} AS hs
    FROM wht"""
        for n in (2, 3, 4)
    )
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), wht AS MATERIALIZED (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), t AS (
  SELECT doc_id, n, unnest(hs) AS h FROM (
{arms}
  )
), g AS (
  SELECT doc_id, n, h, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2, 3
)
SELECT doc_id, n,
       CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(c) AS BIGINT) AS top_count,
       round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS dup_frac,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share
FROM g GROUP BY 1, 2
"""


@query(
    "doc_repetition_profile",
    oracle=_rep_profile_oracle(),
    tags=("curation", "quality", "repetition", "ngram"),
)
def doc_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher repetition suite (round-7 next-round item 3):
    duplicate-n-gram fraction and top-n-gram share for n in {2, 3, 4}
    per document — the multi-width profile the Gopher quality rules
    threshold jointly (a doc can pass the 3-gram rule while a repeated
    bigram phrase dominates).

    Stage sharing: the per-word rolling hashes are folded ONCE (the
    ``wh`` column); the three n-gram arms are positional zip_with
    slices of that same array — no second char-level fold appears in
    the plan (the oracle mirrors this with a MATERIALIZED word-hash
    CTE). Round 12: every statistic is a WITHIN-ROW multiplicity
    (counts of each n-gram hash inside ONE document's array), so the
    former explode -> 3x-token-cardinality (doc, n, h) hash aggregate
    -> per-(doc, n) rollup is replaced by in-place array folds —
    size / array_distinct / a max-run-length fold over the SORTED hash
    array (identical integer counts, identical doubles) — so the only
    exchange left is the conditional spread of the single-split fixture
    scan that parallelizes the per-row folds (a no-op on real multi-
    split sources, where the plan is exchange-free)."""
    from atlassian_confluence_data_pipeline_spark.operators.skew import (
        spread_scan,
    )

    docs = load_table(spark, sf_dir, "documents")
    wh = word_hashes(spread_scan(docs.select("doc_id", "text")))

    def _top_count(hs):
        # max multiplicity == longest equal-run in the sorted array
        zero = F.struct(
            F.lit(None).cast("bigint").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        )

        def _step(acc, x):
            run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                F.lit(1).cast("bigint")
            )
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(
            F.sort_array(hs), zero, _step, lambda acc: acc["best"]
        )

    arms = F.array(
        *[
            (
                lambda hs, n: F.struct(
                    F.lit(n).cast("int").alias("n"),
                    F.size(hs).cast("bigint").alias("n_grams"),
                    F.size(F.array_distinct(hs)).cast("bigint").alias(
                        "n_distinct"
                    ),
                    _top_count(hs).alias("top_count"),
                )
            )(
                shingle_hashes_from_word_hashes(
                    F.col("wh"), n=n, distinct=False
                ),
                n,
            )
            for n in (2, 3, 4)
        ]
    )
    e = (
        wh.select("doc_id", F.explode(arms).alias("a"))
        .filter(F.col("a.n_grams") > 0)
        .select("doc_id", "a.n", "a.n_grams", "a.n_distinct", "a.top_count")
    )
    return e.select(
        "doc_id",
        "n",
        "n_grams",
        "n_distinct",
        "top_count",
        F.round(
            1.0 - F.col("n_distinct").cast("double") / F.col("n_grams"), 6
        ).alias("dup_frac"),
        F.round(
            F.col("top_count").cast("double") / F.col("n_grams"), 6
        ).alias("top_share"),
    )


@query(
    "shard_assignment",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok,
         {rolling_hash_sql("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard_id
  FROM documents
), s AS (
  SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS n_tokens
  FROM t GROUP BY 1
), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS bt FROM s)
SELECT shard_id, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) * {N_SHARDS} / tot.bt, 6) AS load_factor
FROM s, tot
""",
    tags=("curation", "sharding", "planning"),
)
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: every document hashes
    to one of {N_SHARDS} shards via the ENGINE-PORTABLE rolling hash of
    its id (any engine — or the serving layer — recomputes the same
    placement with no lookup table), and the report shows each shard's
    doc/token mass plus its token load factor vs the uniform ideal
    (the pre-flight skew check before a 1000-way training read).

    Scale shape: one narrow projection + one hash aggregate to
    {N_SHARDS} rows; the 1-row token total broadcasts back onto them
    (bounded BNLJ, the join_key_skew_report pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(_words(F.col("text"))).cast("bigint").alias("tok"),
        (rolling_hash(F.col("doc_id").cast("string")) % N_SHARDS).alias(
            "shard_id"
        ),
    )
    s = t.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("n_tokens"),
    )
    tot = s.agg(F.sum("n_tokens").cast("bigint").alias("bt"))
    return s.crossJoin(F.broadcast(tot)).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") * N_SHARDS / F.col("bt"), 6
        ).alias("load_factor"),
    )
