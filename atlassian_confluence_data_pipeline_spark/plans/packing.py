"""Sequence packing for LLM pretraining (round-7 wave): the
concat-and-chop packing every autoregressive training pipeline runs —
documents are concatenated in ingest order (doc_id) into fixed
CTX_TOKENS-token context windows; a window therefore contains the tail
of one document, whole documents, and the head of the next. The
queries report, per window, how many documents START in it, how many
tokens those documents contribute, and how many of them are CHOPPED by
the window's right edge, plus the corpus-level packing summary (chop
rate, docs/window, tail fill) a data-loader design reads before
training.

Tokens are whitespace tokens (the house token_counts convention), so
the DuckDB oracle reproduces every count exactly.

Scale shape: token counting is one narrow projection; the global
running token sum is distributed_prefix_rank (range-bucketed two-pass
prefix sum — NO unpartitioned window, no driver collect beyond the
<= num_ranges boundary rows); window assignment is integer division on
the prefix; the rollups are single hash aggregates. The prefixed frame
is session-memoized so the per-window and summary views pay the prefix
once.

Reference parity note: no analog in `/root/reference`; driver-mandate
§2.11 extension surface (training-data pipeline operations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.functions.text import rolling_hash_sql
from atlassian_confluence_data_pipeline_spark.plans.registry import query
from atlassian_confluence_data_pipeline_spark.plans.textops import _words

#: context-window size in whitespace tokens (small enough that even
#: sf0.001 yields many windows; the operator is size-agnostic)
CTX_TOKENS = 512

_PREFIX_CTE = f"""t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok
  FROM documents
), c AS (
  SELECT doc_id, tok,
         sum(tok) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
), w AS (
  SELECT CAST((cum - tok) // {CTX_TOKENS} AS BIGINT) AS window_id,
         tok,
         CASE WHEN (cum - 1) // {CTX_TOKENS} > (cum - tok) // {CTX_TOKENS}
              THEN 1 ELSE 0 END AS split
  FROM c
)"""


def _packed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (doc_id, source, tok, cum, rk): whitespace token
    counts with their INCLUSIVE global prefix sum and global row number
    in doc_id order — the ONE distributed-prefix pass every packing
    view (per-window, summary, source-adjacency) reads."""
    from atlassian_confluence_data_pipeline_spark.operators.windows import (
        distributed_prefix_rank,
    )
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        t = docs.select(
            "doc_id",
            "source",
            F.size(_words(F.col("text"))).cast("bigint").alias("tok"),
        )
        return distributed_prefix_rank(
            t, ["doc_id"], sums={"cum": "tok"}, rank_col="rk"
        )

    return shared_pair_table(spark, sf_dir, "packed_doc_prefix", _build)


def _window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(window_id, tok, split) per document over the shared prefix."""
    win = F.expr(f"(cum - tok) DIV {CTX_TOKENS}")
    endw = F.expr(f"(cum - 1) DIV {CTX_TOKENS}")
    return _packed_docs(spark, sf_dir).select(
        win.alias("window_id"),
        "tok",
        F.when(endw > win, 1).otherwise(0).alias("split"),
    )


@query(
    "pack_sequences",
    oracle=f"""
WITH {_PREFIX_CTE}
SELECT window_id,
       CAST(count(*) AS BIGINT) AS n_docs_started,
       CAST(sum(tok) AS BIGINT) AS n_tokens_started,
       CAST(sum(split) AS BIGINT) AS n_chopped
FROM w GROUP BY 1
""",
    tags=("curation", "packing", "tokens"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop packing accounting per CTX_TOKENS-token context
    window: a document STARTS in window floor(exclusive_prefix / CTX)
    and is CHOPPED when its last token lands in a later window. The
    whole assignment is a distributed prefix sum + integer division —
    bit-exact against the oracle's window cumsum."""
    return _window_frame(spark, sf_dir).groupBy("window_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_started"),
        F.sum("tok").cast("bigint").alias("n_tokens_started"),
        F.sum("split").cast("bigint").alias("n_chopped"),
    )


@query(
    "packing_summary",
    oracle=f"""
WITH {_PREFIX_CTE}
SELECT CAST({CTX_TOKENS} AS BIGINT) AS ctx_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens,
       CAST((sum(tok) + {CTX_TOKENS} - 1) // {CTX_TOKENS} AS BIGINT)
         AS n_windows,
       CAST(sum(split) AS BIGINT) AS n_chopped,
       round(CAST(sum(split) AS DOUBLE) / count(*), 6) AS chop_rate,
       round(CAST(count(*) AS DOUBLE)
             / ((sum(tok) + {CTX_TOKENS} - 1) // {CTX_TOKENS}), 6)
         AS docs_per_window
FROM w
""",
    tags=("curation", "packing", "tokens", "planning"),
)
def packing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level packing plan: window count at CTX_TOKENS (ceil of
    total tokens — concat-and-chop has no padding except the final
    tail), the chop rate (fraction of documents split across a window
    boundary — the attention-contamination exposure unless the loader
    masks cross-document attention), and mean documents per window."""
    w = _window_frame(spark, sf_dir)
    agg = w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("n_tokens"),
        F.sum("split").cast("bigint").alias("n_chopped"),
    )
    n_windows = F.expr(f"(n_tokens + {CTX_TOKENS - 1}) DIV {CTX_TOKENS}")
    return agg.select(
        F.lit(CTX_TOKENS).cast("bigint").alias("ctx_tokens"),
        "n_docs",
        "n_tokens",
        n_windows.alias("n_windows"),
        "n_chopped",
        F.round(
            F.col("n_chopped").cast("double") / F.col("n_docs"), 6
        ).alias("chop_rate"),
        F.round(F.col("n_docs").cast("double") / n_windows, 6).alias(
            "docs_per_window"
        ),
    )


#: epochs in the shuffle plan
N_EPOCHS = 3


@query(
    "epoch_shuffle_plan",
    oracle=f"""
WITH {_PREFIX_CTE},
wins AS (
  SELECT DISTINCT window_id FROM w
), keyed AS (
  SELECT e.epoch, wins.window_id,
         {rolling_hash_sql(
             "CAST(wins.window_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)"
         )} AS skey
  FROM wins, (SELECT unnest(range(0, {N_EPOCHS})) AS epoch) e
)
SELECT CAST(epoch AS INT) AS epoch, window_id,
       CAST(row_number() OVER (PARTITION BY epoch
                               ORDER BY skey, window_id) AS BIGINT)
         AS load_order
FROM keyed
""",
    tags=("curation", "packing", "loader", "shuffle"),
)
def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE LOADER ORDER ARTIFACT: for each training epoch, a
    deterministic pseudo-random permutation of the packed context
    windows — order by the portable rolling hash of
    "window_id:epoch", so every worker (and the oracle) derives the
    SAME order with no coordination and each epoch reshuffles
    independently. This is the piece between packing and the training
    loop: a worker seeks its epoch's load_order range directly.

    Scale shape: windows are corpus_tokens / CTX — corpus-scale — so
    the per-epoch permutation rank must NOT be a 3-partition window
    (each partition would hold every window). The rank rides ONE
    distributed_prefix_rank pass over the combined monotone key
    (epoch << 33 | hash — exact in bigint: hash < 2^31), then the
    per-epoch order is global_rank minus the epoch's exclusive offset,
    computed from the SAME pass via one bounded (<= N_EPOCHS rows)
    aggregate broadcast back."""
    from atlassian_confluence_data_pipeline_spark.functions.text import (
        rolling_hash,
    )
    from atlassian_confluence_data_pipeline_spark.operators.windows import (
        distributed_prefix_rank,
    )

    wins = (
        _window_frame(spark, sf_dir).select("window_id").distinct()
    )
    epochs = spark.range(N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    keyed = wins.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "window_id",
        rolling_hash(
            F.concat(
                F.col("window_id").cast("string"),
                F.lit(":"),
                F.col("epoch").cast("string"),
            )
        ).alias("skey"),
    )
    combined = keyed.select(
        "epoch",
        "window_id",
        "skey",
        (
            F.col("epoch").cast("bigint") * F.lit(1 << 33) + F.col("skey")
        ).alias("ek"),
    )
    ranked = distributed_prefix_rank(
        combined, ["ek", "window_id"], rank_col="grank"
    )
    # exclusive per-epoch offsets: one bounded aggregate (<= N_EPOCHS
    # rows), broadcast back — no second corpus pass
    offs = (
        ranked.groupBy("epoch")
        .agg(F.min("grank").alias("first_rank"))
        .select("epoch", (F.col("first_rank") - 1).alias("off"))
    )
    return (
        ranked.join(F.broadcast(offs), "epoch")
        .select(
            "epoch",
            "window_id",
            (F.col("grank") - F.col("off")).cast("bigint").alias("load_order"),
        )
    )
