"""Curation wave 3: PII redaction, Gopher-style rule filtering, Zipf
rank-frequency fit, pairwise source-distribution divergence, and BPE
first-merge statistics.

These round out the text-curation surface (plans/curation.py,
plans/textops.py) with the remaining standard corpus-prep passes a
training-data pipeline runs:

- PII redaction is the per-row scrub step (regex surface F16
  generalized; the reference's closest analog is the filename
  sanitizer, file_system_manager semantics via functions/text.py).
- Gopher rules are the classic rule-based quality filter (word-count /
  word-shape / stopword heuristics) — all built-in expressions, no
  UDFs, so the filter runs inside whole-stage codegen at 100 TB.
- Zipf slope and JS divergence are corpus-health diagnostics over
  aggregated term tables (vocab-sized, not corpus-sized — the heavy
  input reduces to one hash aggregate each).
- BPE pair counts are the first step of tokenizer training: weighted
  adjacent-character-pair frequencies over the word-frequency table
  (distinct words, not corpus positions — the standard trick that makes
  BPE training corpus-size-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.plans.registry import query

WS = r"\s+"

_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE = r"\b555-\d{4}\b"


@query(
    "pii_redaction",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.org from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST(doc_id % 100 AS VARCHAR)
              || ' call 555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
           AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t, '{_IP}')) AS n_ips,
       len(regexp_extract_all(t, '{_PHONE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{_EMAIL}', '[EMAIL]', 'g'),
             '{_IP}', '[IP]', 'g'),
             '{_PHONE}', '[PHONE]', 'g')) AS redacted_md5
FROM aug
""",
    tags=("curation", "pii", "regex", "narrow"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact emails, IPv4 addresses, and
    555-prefix phone numbers. The fixture text is synthetic word salad,
    so each doc is first augmented with deterministic doc_id-derived
    PII (same expression on both engines) — the redaction then has real
    work to do and the oracle checks it byte-for-byte via md5. Pure
    per-row regex (narrow, codegen) — the 100 TB cost is one scan."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" call 555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _EMAIL, "[EMAIL]"), _IP, "[IP]"
        ),
        _PHONE,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_IP)).cast("long").alias("n_ips"),
        F.regexp_count(aug, F.lit(_PHONE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "gopher_quality_rules",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     x -> x <> '') AS words
  FROM documents
),
m AS (
  SELECT doc_id,
         len(words) AS n_words,
         CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
           / len(words) AS mean_len,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
              AS DOUBLE) / len(words) AS frac_alpha,
         len(list_filter(words,
             x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS stop_hits
  FROM w
)
SELECT doc_id,
       n_words,
       round(mean_len, 4) AS mean_word_len,
       round(frac_alpha, 4) AS frac_alpha_words,
       stop_hits,
       (n_words BETWEEN 50 AND 100000
        AND mean_len BETWEEN 3 AND 10
        AND frac_alpha >= 0.8
        AND stop_hits >= 2) AS passes
FROM m
""",
    tags=("curation", "quality", "gopher", "narrow"),
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter: word count in [50, 100k], mean word
    length in [3, 10], >=80% of words alphabetic, >=2 stopword hits.
    All four signals come from one split + higher-order functions over
    the word array — a single narrow projection, no UDFs, so the rule
    cascade is a codegen'd scan at any scale. The rule *thresholds*
    compare unrounded doubles, but every operand is an exact int/int
    division computed identically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.trim("text"), WS), lambda x: x != F.lit("")
    )
    d = docs.select("doc_id", words.alias("words"))
    n_words = F.size("words")
    mean_len = (
        F.aggregate(
            F.transform("words", F.length),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_words
    )
    frac_alpha = (
        F.size(F.filter("words", lambda x: x.rlike("[A-Za-z]"))).cast("double")
        / n_words
    )
    stop_hits = F.size(
        F.filter(
            "words", lambda x: x.isin("the", "a", "and", "of", "to", "in")
        )
    )
    m = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_len"),
        frac_alpha.alias("frac_alpha"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    return m.select(
        "doc_id",
        "n_words",
        F.round("mean_len", 4).alias("mean_word_len"),
        F.round("frac_alpha", 4).alias("frac_alpha_words"),
        "stop_hits",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_len").between(3, 10)
            & (F.col("frac_alpha") >= 0.8)
            & (F.col("stop_hits") >= 2)
        ).alias("passes"),
    )


@query(
    "zipf_slope",
    oracle="""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
ranked AS (
  SELECT term, cnt,
         row_number() OVER (ORDER BY cnt DESC, term) AS rnk
  FROM tf
)
SELECT count(*) AS n_terms,
       round(regr_slope(ln(cnt), ln(rnk)), 4) AS slope,
       round(regr_intercept(ln(cnt), ln(rnk)), 4) AS intercept
FROM ranked WHERE rnk <= 100
""",
    tags=("curation", "zipf", "stats", "window"),
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit: least-squares slope of ln(freq) vs ln(rank) over the
    top-100 terms (a healthy natural corpus is near -1; this synthetic
    word salad is near 0 — the diagnostic detects exactly that). The
    corpus reduces to a vocab-sized term-frequency aggregate before the
    window, so ranking cost is O(vocab), not O(corpus); slope/intercept
    are single-row regression aggregates over 100 points."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.trim("text"), WS), lambda x: x != F.lit(""))
        ).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = tf.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("term"))),
    ).filter(F.col("rnk") <= 100)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(F.log("cnt"), F.log("rnk")), 4).alias("slope"),
        F.round(F.regr_intercept(F.log("cnt"), F.log("rnk")), 4).alias(
            "intercept"
        ),
    )


@query(
    "source_js_divergence",
    oracle="""
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS cnt FROM toks GROUP BY 1
  ) t ORDER BY cnt DESC, term LIMIT 50
),
counts AS (
  SELECT t.source, t.term, count(*) AS c
  FROM toks t JOIN vocab v ON t.term = v.term
  GROUP BY 1, 2
),
dense AS (
  SELECT s.source, v.term, coalesce(c.c, 0) AS c
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN vocab v
  LEFT JOIN counts c ON c.source = s.source AND c.term = v.term
),
probs AS (
  SELECT d.source, d.term,
         CAST(d.c + 1 AS DOUBLE) / CAST(t.tot + 50 AS DOUBLE) AS p
  FROM dense d
  JOIN (SELECT source, sum(c) AS tot FROM dense GROUP BY 1) t
    ON d.source = t.source
)
SELECT a.source AS source_a, b.source AS source_b,
       round(CAST(sum(CAST(
         0.5 * a.p * ln(a.p / ((a.p + b.p) / 2))
         + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2)) AS DECIMAL(28,18)))
         AS DOUBLE), 6) AS js_div
FROM probs a
JOIN probs b ON a.term = b.term AND a.source < b.source
GROUP BY 1, 2
""",
    tags=("curation", "divergence", "mixture", "agg"),
)
def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions over the global top-50 vocabulary (add-one smoothed)
    — the dataset-mixture health check that catches a source whose
    language drifted. The corpus collapses to a (source x vocab) dense
    matrix (20 x 50 rows) before any pairwise work, so the all-pairs
    join is over tiny aggregates; per-term contributions are summed in
    DECIMAL for order-independence."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        doc_word_positions,
    )

    docs = load_table(spark, sf_dir, "documents")
    # session-staged token stream (round 11); post-explode filter of ''
    # tokens == pre-explode array filter
    toks = doc_word_positions(spark, sf_dir).select(
        "source", F.col("word").alias("term")
    ).filter(F.col("term") != "")
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(50)
        .select("term")
    )
    counts = (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sources = docs.select("source").distinct()
    dense = (
        sources.crossJoin(F.broadcast(vocab))
        .join(counts, ["source", "term"], "left")
        .select("source", "term", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = dense.groupBy("source").agg(F.sum("c").alias("tot"))
    probs = dense.join(F.broadcast(tot), "source").select(
        "source",
        "term",
        (
            (F.col("c") + 1).cast("double")
            / (F.col("tot") + 50).cast("double")
        ).alias("p"),
    )
    a = probs.select(
        F.col("source").alias("source_a"), "term", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("source").alias("source_b"), "term", F.col("p").alias("pb")
    )
    m = (F.col("pa") + F.col("pb")) / 2
    contrib = (
        0.5 * F.col("pa") * F.log(F.col("pa") / m)
        + 0.5 * F.col("pb") * F.log(F.col("pb") / m)
    ).cast("decimal(28,18)")
    return (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.round(F.sum(contrib).cast("double"), 6).alias("js_div"))
    )


@query(
    "bpe_merge_candidates",
    oracle="""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
wf AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(word) - 1),
                               i -> substr(word, CAST(i AS INT), 2))) AS pair,
         freq
  FROM wf WHERE len(word) >= 2
),
agg AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS weight FROM pairs GROUP BY 1
)
SELECT pair, weight,
       CAST(row_number() OVER (ORDER BY weight DESC, pair) AS INT) AS rnk
FROM agg
QUALIFY rnk <= 20
""",
    tags=("curation", "bpe", "tokenizer", "agg"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge step: corpus-weighted adjacent character-pair
    frequencies, top 20. Uses the standard tokenizer-training reduction
    — pairs are generated from the DISTINCT word-frequency table, not
    from corpus positions, so the expensive explode is O(|vocab| *
    word_len) regardless of corpus size; the corpus itself is touched
    once by the word-count aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.trim("text"), WS), lambda x: x != F.lit(""))
        ).alias("word")
    )
    wf = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wf.filter(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("weight"))
    # top-20 via TakeOrderedAndProject FIRST (per-partition heaps, no
    # global sort), then rank inside the bounded 20-row frame
    top = agg.orderBy(F.desc("weight"), F.asc("pair")).limit(20)
    return top.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("weight"), F.asc("pair")))
        .cast("int"),
    )


@query(
    "dataset_card_report",
    oracle="""
WITH base AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> x <> ''))) AS BIGINT) AS n_tokens,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         count(DISTINCT lang) AS n_langs
  FROM documents GROUP BY 1
),
dup AS (
  SELECT source,
         count(*) - count(DISTINCT md5(text)) AS n_exact_dups
  FROM documents GROUP BY 1
)
SELECT b.source, b.n_docs, b.n_tokens, b.n_chars, b.n_langs,
       d.n_exact_dups,
       round(CAST(b.n_tokens AS DOUBLE) / b.n_docs, 4) AS tokens_per_doc
FROM base b JOIN dup d ON b.source = d.source
""",
    tags=("curation", "reporting", "agg", "dedup"),
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: the summary table a curation pipeline
    publishes with a corpus — doc/token/char counts, language spread,
    exact-dup count (md5 identity), tokens per doc. Two hash aggregates
    keyed by source joined on the 20-key dim — every input-side metric
    is computed in the same single pass over the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.trim("text"), WS), lambda x: x != F.lit(""))
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words)).cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    dup = docs.groupBy("source").agg(
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias(
            "n_exact_dups"
        )
    )
    return base.join(dup, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        "n_exact_dups",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_docs"), 4
        ).alias("tokens_per_doc"),
    )


@query(
    "bigram_nll_scores",
    oracle="""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), bg AS (
  SELECT doc_id, i AS pos, w[i] AS w1, w[i+1] AS w2
  FROM w, unnest(range(1, greatest(len(w), 1))) AS t(i)
), c AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2
), ctx AS (
  SELECT w1, sum(c) AS ctx FROM c GROUP BY 1
), scored AS (
  SELECT b.doc_id, b.pos, -ln(CAST(c.c AS DOUBLE) / ctx.ctx) AS nll
  FROM bg b JOIN c ON b.w1 = c.w1 AND b.w2 = c.w2
  JOIN ctx ON b.w1 = ctx.w1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(nll ORDER BY pos)),
                         (a, b) -> a + b) / count(*), 6) AS avg_nll
FROM scored GROUP BY doc_id
""",
    tags=("curation", "quality", "lm", "ngram"),
)
def bigram_nll_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring: each document's average negative
    log-likelihood under the corpus's MLE bigram model P(w2|w1) =
    c(w1,w2)/c(w1) — the consumer of bigram_lm_table's estimation step
    (train LM, score docs, drop the tail). Counts and context totals
    are vocab^2-bounded hash aggregates broadcast back onto the
    exploded corpus; the per-doc sum uses the same position-ordered
    fold as unigram_nll_scores so the float total is deterministic on
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    warr = F.filter(F.split(F.trim("text"), WS), lambda x: x != F.lit(""))
    w = docs.select("doc_id", warr.alias("w"))
    n = F.greatest(F.size("w") - 1, F.lit(0))
    bg = (
        w.select(
            "doc_id",
            F.posexplode(
                F.zip_with(
                    F.slice("w", 1, n),
                    F.slice("w", 2, n),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("pos0", "b"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "b.w1", "b.w2")
        # the bigram stream feeds BOTH the count model and the scoring
        # join — materialize the regex split + zip + explode once
        # instead of twice per build (round 11, guide §1.2)
        .localCheckpoint(eager=True)
    )
    c = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = c.groupBy("w1").agg(F.sum("c").alias("ctx"))
    nll = -F.log(F.col("c").cast("double") / F.col("ctx"))
    return (
        bg.join(F.broadcast(c), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .select("doc_id", "pos", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "nll"))),
                        lambda x: x["nll"],
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
    )


#: full BPE training loop: number of successive merges learned
BPE_MERGES = 8

#: sentinel delimiter for the merge-apply string rewrite — chr(1)
#: never occurs in the corpus' whitespace-split words (and words that
#: do contain it are excluded in BOTH engines)
_BPE_D = "\x01"


def _bpe_blocks() -> tuple[list, str]:
    """The BPE training CTE chain; returns (blocks, final it-table) so
    the census oracle can reuse the learned rewrites."""
    d = "chr(1)"
    blocks = [
        """toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
wf AS MATERIALIZED (
  SELECT word, count(*) AS freq FROM toks
  WHERE strpos(word, chr(1)) = 0 GROUP BY 1
),
it0 AS MATERIALIZED (
  SELECT word, freq,
         list_transform(generate_series(1, len(word)),
                        i -> substr(word, CAST(i AS INT), 1)) AS seq
  FROM wf
)"""
    ]
    for k in range(1, BPE_MERGES + 1):
        km1 = k - 1
        blocks.append(f"""pc{k} AS MATERIALIZED (
  SELECT pr.s1 AS s1, pr.s2 AS s2, CAST(sum(freq) AS BIGINT) AS w
  FROM (
    SELECT freq,
           unnest(list_transform(generate_series(1, len(seq) - 1),
                  i -> struct_pack(s1 := seq[CAST(i AS INT)],
                                   s2 := seq[CAST(i AS INT) + 1]))) AS pr
    FROM it{km1} WHERE len(seq) >= 2) t
  GROUP BY 1, 2
), b{k} AS MATERIALIZED (
  SELECT s1, s2, w FROM pc{k} ORDER BY w DESC, s1 ASC, s2 ASC LIMIT 1
), it{k} AS MATERIALIZED (
  SELECT word, freq,
         string_split(
           trim(replace({d} || array_to_string(seq, {d} || {d}) || {d},
                        {d} || (SELECT s1 FROM b{k}) || {d} || {d}
                            || (SELECT s2 FROM b{k}) || {d},
                        {d} || (SELECT s1 || s2 FROM b{k}) || {d}),
                {d}),
           {d} || {d}) AS seq
  FROM it{km1}
)""")
    return blocks, f"it{BPE_MERGES}"


def _bpe_oracle() -> str:
    blocks, _final = _bpe_blocks()
    steps = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, s1 AS left_sym, s2 AS right_sym,"
        f" s1 || s2 AS merged, w AS weight FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return (
        "WITH "
        + ",\n".join(blocks)
        + f"\nSELECT CAST(step AS INT) AS step, left_sym, right_sym,"
        f" merged, weight FROM ({steps}) s ORDER BY step\n"
    )


@query(
    "bpe_merge_iterations",
    oracle=_bpe_oracle(),
    tags=("curation", "bpe", "tokenizer", "fitting", "iterative"),
)
def bpe_merge_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer-training loop (Sennrich et al. 2016):
    BPE_MERGES successive merges over the corpus word-frequency table —
    each round counts freq-weighted adjacent symbol pairs, picks the
    max (ties broken lexicographically), and greedily rewrites every
    word's symbol sequence left-to-right. Output: the learned merge
    table (step, pair, merged token, pair weight).

    Scale shape (the standard tokenizer-training reduction): the corpus
    is touched ONCE by the word-count aggregate; the loop then runs
    over the vocab-sized (word, freq, symbols) table — checkpointed to
    one partition — so each round is one small aggregate job
    (collect-model: the argmax row only). The merge-apply is a pure
    string rewrite (sentinel-join + replace + split) with identical
    greedy non-overlapping left-to-right semantics in Spark and DuckDB,
    which is what lets the unrolled-CTE oracle reproduce the rewrites
    exactly; pair weights are integer sums (order-free). New-pair
    counts after a merge are bounded by the merged pair's count, so the
    learned weights are non-increasing — the pytest pins that
    invariant plus a planted-corpus merge order."""
    _cur, merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, merged string,"
        " weight bigint",
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """The trained tokenizer: (final (word, freq, seq) frame with all
    learned merges applied, merge list). Four registry queries (merge
    table, census, tokenized packing, per-source fertility) need the
    SAME BPE_MERGES-round fit, and each fit is ~9 sequential driver
    jobs (word-count checkpoint + one argmax collect per round), so it
    is trained once per session through the session memo
    (plans/_cache.py) — model-sized state, rebuilt from the fixtures by
    every new session."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )

    return shared_pair_table(spark, sf_dir, "bpe_train", _bpe_fit)


def _bpe_fit(spark: SparkSession, sf_dir: str):
    """Run the BPE training loop behind :func:`_bpe_train`. The fit is
    a deterministic function of the fixtures; the final frame is an
    eager localCheckpoint so consumers also skip re-running the
    BPE_MERGES row-local rewrites."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.trim("text"), WS), lambda x: x != F.lit(""))
        ).alias("word")
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    wf = (
        toks.filter(~F.col("word").contains(_BPE_D))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", "freq", chars.alias("seq"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    cur = wf
    merges = []
    for step in range(1, BPE_MERGES + 1):
        pairs = cur.filter(F.size("seq") >= 2).select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(F.col("seq"), 1, F.size("seq") - 1),
                    F.slice(F.col("seq"), 2, F.size("seq") - 1),
                    lambda a, b: F.struct(a.alias("s1"), b.alias("s2")),
                )
            ).alias("pr"),
        )
        best = (
            pairs.groupBy(F.col("pr.s1").alias("s1"), F.col("pr.s2").alias("s2"))
            .agg(F.sum("freq").cast("bigint").alias("w"))
            .orderBy(F.desc("w"), F.asc("s1"), F.asc("s2"))
            .limit(1)
            .collect()[0]
        )
        s1, s2, w = best["s1"], best["s2"], int(best["w"])
        merges.append((step, s1, s2, s1 + s2, w))
        joined = F.concat(
            F.lit(_BPE_D), F.array_join("seq", _BPE_D + _BPE_D), F.lit(_BPE_D)
        )
        rewritten = F.replace(
            joined,
            F.lit(_BPE_D + s1 + _BPE_D + _BPE_D + s2 + _BPE_D),
            F.lit(_BPE_D + s1 + s2 + _BPE_D),
        )
        # lazy chain over the checkpointed vocab table: round t redoes
        # t-1 row-local string rewrites (vocab-sized, trivial) instead
        # of paying a checkpoint job per round
        cur = cur.select(
            "word",
            "freq",
            F.split(F.btrim(rewritten, F.lit(_BPE_D)), _BPE_D + _BPE_D).alias(
                "seq"
            ),
        )
    from atlassian_confluence_data_pipeline_spark import iterstats

    iterstats.record("bpe_merge_iterations", BPE_MERGES)
    return cur.localCheckpoint(eager=True), merges


def _bpe_census_oracle() -> str:
    blocks, final = _bpe_blocks()
    return (
        "WITH "
        + ",\n".join(blocks)
        + f""",
tok AS (SELECT unnest(seq) AS symbol, freq FROM {final}),
cnt AS (
  SELECT symbol, CAST(sum(freq) AS BIGINT) AS n_occurrences
  FROM tok GROUP BY 1
)
SELECT symbol, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, symbol)
            AS INT) AS rnk
FROM cnt
QUALIFY rnk <= {BPE_CENSUS_TOPK}
"""
    )


#: symbols reported by the post-training census
BPE_CENSUS_TOPK = 30


@query(
    "bpe_token_census",
    oracle=_bpe_census_oracle(),
    tags=("curation", "bpe", "tokenizer", "agg"),
)
def bpe_token_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-training BPE vocabulary census — what the learned tokenizer
    ACTUALLY does to the corpus: apply all BPE_MERGES merges in order
    (the _bpe_train rewrites), then report the top-{K} final symbols by
    corpus occurrence count (freq-weighted, ties to the smaller
    symbol). The symbols mix merged tokens with surviving single
    characters, which is the fertility picture a tokenizer-training
    run is judged on.

    Scale shape: the training reduction (one corpus pass, vocab-sized
    loop) plus one explode + hash aggregate over the vocab-sized symbol
    table and a TakeOrdered top-{K}; the rank runs inside the bounded
    {K}-row result (plan-audit measured bound)."""
    cur, _merges = _bpe_train(spark, sf_dir)
    cnt = (
        cur.select(F.explode("seq").alias("symbol"), "freq")
        .groupBy("symbol")
        .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
    )
    top = cnt.orderBy(
        F.desc("n_occurrences"), F.asc("symbol")
    ).limit(BPE_CENSUS_TOPK)
    return top.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("n_occurrences"), F.asc("symbol")))
        .cast("int"),
    )


def _tokenized_pack_oracle() -> str:
    from atlassian_confluence_data_pipeline_spark.plans.packing import (
        CTX_TOKENS,
    )
    from atlassian_confluence_data_pipeline_spark.plans.pretrain import (
        _bucket_case_sql,
    )

    blocks, final = _bpe_blocks()
    pad_ws = f"{_bucket_case_sql('tok_ws')} - least(tok_ws, {_bucket_case_sql('tok_ws')})"
    pad_bpe = f"{_bucket_case_sql('tok_bpe')} - least(tok_bpe, {_bucket_case_sql('tok_bpe')})"
    return (
        "WITH "
        + ",\n".join(blocks)
        + f""",
lens AS (SELECT word, CAST(len(seq) AS BIGINT) AS bpe_len FROM {final}),
dw AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
bp AS (
  SELECT dw.doc_id, CAST(sum(l.bpe_len) AS BIGINT) AS tok_bpe
  FROM dw JOIN lens l USING (word) GROUP BY 1
),
t AS (
  SELECT d.doc_id,
         CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
           AS tok_ws,
         coalesce(bp.tok_bpe, 0) AS tok_bpe
  FROM documents d LEFT JOIN bp USING (doc_id)
),
c AS (
  SELECT doc_id, tok_ws, tok_bpe,
         sum(tok_ws) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_ws,
         sum(tok_bpe) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_bpe
  FROM t
)
SELECT CAST({CTX_TOKENS} AS BIGINT) AS ctx_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok_ws) AS BIGINT) AS ws_tokens,
       CAST(sum(tok_bpe) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(tok_bpe) AS DOUBLE) / sum(tok_ws), 6) AS fertility,
       CAST((sum(tok_ws) + {CTX_TOKENS} - 1) // {CTX_TOKENS} AS BIGINT)
         AS n_windows_ws,
       CAST((sum(tok_bpe) + {CTX_TOKENS} - 1) // {CTX_TOKENS} AS BIGINT)
         AS n_windows_bpe,
       CAST(sum(CASE WHEN (cum_ws - 1) // {CTX_TOKENS}
                        > (cum_ws - tok_ws) // {CTX_TOKENS}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_chopped_ws,
       CAST(sum(CASE WHEN (cum_bpe - 1) // {CTX_TOKENS}
                        > (cum_bpe - tok_bpe) // {CTX_TOKENS}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_chopped_bpe,
       round(CAST(sum(CASE WHEN (cum_bpe - 1) // {CTX_TOKENS}
                             > (cum_bpe - tok_bpe) // {CTX_TOKENS}
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS chop_rate_bpe,
       CAST(sum({pad_ws}) AS BIGINT) AS padded_tokens_ws,
       CAST(sum({pad_bpe}) AS BIGINT) AS padded_tokens_bpe
FROM c
"""
    )


@query(
    "tokenized_pack_stats",
    oracle=_tokenized_pack_oracle(),
    tags=("curation", "bpe", "tokenizer", "packing", "pipeline"),
)
def tokenized_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer COMPOSED into the packing pipeline
    (round-11 VERDICT item 1): train the BPE_MERGES-merge vocabulary
    (the _bpe_train reduction), tokenize the WHOLE corpus under it —
    each document's real token count is the sum of its words' final
    symbol-sequence lengths, a vocab-sized broadcast-joinable lookup,
    NOT a per-document re-segmentation — and feed the packing and
    padding-waste censuses with the REAL counts next to the whitespace
    budget they previously ran on. One row: corpus fertility
    (BPE/whitespace token ratio), context-window counts and chop rates
    under both budgets (the pack_sequences concat-and-chop semantics),
    and padded-token waste under the PAD_BUCKETS bucketing ladder for
    both. This is the read that converts 'packing plan by whitespace
    proxy' into 'packing plan by what the trained tokenizer actually
    emits' — the artifact a pretraining data team ships.

    Scale shape: the corpus is touched twice — once by the BPE training
    word-frequency aggregate, once by the tokenize pass (explode words
    -> equi-join the vocab-sized length table -> per-doc hash
    aggregate); the loop stays vocab-sized; global chop accounting
    rides ONE distributed_prefix_rank pass carrying BOTH cumulative
    sums (no unpartitioned window); everything else is a single hash
    aggregate to one row. Cross-engine parity is all-integer except
    fertility/chop_rate, rounded engine-side."""
    from atlassian_confluence_data_pipeline_spark.operators.windows import (
        distributed_prefix_rank,
    )
    from atlassian_confluence_data_pipeline_spark.plans.packing import (
        CTX_TOKENS,
    )
    from atlassian_confluence_data_pipeline_spark.plans.pretrain import (
        PAD_BUCKETS,
    )
    from atlassian_confluence_data_pipeline_spark.plans.textops import _words

    cur, _merges = _bpe_train(spark, sf_dir)
    vocab = cur.select("word", F.size("seq").cast("bigint").alias("bpe_len"))
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.trim("text"), WS), lambda x: x != F.lit(""))
        ).alias("word"),
    )
    bpe_per_doc = words.join(vocab, "word").groupBy("doc_id").agg(
        F.sum("bpe_len").cast("bigint").alias("tok_bpe")
    )
    t = (
        docs.select(
            "doc_id", F.size(_words(F.col("text"))).cast("bigint").alias("tok_ws")
        )
        .join(bpe_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "tok_ws",
            F.coalesce("tok_bpe", F.lit(0)).cast("bigint").alias("tok_bpe"),
        )
    )
    c = distributed_prefix_rank(
        t.localCheckpoint(eager=True),
        ["doc_id"],
        sums={"cum_ws": "tok_ws", "cum_bpe": "tok_bpe"},
    )

    def _split(cum: str, tok: str):
        win = F.expr(f"({cum} - {tok}) DIV {CTX_TOKENS}")
        endw = F.expr(f"({cum} - 1) DIV {CTX_TOKENS}")
        return F.when(endw > win, 1).otherwise(0)

    def _bucket(tok: str):
        n = F.col(tok)
        b = F.lit(PAD_BUCKETS[-1] * 2)
        for edge in reversed(PAD_BUCKETS):
            b = F.when(n <= edge, edge).otherwise(b)
        return b - F.least(n, b)

    agg = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok_ws").cast("bigint").alias("ws_tokens"),
        F.sum("tok_bpe").cast("bigint").alias("bpe_tokens"),
        F.sum(_split("cum_ws", "tok_ws")).cast("bigint").alias("n_chopped_ws"),
        F.sum(_split("cum_bpe", "tok_bpe"))
        .cast("bigint")
        .alias("n_chopped_bpe"),
        F.sum(_bucket("tok_ws")).cast("bigint").alias("padded_tokens_ws"),
        F.sum(_bucket("tok_bpe")).cast("bigint").alias("padded_tokens_bpe"),
    )
    return agg.select(
        F.lit(CTX_TOKENS).cast("bigint").alias("ctx_tokens"),
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        F.round(
            F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 6
        ).alias("fertility"),
        F.expr(f"(ws_tokens + {CTX_TOKENS - 1}) DIV {CTX_TOKENS}")
        .cast("bigint")
        .alias("n_windows_ws"),
        F.expr(f"(bpe_tokens + {CTX_TOKENS - 1}) DIV {CTX_TOKENS}")
        .cast("bigint")
        .alias("n_windows_bpe"),
        "n_chopped_ws",
        "n_chopped_bpe",
        F.round(
            F.col("n_chopped_bpe").cast("double") / F.col("n_docs"), 6
        ).alias("chop_rate_bpe"),
        "padded_tokens_ws",
        "padded_tokens_bpe",
    )


def _bpe_fertility_oracle() -> str:
    blocks, final = _bpe_blocks()
    return (
        "WITH "
        + ",\n".join(blocks)
        + """,
lens AS (SELECT word, CAST(len(seq) AS BIGINT) AS bpe_len FROM {final}),
dw AS (
  SELECT doc_id, source,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
bp AS (
  SELECT dw.source, CAST(sum(l.bpe_len) AS BIGINT) AS bpe_tokens
  FROM dw JOIN lens l USING (word) GROUP BY 1
),
base AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS ws_tokens,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1
)
SELECT b.source, b.n_docs, b.ws_tokens,
       coalesce(p.bpe_tokens, 0) AS bpe_tokens,
       round(CAST(coalesce(p.bpe_tokens, 0) AS DOUBLE) / b.ws_tokens, 6)
         AS fertility,
       CASE WHEN coalesce(p.bpe_tokens, 0) = 0 THEN NULL
            ELSE round(CAST(b.n_chars AS DOUBLE) / p.bpe_tokens, 4) END
         AS chars_per_token
FROM base b LEFT JOIN bp p USING (source)
""".replace("{final}", final)
    )


@query(
    "bpe_fertility_by_source",
    oracle=_bpe_fertility_oracle(),
    tags=("curation", "bpe", "tokenizer", "mixture"),
)
def bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED-vocabulary fertility per SOURCE — the mixture-axis
    companion of ``tokenizer_fertility_by_lang`` (which uses a regex
    subword proxy): tokenize the corpus under the trained BPE merges
    and report, per source, real tokens per whitespace word and
    chars-per-token compression. This is the read a mixture designer
    uses to see which sources are expensive under the tokenizer that
    will actually ship — sources whose vocabulary resisted the learned
    merges pay more context budget per document.

    Scale shape: the _bpe_train reduction (one corpus pass +
    vocab-sized loop), then one explode + vocab-length equi-join +
    hash aggregate to the source axis; whitespace/char totals are one
    narrow aggregate. Ratios rounded engine-side."""
    cur, _merges = _bpe_train(spark, sf_dir)
    vocab = cur.select("word", F.size("seq").cast("bigint").alias("bpe_len"))
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.trim("text"), WS), lambda x: x != F.lit(""))
        ).alias("word"),
    )
    bp = words.join(vocab, "word").groupBy("source").agg(
        F.sum("bpe_len").cast("bigint").alias("bpe_tokens")
    )
    from atlassian_confluence_data_pipeline_spark.plans.textops import _words

    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(_words(F.col("text"))))
        .cast("bigint")
        .alias("ws_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    bpe = F.coalesce(F.col("bpe_tokens"), F.lit(0))
    return base.join(bp, "source", "left").select(
        "source",
        "n_docs",
        "ws_tokens",
        bpe.alias("bpe_tokens"),
        F.round(bpe.cast("double") / F.col("ws_tokens"), 6).alias(
            "fertility"
        ),
        F.when(bpe == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("n_chars").cast("double") / bpe, 4))
        .alias("chars_per_token"),
    )
