"""Exact-substring dedup (suffix-array family, X1/X2).

The one standard LLM-dedup granularity the hash/shingle/span queries
don't answer: VERBATIM cross-document token overlaps of at least K
tokens, reported as MAXIMAL runs (the deduplicate-text-datasets /
"Deduplicating Training Data Makes Language Models Better" semantics,
re-expressed for a shuffle engine). A true distributed suffix array is
pointless on Spark — the equivalent result comes from fixed-K rolling
window hashes + island detection:

1. per-word rolling hashes (ONE char fold per word, the
   ``word_hashes`` stage) combined into POSITIONAL K-token
   window hashes (``shingle_hashes_from_word_hashes`` with
   ``distinct=False``);
2. a doc-frequency gate keeps window hashes shared by >= 2 documents
   (the join driver) and drops hashes in more than ``MAX_WINDOW_DF``
   documents — the boilerplate guard that keeps bucket joins linear at
   corpus scale (a license header shared by millions of pages would
   otherwise explode the pair count quadratically);
3. an equi-join on the window hash yields matching positions; runs of
   consecutive windows on one (doc_a, doc_b) DIAGONAL (pos_b - pos_a
   constant) are merged to maximal overlaps with the gaps-and-islands
   anchor (``pos_a - row_number()``) — a window partitioned by pair +
   diagonal, never by the corpus.

A K-token window match at consecutive positions p..p+n-1 is exactly a
verbatim (n + K - 1)-token overlap, so ``len_tokens`` is the true
maximal run length. 64-bit-ish hash collisions (the fold is mod 2^31)
are reproduced identically by the oracle; at 100 TB the fold widens to
128 bits and the semantics are unchanged.

Scale shape: windows are linear in corpus tokens; the DF gate is one
hash aggregate; candidate pairs are linear in truly-shared windows
(bounded by MAX_WINDOW_DF^2 per hash); the island window sees one
pair-diagonal at a time. SCALING.md carries the x8 row.

Reference analog: none (the reference has no dedup surface) — this is
part of the LLM-pipeline extension mandate (SURVEY §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.functions.text import (
    rolling_hash_sql,
)
from atlassian_confluence_data_pipeline_spark.operators.lsh import (
    shingle_hashes_from_word_hashes,
    shingle_hashes_sql,
    word_hashes,
)
from atlassian_confluence_data_pipeline_spark.plans.registry import query
from atlassian_confluence_data_pipeline_spark.plans.textops import _words

#: minimum verbatim overlap, in tokens — the window width. 12 sits in
#: the published 10-50 range (WebText dedup used 13-gram windows) and
#: the fixtures carry planted 23-93 token runs well above it.
MIN_OVERLAP_TOKENS = 12

#: boilerplate guard: window hashes appearing in more documents than
#: this are dropped before the pair join (at sf0.01/sf0.1 the fixture
#: max doc-frequency is 3, so the gate is semantics-neutral here; at
#: corpus scale it bounds every hash bucket's pair fan-out)
MAX_WINDOW_DF = 32


def _runs_cte() -> str:
    """CTE chain ``w -> wht -> sp -> win -> hd -> m -> p -> isl ->
    runs`` producing the maximal-run table (doc_a, doc_b, start_a,
    start_b, len_tokens) — shared by every oracle in this family."""
    k = MIN_OVERLAP_TOKENS
    return f"""w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), wht AS (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), sp AS (
  SELECT doc_id, {shingle_hashes_sql(k, distinct=False)} AS hs FROM wht
), win AS (
  SELECT doc_id, unnest(range(0, len(hs))) AS pos, unnest(hs) AS h FROM sp
), hd AS (
  SELECT h FROM win GROUP BY h
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {MAX_WINDOW_DF}
), m AS (
  SELECT win.* FROM win JOIN hd USING (h)
), p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
  FROM m a JOIN m b ON a.h = b.h AND a.doc_id < b.doc_id
), isl AS (
  SELECT doc_a, doc_b, pos_b - pos_a AS diag, pos_a, pos_b,
         pos_a - row_number() OVER (
           PARTITION BY doc_a, doc_b, pos_b - pos_a ORDER BY pos_a
         ) AS island
  FROM p
), runs AS (
  SELECT doc_a, doc_b,
         CAST(min(pos_a) AS BIGINT) AS start_a,
         CAST(min(pos_b) AS BIGINT) AS start_b,
         CAST(count(*) + {k - 1} AS BIGINT) AS len_tokens
  FROM isl GROUP BY doc_a, doc_b, diag, island
)"""


def _substring_oracle() -> str:
    return f"""
WITH {_runs_cte()}
SELECT doc_a, doc_b, start_a, start_b, len_tokens FROM runs
"""


def overlap_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maximal-run table as a session-shared stage (the
    ``_cache.py`` pattern) — consumed by the detection query, the
    apply-form dedup, the source overlap-mass report and the span-level
    contamination report."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        shared_pair_table,
    )

    return shared_pair_table(spark, sf_dir, "substring_runs", _build_runs)


def _build_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = MIN_OVERLAP_TOKENS
    docs = load_table(spark, sf_dir, "documents")
    win = word_hashes(docs).select(
        "doc_id",
        F.posexplode(
            shingle_hashes_from_word_hashes(F.col("wh"), n=k, distinct=False)
        ).alias("pos", "h"),
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "h")
    # DF gate: one hash aggregate; >= 2 drives the join, <= MAX_WINDOW_DF
    # bounds per-bucket pair fan-out (boilerplate guard)
    hd = (
        win.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= MAX_WINDOW_DF))
        .select("h")
    )
    m = win.join(hd, "h")
    a = m.select(
        "h", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = m.select(
        "h", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
    )
    diag = (F.col("pos_b") - F.col("pos_a")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = pairs.select(
        "doc_a", "doc_b", "pos_a", diag
    ).withColumn("island", F.col("pos_a") - F.row_number().over(w))
    k1 = MIN_OVERLAP_TOKENS - 1
    return isl.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.min("pos_a").cast("bigint").alias("start_a"),
        (F.min("pos_a") + F.col("diag")).cast("bigint").alias("start_b"),
        (F.count(F.lit(1)) + F.lit(k1)).cast("bigint").alias("len_tokens"),
    ).select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")


@query(
    "exact_substring_overlaps",
    oracle=_substring_oracle(),
    tags=("curation", "dedup", "text", "substring"),
)
def exact_substring_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal verbatim cross-document token overlaps of >=
    MIN_OVERLAP_TOKENS tokens — exact-substring dedup via positional
    K-window rolling hashes + diagonal island merge (module docstring).
    Output: one row per maximal run, ``(doc_a, doc_b, start_a, start_b,
    len_tokens)`` with 0-based token offsets. The run table is the
    session+disk-shared stage every family member consumes
    (:func:`overlap_runs`)."""
    return overlap_runs(spark, sf_dir)


@query(
    "exact_substring_dedup_docs",
    oracle=f"""
WITH {_runs_cte()}, cov AS (
  SELECT DISTINCT doc_b AS doc_id,
         CAST(unnest(range(start_b, start_b + len_tokens)) AS BIGINT) AS pos
  FROM runs
), tok AS (
  SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS pos, w
  FROM w
), kept AS (
  SELECT t.doc_id, t.pos, t.w[t.pos + 1] AS word
  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
), rebuilt AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         array_to_string(list(word ORDER BY pos), ' ') AS clean_text
  FROM kept GROUP BY doc_id
), removed AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM cov GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(w.w) AS BIGINT) AS n_tokens,
       coalesce(rm.n_removed, 0) AS n_removed,
       coalesce(rb.n_kept, CAST(len(w.w) AS BIGINT)) AS n_kept,
       coalesce(rb.clean_text,
                array_to_string(w.w, ' ')) AS clean_text
FROM documents d
JOIN w ON d.doc_id = w.doc_id
LEFT JOIN removed rm ON d.doc_id = rm.doc_id
LEFT JOIN rebuilt rb ON d.doc_id = rb.doc_id
""",
    tags=("curation", "dedup", "text", "substring", "pipeline"),
)
def exact_substring_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY form of exact-substring dedup (the Lee et al.
    "Deduplicating Training Data" removal semantics, keep-first): every
    token covered by a >= MIN_OVERLAP_TOKENS verbatim run is removed
    from the HIGHER-id document (runs are canonical doc_a < doc_b, so
    doc_b loses the span; the globally-first occurrence survives
    verbatim), and each document is rebuilt from its surviving tokens.
    Output: (doc_id, n_tokens, n_removed, n_kept, clean_text).

    Scale shape: coverage explodes only the REMOVED token positions
    (linear in duplicated mass, far below corpus mass), the keep filter
    is one left-anti equi-join on (doc_id, pos), and the rebuild is one
    sort_array(collect_list) per document — per-group state is a single
    document, never a corpus window."""
    docs = load_table(spark, sf_dir, "documents")
    runs = overlap_runs(spark, sf_dir)
    cov = runs.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(
            F.sequence(
                F.col("start_b"),
                F.col("start_b") + F.col("len_tokens") - 1,
            )
        ).alias("pos"),
    ).distinct()
    tok = docs.select(
        "doc_id",
        F.posexplode(_words(F.col("text"))).alias("pos", "word"),
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "word")
    kept = tok.join(cov, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("clean_text"),
    )
    removed = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed")
    )
    base = docs.select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", _words(F.col("text"))).alias("__orig"),
    )
    return (
        base.join(removed, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0).cast("bigint")).alias("n_removed"),
            F.coalesce("n_kept", F.col("n_tokens")).alias("n_kept"),
            F.coalesce("clean_text", F.col("__orig")).alias("clean_text"),
        )
    )


@query(
    "overlap_mass_by_source",
    oracle=f"""
WITH {_runs_cte()}
SELECT least(da.source, db.source) AS src_a,
       greatest(da.source, db.source) AS src_b,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(count(DISTINCT (runs.doc_a, runs.doc_b)) AS BIGINT)
         AS n_doc_pairs,
       CAST(sum(len_tokens) AS BIGINT) AS total_overlap_tokens,
       CAST(max(len_tokens) AS BIGINT) AS max_run_tokens
FROM runs
JOIN documents da ON runs.doc_a = da.doc_id
JOIN documents db ON runs.doc_b = db.doc_id
GROUP BY 1, 2
""",
    tags=("curation", "overlap", "substring", "governance"),
)
def overlap_mass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source VERBATIM overlap mass — the provenance-level view of
    the run table: for every (source, source) pair, how many maximal
    runs, distinct contaminated doc pairs, and total/max duplicated
    tokens. Where source_overlap_matrix measures shingle-SET Jaccard
    (any shared vocabulary), this counts contiguous copied text — the
    governance signal for "dataset B republishes dataset A". One
    broadcast-sized join per side over the shared run table."""
    docs = load_table(spark, sf_dir, "documents")
    runs = overlap_runs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    j = (
        runs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "doc_a",
            "doc_b",
            "len_tokens",
        )
    )
    return j.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.count_distinct("doc_a", "doc_b").cast("bigint").alias("n_doc_pairs"),
        F.sum("len_tokens").cast("bigint").alias("total_overlap_tokens"),
        F.max("len_tokens").cast("bigint").alias("max_run_tokens"),
    )


@query(
    "benchmark_contamination_spans",
    oracle=f"""
WITH {_runs_cte()}, bench AS (
  SELECT doc_id FROM documents
  WHERE source = (SELECT min(source) FROM documents)
), tagged AS (
  SELECT runs.*,
         (doc_a IN (SELECT doc_id FROM bench)) AS a_bench,
         (doc_b IN (SELECT doc_id FROM bench)) AS b_bench
  FROM runs
), x AS (
  SELECT CASE WHEN a_bench THEN doc_b ELSE doc_a END AS train_doc,
         CASE WHEN a_bench THEN doc_a ELSE doc_b END AS bench_doc,
         len_tokens
  FROM tagged WHERE a_bench != b_bench
)
SELECT train_doc,
       CAST(count(DISTINCT bench_doc) AS BIGINT) AS n_bench_docs,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(len_tokens) AS BIGINT) AS total_overlap_tokens,
       CAST(max(len_tokens) AS BIGINT) AS max_span_tokens
FROM x GROUP BY 1
""",
    tags=("curation", "decontamination", "substring", "governance"),
)
def benchmark_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level benchmark decontamination — the verbatim-run
    complement of the Bloom/n-gram ``decontaminate_overlap``: with the
    lexicographically-first source standing in as the held-out
    benchmark, report every training document that shares a >=
    MIN_OVERLAP_TOKENS verbatim run with a benchmark document (how many
    benchmark docs, spans, and duplicated tokens). This is the report a
    pipeline acts on BEFORE training: drop or scrub the listed docs.
    The benchmark id set is a broadcast semi-join side; everything else
    rides the shared run table."""
    docs = load_table(spark, sf_dir, "documents")
    runs = overlap_runs(spark, sf_dir)
    bsrc = docs.agg(F.min("source").alias("bsrc"))
    bench = (
        docs.join(F.broadcast(bsrc), docs["source"] == bsrc["bsrc"])
        .select("doc_id")
    )
    tagged = (
        runs.join(
            F.broadcast(bench.select(F.col("doc_id").alias("doc_a"))).withColumn(
                "a_bench", F.lit(True)
            ),
            "doc_a",
            "left",
        )
        .join(
            F.broadcast(bench.select(F.col("doc_id").alias("doc_b"))).withColumn(
                "b_bench", F.lit(True)
            ),
            "doc_b",
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            "len_tokens",
            F.coalesce("a_bench", F.lit(False)).alias("a_bench"),
            F.coalesce("b_bench", F.lit(False)).alias("b_bench"),
        )
        .filter(F.col("a_bench") != F.col("b_bench"))
    )
    x = tagged.select(
        F.when(F.col("a_bench"), F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("train_doc"),
        F.when(F.col("a_bench"), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("bench_doc"),
        "len_tokens",
    )
    return x.groupBy("train_doc").agg(
        F.count_distinct("bench_doc").cast("bigint").alias("n_bench_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("len_tokens").cast("bigint").alias("total_overlap_tokens"),
        F.max("len_tokens").cast("bigint").alias("max_span_tokens"),
    )
