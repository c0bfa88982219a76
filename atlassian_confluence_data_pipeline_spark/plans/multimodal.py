"""Multimodal + LSH queries (extensions X2/X5).

All three are oracle-checked. The LSH paths use the engine-portable
rolling-hash family (functions/text.py ROLLING_BASE/MOD) with affine
permutation constants drawn from seeded RNGs shared between the Spark
operators (operators/lsh.py) and the DuckDB oracle SQL *generated
below from the same constants* — signatures, band keys and SimHash
fingerprints are reproduced bit-for-bit by DuckDB's list_reduce /
list_transform, so the driver hash-checks the full candidate+verify
pipeline, not just row counts. The oracle joins are written all-pairs
(fine at oracle scale); the Spark side keeps the banded equi-join shape
that scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.functions.text import (
    ROLLING_MOD,
    rolling_hash_sql,
)
from atlassian_confluence_data_pipeline_spark.operators.lsh import (
    BAND_BASE,
    BAND_MOD,
    MINHASH_PERMS,
    SIMHASH_PERMS,
    SIMHASH_THRESHOLD,
    lsh_band_candidates,
    minhash_signatures,
    shingle_hashes_from_word_hashes,
    shingle_hashes_sql,
    simhash_near_pairs,
    verify_candidates_jaccard,
    word_hashes,
)
from atlassian_confluence_data_pipeline_spark.plans.registry import query
from atlassian_confluence_data_pipeline_spark.plans.textops import _words
from atlassian_confluence_data_pipeline_spark.sources.binary import (
    attachments_from_documents,
    decode_image,
    image_attachments_from_documents,
)


@query(
    "multimodal_attachment_stats",
    oracle="""
WITH files AS (
  SELECT doc_id,
         CASE CAST(doc_id % 6 AS INT)
           WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
           WHEN 2 THEN 'application/pdf' WHEN 3 THEN 'text/plain'
           WHEN 4 THEN 'image/gif' ELSE 'application/octet-stream' END AS mime,
         octet_length(encode(text)) AS n_bytes
  FROM documents
)
SELECT mime,
       split_part(mime, '/', 1) AS kind,
       count(*) AS n_files,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(max(n_bytes) AS INT) AS max_bytes
FROM files GROUP BY 1, 2
""",
    tags=("multimodal", "binary", "agg"),
)
def multimodal_attachment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary columns X5: attachments as BINARY content +
    typed STRUCT metadata (mime, size, kind), aggregated per media type.
    Exercises the binary ingestion schema end-to-end; byte payload sizes
    are oracle-exact."""
    docs = load_table(spark, sf_dir, "documents")
    att = attachments_from_documents(docs)
    return (
        att.groupBy(
            F.col("meta.mime").alias("mime"), F.col("meta.kind").alias("kind")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("meta.n_bytes").cast("bigint").alias("total_bytes"),
            F.max("meta.n_bytes").cast("int").alias("max_bytes"),
        )
    )


@query(
    "decoded_image_stats",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 6 + 2 AS INT) AS width,
       CAST(doc_id % 4 + 2 AS INT) AS height,
       CAST((doc_id % 6 + 2) * (doc_id % 4 + 2) * 3 AS INT) AS n_pixels,
       CAST(list_sum(list_transform(range(0, doc_id % 4 + 2), y ->
         list_sum(list_transform(range(0, doc_id % 6 + 2), x ->
           list_sum(list_transform(range(0, 3), c ->
             (doc_id + 7 * x + 13 * y + 101 * c) % 256)))))) AS BIGINT) AS pixel_sum
FROM documents
""",
    tags=("multimodal", "image", "decode"),
)
def decoded_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 image decode, hash-checked END TO END: workers encode the
    deterministic gradient fixtures (BMP for even ids, PPM for odd),
    the pure-numpy decoders (functions/imaging.py) decode them back via
    mapInPandas, and per-image dimensions + pixel sums must equal what
    DuckDB derives symbolically from the same doc_id arithmetic — any
    byte-level bug in either codec or the Arrow plumbing breaks the
    value hash."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_image(image_attachments_from_documents(docs))
    return decoded.select(
        F.col("owner_id").alias("doc_id"),
        "width",
        "height",
        F.size("pixels").alias("n_pixels"),
        F.aggregate(
            "pixels", F.lit(0).cast("bigint"), lambda a, b: a + b
        ).alias("pixel_sum"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL generators — same constants as operators/lsh.py
# ---------------------------------------------------------------------------

MINHASH_K = 32
MINHASH_BANDS = 16
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS
MINHASH_JACCARD = 0.05
SIMHASH_MAX_HAMMING = 12
SIMHASH_CHUNKS = 4


def _minhash_oracle() -> str:
    mins = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {ROLLING_MOD}))"
        for a, b in MINHASH_PERMS[:MINHASH_K]
    )
    jac = (
        "CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)"
        " / (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b)))"
    )
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), wht AS (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), t AS (
  SELECT doc_id, {shingle_hashes_sql()} AS hs FROM wht
), ne AS (
  SELECT doc_id, hs FROM t WHERE len(hs) > 0
), sig AS (
  SELECT doc_id, hs,
         [{mins}] AS sig
  FROM ne
), banded AS (
  SELECT doc_id, hs, list_transform(range(0, {MINHASH_BANDS}), bi ->
    list_reduce(list_prepend(CAST(bi AS BIGINT),
        list_transform(range(1, {MINHASH_ROWS} + 1), m -> sig[bi * {MINHASH_ROWS} + m])),
      (acc, v) -> (acc * {BAND_BASE} + v) % {BAND_MOD})) AS bk
  FROM sig
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.hs AS hs_a, b.hs AS hs_b
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id AND len(list_intersect(a.bk, b.bk)) > 0
)
SELECT id_a, id_b, round({jac}, 6) AS jaccard
FROM cand
WHERE {jac} >= {MINHASH_JACCARD}
"""


def _neardup_lsh_oracle(docs_src: str = "documents") -> str:
    """Oracle for the SCALE-PATH near-dup: identical LSH candidate
    machinery as :func:`_minhash_oracle` (portable word-hash -> shingle
    combine -> 32-perm signatures -> 16 tagged band keys), but the
    verify step computes exact Jaccard over the TRUE string shingle
    sets — the same similarity `near_dup_pairs` reports.

    ``docs_src`` lets a composing pipeline (full_curation_pipeline)
    point the chain at a filtered CTE instead of the raw table."""
    mins = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {ROLLING_MOD}))"
        for a, b in MINHASH_PERMS[:MINHASH_K]
    )
    jac = (
        "CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)"
        " / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))"
    )
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM {docs_src}
), wht AS (
  SELECT doc_id, w, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), t AS (
  SELECT doc_id,
         {shingle_hashes_sql()} AS hs,
         list_distinct(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
  FROM wht
), ne AS (
  SELECT doc_id, hs, sh FROM t WHERE len(hs) > 0
), sig AS (
  SELECT doc_id, sh,
         [{mins}] AS sig
  FROM ne
), banded AS (
  SELECT doc_id, sh, list_transform(range(0, {MINHASH_BANDS}), bi ->
    list_reduce(list_prepend(CAST(bi AS BIGINT),
        list_transform(range(1, {MINHASH_ROWS} + 1), m -> sig[bi * {MINHASH_ROWS} + m])),
      (acc, v) -> (acc * {BAND_BASE} + v) % {BAND_MOD})) AS bk
  FROM sig
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id AND len(list_intersect(a.bk, b.bk)) > 0
)
SELECT doc_a, doc_b, round({jac}, 6) AS jaccard
FROM cand
WHERE {jac} >= {MINHASH_JACCARD}
"""


def _simhash_oracle() -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN ({a} * h + {b}) % {ROLLING_MOD} >= {SIMHASH_THRESHOLD}"
        f" THEN 1 ELSE -1 END) AS v{i}"
        for i, (a, b) in enumerate(SIMHASH_PERMS)
    )
    # bits are disjoint powers of two, so addition == bitwise OR; bit 63
    # is the negative two's-complement literal (1::BIGINT << 63 would
    # overflow DuckDB's checked shift).
    fp_terms = [
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(63)
    ] + [
        "CASE WHEN v63 > 0 THEN CAST(-9223372036854775808 AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
    ]
    fp = "\n       + ".join(fp_terms)
    width = 64 // SIMHASH_CHUNKS
    mask = (1 << width) - 1
    # arithmetic shift + mask == unsigned shift + mask (the mask drops
    # the sign-extension bits), so chunk equality is portable even for
    # fingerprints with bit 63 set.
    chunk_eq = " OR ".join(
        f"((a.simhash >> {i * width}) & {mask}) = ((b.simhash >> {i * width}) & {mask})"
        for i in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
), h AS (
  SELECT doc_id, unnest(list_transform(toks, t -> {rolling_hash_sql('t')})) AS h
  FROM w
), v AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
), fp AS (
  SELECT doc_id,
         {fp}
         AS simhash
  FROM v
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b
  ON a.doc_id < b.doc_id AND ({chunk_eq})
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


@query("minhash_lsh_pairs", oracle=_minhash_oracle(), tags=("dedup", "neardup", "lsh"))
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup X2 (scale path): per-word rolling hash ->
    polynomial shingle-hash combine -> 32-perm MinHash -> 16-band bucket
    join -> Jaccard verify >= 0.05 over the shingle-HASH sets. Candidate
    generation is an equi-join on band buckets (near-linear); the O(n^2)
    all-pairs comparison never happens.

    PERF: each word is char-folded once even though it sits in 3
    shingles (~3x less hashing than folding shingle strings), the
    checkpoint stores bigint arrays instead of string arrays, and the
    verify intersects bigints. Hash-checked: the whole chain is
    reproduced bit-for-bit by the generated DuckDB oracle (all-pairs at
    oracle scale).

    The base/signature/candidate stages are session-shared with
    near_dup_pairs_lsh and minhash_estimate_calibration via
    plans/_cache.py (round-6 item 2, the MinHash analogue of the SRP
    sharing) — same constructions, identical values; the first consumer
    in a session pays the build once."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        minhash_band_candidates,
        minhash_doc_hashes,
    )

    hs = minhash_doc_hashes(spark, sf_dir).filter(F.size("hs") > 0)
    cand = minhash_band_candidates(spark, sf_dir)
    return verify_candidates_jaccard(
        cand, hs, "doc_id", "hs", threshold=MINHASH_JACCARD
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def neardup_lsh_pairs_frame(docs: DataFrame) -> DataFrame:
    """The reusable LSH near-dup chain over ANY (doc_id, text) frame:
    word-hash once -> shingle-hash combine -> 32-perm MinHash ->
    16-band bucket join -> exact Jaccard verify over the true shingle
    strings. Returns (doc_a, doc_b, jaccard). `near_dup_pairs_lsh` runs
    it on the raw table; `full_curation_pipeline` on its filtered
    survivor set."""
    from atlassian_confluence_data_pipeline_spark.plans.textops import _shingles

    base = (
        word_hashes(docs.select("doc_id", "text", _words(F.col("text")).alias("w")))
        .select(
            "doc_id",
            shingle_hashes_from_word_hashes(F.col("wh")).alias("hs"),
            _shingles(F.col("w")).alias("sh"),
        )
        # checkpoint BEFORE the size filter (textops/minhash PERF note:
        # a size() predicate on the alias re-inlines the whole fold)
        .localCheckpoint(eager=True)
        .filter(F.size("hs") > 0)
    )
    sig = minhash_signatures(base, "doc_id", k=MINHASH_K).localCheckpoint(eager=True)
    cand = lsh_band_candidates(sig, "doc_id", MINHASH_BANDS, MINHASH_ROWS)
    return verify_candidates_jaccard(
        cand, base, "doc_id", "sh", threshold=MINHASH_JACCARD
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@query(
    "near_dup_pairs_lsh",
    oracle=_neardup_lsh_oracle(),
    tags=("dedup", "neardup", "lsh", "scalepath"),
)
def near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB NEAR-DUP SCALE PATH (X2): the same exact string-shingle
    Jaccard >= 0.05 that `near_dup_pairs` reports, but candidates come
    from the banded MinHash equi-join instead of the blocked all-pairs
    join — candidate volume grows ~linearly with the corpus (SCALING.md)
    while the exact form's within-block pair space grows quadratically
    (10.8x wall at 8x data). `near_dup_pairs` remains as the sf-bounded
    oracle baseline; THIS query is the production composition:
    word-hash once -> shingle-hash combine -> 32-perm MinHash ->
    16-band bucket join -> exact Jaccard verify over the true shingle
    strings. Differences vs the exact baseline are the LSH contract:
    no lang/length blocking (cross-block dups become visible) and
    S-curve recall below j~0.2. Hash-checked bit-for-bit end to end
    (portable hash family; `_neardup_lsh_oracle`).

    Base + signature + candidate stages ride the session-shared
    _cache.py chain (round-6 item 2); `neardup_lsh_pairs_frame` stays
    the un-cached form for arbitrary frames (full_curation_pipeline's
    filtered survivors)."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        minhash_band_candidates,
        minhash_doc_shingles,
    )

    base = minhash_doc_shingles(spark, sf_dir).filter(F.size("sh") > 0)
    cand = minhash_band_candidates(spark, sf_dir)
    return verify_candidates_jaccard(
        cand, base, "doc_id", "sh", threshold=MINHASH_JACCARD
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@query("simhash_pairs", oracle=_simhash_oracle(), tags=("dedup", "neardup", "simhash"))
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup X2: 64-bit fingerprint per doc (explode + one
    HashAggregate with 64 affine-projection votes), candidate pairs via
    16-bit chunk pigeonhole banding, exact Hamming filter <= 12.
    Hash-checked via the generated DuckDB oracle (same constants).
    Since round 9 the fingerprint stage is the session+disk-shared
    ``_cache.py`` chain, so a fresh session warm-starts from the
    persisted 64-bit hashes and only the banded join runs."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        text_simhash_fp,
    )

    hashes = text_simhash_fp(spark, sf_dir)
    return simhash_near_pairs(hashes, "doc_id", max_hamming=SIMHASH_MAX_HAMMING)


# ---------------------------------------------------------------------------
# Cross-source overlap matrix (dataset-overlap analysis)
# ---------------------------------------------------------------------------


def _source_overlap_oracle() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), wht AS (
  SELECT doc_id, source, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
), t AS (
  SELECT source, unnest({shingle_hashes_sql()}) AS h FROM wht
), ss AS (
  SELECT DISTINCT source, h FROM t
), cnt AS (
  SELECT source, count(*) AS n FROM ss GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, i.n_common,
       ca.n AS n_a, cb.n AS n_b,
       round(CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common), 6)
         AS jaccard,
       round(CAST(i.n_common AS DOUBLE) / least(ca.n, cb.n), 6)
         AS containment
FROM inter i
JOIN cnt ca ON i.src_a = ca.source
JOIN cnt cb ON i.src_b = cb.source
"""


@query(
    "source_overlap_matrix",
    oracle=_source_overlap_oracle(),
    tags=("curation", "overlap", "mixture", "pipeline"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-overlap analysis: pairwise shingle-set Jaccard AND
    containment between every pair of sources — the measurement a
    mixture designer runs before weighting corpora (two sources that
    are 60% contained in each other should not be double-counted) and
    the corpus-level complement of per-document near-dup.

    Scale shape: one explode -> distinct(source, shingle-hash) hash
    aggregate, then shingles collapse to their source SET
    (collect_set bounded by |sources|, never corpus size) and each
    set emits its pairs — so the pair generation is per-shingle
    O(|sources|²) worst case, NOT a corpus self-join; the overlap
    counts aggregate to |sources|² rows joined against the tiny
    per-source totals. The shingle hash is the engine-portable
    rolling-hash combine, so DuckDB reproduces every bucket."""
    from atlassian_confluence_data_pipeline_spark.plans._cache import (
        minhash_doc_hashes,
    )

    docs = load_table(spark, sf_dir, "documents")
    # materialize the distinct (source, shingle-hash) table ONCE: three
    # consumers (pair generation + both per-source count joins) would
    # otherwise each re-run the scan + shingle folds (plan_audit caught
    # 18 duplicated aggregate-folds without this). Since round 9 the
    # per-doc shingle hashes come from the session+disk-shared
    # minhash_doc_hashes stage (identical fold), so a warm session
    # skips the word-hash + combine pass entirely.
    ss = (
        minhash_doc_hashes(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", F.explode("hs").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cnt = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    srcs = F.array_sort(F.collect_set("source"))
    pairs = (
        ss.groupBy("h")
        .agg(srcs.alias("ss"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ss"),
                        lambda s, i: F.transform(
                            F.slice(
                                F.col("ss"), i + 2, F.size("ss")
                            ),
                            lambda t: F.struct(
                                s.alias("src_a"), t.alias("src_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = cnt.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    cont = F.col("n_common").cast("double") / F.least("n_a", "n_b")
    return (
        pairs.join(F.broadcast(ca), "src_a")
        .join(F.broadcast(cb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(jac, 6).alias("jaccard"),
            F.round(cont, 6).alias("containment"),
        )
    )
