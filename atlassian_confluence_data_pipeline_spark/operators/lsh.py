"""Locality-sensitive hashing for near-duplicate detection at scale
(extension X2): MinHash + banded LSH, and SimHash with chunk-banding.

MinHash and SimHash are pure built-in expressions (higher-order array
functions, modular arithmetic, bit ops) — JVM-side, no UDFs, no
ML-pipeline fitting step, fully deterministic. The one exception is the
SRP fingerprint of dense vectors (:func:`with_srp_fingerprint`): a
``mapInArrow`` numpy kernel, because its 64 interpreted per-row folds
cost about a second of plan building and a second of execution per 500
64-d rows; the kernel keeps the fold's exact summation order, so it is
just as deterministic. The candidate-pair joins are *equi-joins on band
keys*: each document only ever meets documents sharing a band bucket,
so the pair count stays near-linear in corpus size — the property that
makes near-dup feasible at 100 TB where exact all-pairs Jaccard is
O(n^2).

Hashing is ENGINE-PORTABLE: the base hash is the same Rabin-Karp
polynomial rolling hash as ``functions.text.rolling_hash`` (char-code
fold mod a Mersenne prime), and the k MinHash permutations / 64 SimHash
bit projections are affine transforms ``(a_i*h + b_i) mod M`` with
constants drawn from a seeded RNG shared with the DuckDB oracle
generator (plans/multimodal.py). Every value — signatures, band keys,
fingerprints — is therefore reproducible bit-for-bit in any engine with
64-bit integer arithmetic, which is what lets the driver hash-check
these paths instead of a rows-only count. Each hash decision has one
Spark definition here (:func:`word_hashes`,
:func:`shingle_hashes_from_word_hashes`, :func:`minhash_signatures`,
:func:`lsh_band_candidates`) and the combine one DuckDB rendering
(:func:`shingle_hashes_sql`).

PERF note (the projection-CSE trap, see PLANS.md): the per-word fold
is staged as a real ``wh`` column before the shingle combine references
it n times, and the MinHash signature is explode -> ONE HashAggregate
with k ``min`` slots, so no expensive fold is re-inlined per
reference. Signatures are materialized before band keys reference them
element-wise.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.functions.text import (
    ROLLING_MOD,
    rolling_hash,
)

#: polynomial-fold constants for combining band slots into one band key
BAND_BASE = 1000003
BAND_MOD = ROLLING_MOD  # keys < 2^31: fold products stay < 2^63

#: affine permutation constants (a odd < 2^31, b < 2^31), shared with the
#: DuckDB oracle SQL generated in plans/multimodal.py — same seed, same
#: constants, same signatures in both engines.
def _affine_perms(seed: int, n: int) -> tuple[tuple[int, int], ...]:
    rng = random.Random(seed)
    return tuple((rng.getrandbits(31) | 1, rng.getrandbits(31)) for _ in range(n))


MINHASH_PERMS = _affine_perms(0x5EED, 64)
SIMHASH_PERMS = _affine_perms(0x51AB, 64)
SRP_PERMS = _affine_perms(0x0EED, 64)

#: SimHash bit vote: +1 when the affine projection lands in the top half
#: of [0, ROLLING_MOD) — an unbiased pseudo-random bit per (token, slot).
SIMHASH_THRESHOLD = 1 << 30


def word_hashes(df: DataFrame) -> DataFrame:
    """``df`` with its ``text`` column replaced by ``wh``: the rolling
    hash of each whitespace-split word, as a real column. The one
    word-hash stage of every shingle, n-gram and SimHash consumer; the
    combine below references ``wh`` n times, so it must read this
    projected column, never an inline fold (Catalyst would copy the
    fold per reference)."""
    from atlassian_confluence_data_pipeline_spark.plans.textops import _words

    keep = [c for c in df.columns if c != "text"]
    return df.select(
        *keep, F.transform(_words(F.col("text")), rolling_hash).alias("wh")
    )


def shingle_hashes_from_word_hashes(
    wh: Column, n: int = 3, distinct: bool = True
) -> Column:
    """n-gram shingle hashes combined from PER-WORD rolling hashes with
    a polynomial fold ``((h1*B + h2) % M * B + h3) % M`` — each word is
    char-folded ONCE even though it participates in n shingles (~n-fold
    less hashing than folding each shingle string). Distinct-deduped:
    MinHash and Jaccard both operate on shingle *sets*. ``wh`` must be
    the :func:`word_hashes` column. Rendered for DuckDB by
    :func:`shingle_hashes_sql`. Overflow-free: h < 2^31, B ~ 2^20, so
    h*B + h' < 2^52."""
    count = F.greatest(F.size(wh) - (n - 1), F.lit(0))
    acc = F.slice(wh, 1, count)
    for i in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(wh, i + 1, count),
            lambda a, b: (a * BAND_BASE + b) % ROLLING_MOD,
        )
    # distinct=False keeps POSITIONAL order (winnowing needs windows
    # over the shingle sequence, not the shingle set)
    return F.array_distinct(acc) if distinct else acc


def shingle_hashes_sql(n: int = 3, distinct: bool = True) -> str:
    """DuckDB rendering of :func:`shingle_hashes_from_word_hashes` over
    a ``wh`` list column: the same positional fold, ``[]`` below n
    words and NULL for a NULL ``wh``. ``list_distinct`` does not keep
    first-occurrence order, so only the distinct form's SET matches."""
    comb = "wh[i]"
    for k in range(1, n):
        comb = f"({comb} * {BAND_BASE} + wh[i + {k}]) % {ROLLING_MOD}"
    hs = f"list_transform(range(1, greatest(len(wh) - {n - 2}, 1)), i -> {comb})"
    if distinct:
        hs = f"list_distinct({hs})"
    return f"CASE WHEN wh IS NOT NULL THEN {hs} END"


def with_srp_fingerprint(
    df: DataFrame, vec_col: str, out_col: str = "simhash", bits: int = 64
) -> DataFrame:
    """Append a signed-random-projection (hyperplane) LSH fingerprint of
    a dense vector column — bit i is the SIGN of the dot product with a
    pseudo-random ±1 hyperplane, so P(bits differ) = angle/pi (the SRP
    property that makes Hamming distance a cosine proxy).

    The hyperplane matrix is never stored: its sign at dimension j is
    the affine-hash bit ``(a_i*j + b_i) mod M >= M/2`` — the same
    formula regenerates it in any engine, which is what lets DuckDB
    reproduce every fingerprint bit-for-bit. One ``mapInArrow`` kernel
    computes all ``bits`` dots of a batch at once, but each dot is
    still the plain-double LEFT fold ``acc + (±v_j)`` from 0.0 over the
    dimensions in order (vectorised over rows x bits, never a matmul,
    whose summation order differs), so it is bit-identical to Spark's
    ``aggregate`` fold over the same terms and to the oracle's
    ``list_sum``. Bit 63 lands on the two's-complement sign bit —
    downstream chunking uses unsigned shifts (simhash_near_pairs).

    Edge rows follow Spark's semantics for that fold: a NaN dot sets
    its bit (NaN >= 0.0 is true in Spark); a null vector, a null
    element or an empty array gives fingerprint 0; vectors of different
    dimensions may share a batch (shorter rows are padded with 0.0,
    which leaves a running sum that starts at +0.0 unchanged)."""
    from pyspark.sql import types as T

    perms = SRP_PERMS[:bits]
    mod, thr = ROLLING_MOD, SIMHASH_THRESHOLD
    names = list(df.columns) + [out_col]
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa

        a = np.array([p[0] for p in perms], dtype=np.int64)
        b = np.array([p[1] for p in perms], dtype=np.int64)
        bit_values = np.uint64(1) << np.arange(len(perms), dtype=np.uint64)
        for batch in batches:
            vecs = batch.column(vec_col)
            lens = vecs.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
            flat = vecs.flatten().cast(pa.float64())
            rows = np.repeat(np.arange(len(lens)), lens)
            pos = np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)
            null_elem = np.bincount(
                rows[flat.is_null().to_numpy(zero_copy_only=False)],
                minlength=len(lens),
            )
            valid = (lens > 0) & (null_elem == 0)
            x = np.zeros((len(lens), int(lens.max(initial=0))))
            x[rows, pos] = flat.fill_null(0.0).to_numpy(zero_copy_only=False)
            acc = np.zeros((len(lens), len(perms)))
            with np.errstate(over="ignore", invalid="ignore"):  # inf/NaN rows
                for j in range(x.shape[1]):
                    sign = np.where((a * j + b) % mod >= thr, 1.0, -1.0)
                    acc += x[:, j, None] * sign
            set_bits = ((acc >= 0.0) | np.isnan(acc)) & valid[:, None]
            fp = (set_bits * bit_values).sum(axis=1, dtype=np.uint64)
            yield pa.RecordBatch.from_arrays(
                batch.columns + [pa.array(fp.view(np.int64))], names=names
            )

    return df.mapInArrow(_kernel, schema)


def lsh_band_keys(signature: Column, bands: int, rows: int) -> list[Column]:
    """One key per band (``rows`` consecutive signature slots): a
    positional polynomial fold seeded with the band index, so the key
    encodes WHICH band matched — ``((b*B + s_1) % M * B + s_2) % M ...``
    Two docs collide in a band iff that band's slots all match — the
    classic (b, r) S-curve: P(candidate) = 1 - (1 - j^r)^b. The tagged
    fold is reproducible in DuckDB via list_reduce (plans/multimodal.py).

    ``signature`` must be a MATERIALIZED column (post-checkpoint): the
    fold references it element-wise bands*rows times."""
    keys = []
    for b in range(bands):
        acc: Column = F.lit(b).cast("bigint")
        for m in range(rows):
            acc = (acc * BAND_BASE + F.element_at(signature, b * rows + m + 1)) % BAND_MOD
        keys.append(acc)
    return keys


def minhash_signatures(docs: DataFrame, id_col: str, k: int = 32) -> DataFrame:
    """``(id_col, sig)``: the k-permutation MinHash signature of each
    non-empty shingle-hash set ``hs`` (values in [0, M), see
    :func:`shingle_hashes_from_word_hashes`).

    Each permutation is an affine transform ``(a_i*h + b_i) mod M``, and
    the signature is explode -> ONE HashAggregate with k ``min`` slots:
    the k mins run in whole-stage codegen (a higher-order fold is
    interpreted, ~3x slower), and partial aggregation combines
    map-side, so the exchange carries one row per document, not per
    shingle. Overflow-free: a, h < 2^31 so a*h + b < 2^63."""
    mins = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % ROLLING_MOD).alias(f"__m{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS[:k])
    ]
    return (
        docs.filter(F.size("hs") > 0)
        .select(id_col, F.explode("hs").alias("__h"))
        .groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("sig"))
    )


def lsh_band_candidates(
    sig: DataFrame, id_col: str, bands: int, rows: int
) -> DataFrame:
    """Candidate near-dup pairs ``(id_a, id_b)`` (id_a < id_b) via
    banded MinHash LSH over a MATERIALIZED ``(id_col, sig)`` frame (a
    lazy one would re-derive the signature aggregation 2*bands times):
    an explode produces band-key rows and a self-equi-join on the tagged
    key yields candidates, deduped because a pair can collide in several
    bands."""
    keys = lsh_band_keys(F.col("sig"), bands, rows)
    banded = sig.select(id_col, F.explode(F.array(*keys)).alias("band_key"))
    return (
        banded.select(F.col(id_col).alias("id_a"), "band_key")
        .join(banded.select(F.col(id_col).alias("id_b"), "band_key"), "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_candidates_jaccard(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidates — the verify step of
    the standard candidate/verify split; only O(candidates) set
    intersections instead of O(n^2)."""
    sh = docs.select(F.col(id_col).alias("__vid"), F.col(shingles_col).alias("__sh"))
    a = sh.select(F.col("__vid").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col("__vid").alias("id_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    # materialize (intersection, sizes) per candidate BEFORE the ratio +
    # threshold: the Jaccard expression references the intersection
    # twice and the filter would push below the projection, so without
    # the barrier each candidate pays the set intersection up to 4x
    sized = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("__i"),
            (F.size("__sh_a") + F.size("__sh_b")).alias("__s"),
        )
        .localCheckpoint(eager=False)
    )
    jac = F.col("__i").cast("double") / (F.col("__s") - F.col("__i"))
    return (
        sized.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, id_col: str) -> DataFrame:
    """64-bit SimHash per document over its token hashes ``wh`` (the
    :func:`word_hashes` column): sign of the per-bit weighted sum
    of token-hash projections (+1 / -1 votes). Bit i votes +1 when the
    affine projection ``(a_i*h + b_i) mod M`` lands in the top half of
    the range.

    Implemented as explode -> one HashAggregate with 64 conditional sums
    -> bit reassembly. SCALE NOTE: this shape beats a per-row
    ``F.aggregate`` struct fold both locally and on a cluster — the 64
    sums run in whole-stage-codegen'd HashAggregate (HOF folds are
    interpreted, measured ~30%% slower here), and partial aggregation
    combines map-side so the exchange carries ONE row per document, not
    per token. No Python anywhere."""
    tok = docs.select(
        F.col(id_col).alias("__id"), F.explode("wh").alias("__h")
    )
    votes = [
        F.sum(
            F.when(
                (F.lit(a) * F.col("__h") + F.lit(b)) % ROLLING_MOD
                >= SIMHASH_THRESHOLD,
                1,
            ).otherwise(-1)
        ).alias(f"__b{i}")
        for i, (a, b) in enumerate(SIMHASH_PERMS)
    ]
    agg = tok.groupBy("__id").agg(*votes)
    fingerprint = None
    for b in range(len(SIMHASH_PERMS)):
        term = F.when(
            F.col(f"__b{b}") > 0, F.shiftleft(F.lit(1).cast("bigint"), b)
        ).otherwise(F.lit(0).cast("bigint"))
        fingerprint = term if fingerprint is None else fingerprint.bitwiseOR(term)
    return agg.select(F.col("__id").alias(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    hashes: DataFrame, id_col: str, max_hamming: int = 3, chunks: int = 4
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= ``max_hamming``.

    Pigeonhole banding: split the 64-bit fingerprint into ``chunks``
    16-bit chunks; any pair within distance <= chunks-1 must agree on at
    least one chunk, so the join is an equi-join on (chunk_id, chunk
    value), then an exact popcount filter. No cross join at any scale."""
    width = 64 // chunks
    mask = (1 << width) - 1
    chunk_cols = [
        (F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))).alias(
            f"__c{i}"
        )
        for i in range(chunks)
    ]
    h = hashes.select(F.col(id_col).alias("__id"), F.col("simhash"), *chunk_cols)
    # materialize: the self-join would otherwise run the upstream
    # fingerprint aggregation once per side
    banded = h.select(
        "__id",
        "simhash",
        F.posexplode(F.array(*[F.col(f"__c{i}") for i in range(chunks)])).alias(
            "chunk_id", "chunk_val"
        ),
    ).localCheckpoint(eager=True)
    left = banded.select(
        F.col("__id").alias("id_a"), F.col("simhash").alias("__h_a"), "chunk_id", "chunk_val"
    )
    right = banded.select(
        F.col("__id").alias("id_b"), F.col("simhash").alias("__h_b"), "chunk_id", "chunk_val"
    )
    dist = F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b")))
    return (
        left.join(right, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
