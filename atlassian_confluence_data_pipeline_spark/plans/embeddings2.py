"""Embedding wave 2: random-projection dimensionality reduction and
product-quantization codes.

Both are per-row vector transforms — narrow maps with no shuffle at
all, the cheapest possible 100 TB shape (one scan, codegen'd HOF
arithmetic). The "random" matrices are engine-portable affine hashes
(same family as operators/lsh.py MINHASH_PERMS), so DuckDB reproduces
every projected coordinate bit-for-bit and the oracle is a value
check, not a row count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.plans.registry import query

_DIM = 64  # embeddings fixture dimension
_OUT = 8  # projected dimension

#: affine sign hash: sign(i, j) = +1 if ((A*(i*_OUT + j) + B) mod M) is
#: even else -1 — a fixed +-1 projection matrix both engines compute
#: from the same integers (Achlioptas-style JL projection).
_A, _B, _M = 1664525, 1013904223, 2147483647


def _sql_sign(i: str, j: int) -> str:
    return (
        f"CASE WHEN (({_A} * ({i} * {_OUT} + {j}) + {_B}) % {_M}) % 2 = 0 "
        f"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
    )


def _rp_oracle() -> str:
    cols = ",\n       ".join(
        "round(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(generate_series(0, %d), "
        "i -> embedding[i + 1]::DOUBLE * %s)), "
        "(acc, x) -> acc + x), 6) AS p%d" % (_DIM - 1, _sql_sign("i", j), j)
        for j in range(_OUT)
    )
    return f"""
SELECT vec_id,
       {cols}
FROM embeddings
"""


@query(
    "random_projection_embed",
    oracle=_rp_oracle(),
    tags=("embedding", "projection", "jl", "narrow"),
)
def random_projection_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection 64-d -> 8-d: p_j = sum_i
    emb[i] * sign(i, j) with a hash-derived +-1 matrix. Each output
    coordinate is one sequential HOF fold over the vector — identical
    left-to-right accumulation order on both engines, so the doubles
    match bitwise before the cosmetic round(6). No shuffle: the 100 TB
    cost is exactly one scan of the embedding column."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    # the sign matrix is pre-evaluated in exact Python int arithmetic
    # (identical to the SQL CASE/mod formula) and shipped as one
    # literal array per output dim — the fold body is then a bare
    # multiply-add instead of a mod/branch chain, and plan build stays
    # flat. x * +-1.0 is IEEE-exact, so parity with the formula-based
    # oracle is bitwise.
    signs = [
        [
            1.0 if ((_A * (i * _OUT + j) + _B) % _M) % 2 == 0 else -1.0
            for i in range(_DIM)
        ]
        for j in range(_OUT)
    ]

    def proj(j: int) -> Column:
        srow = F.lit(signs[j])
        return F.round(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(_DIM - 1)),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at(xd, i + 1) * F.element_at(srow, i + 1),
            ),
            6,
        ).alias(f"p{j}")

    return emb.select("vec_id", *[proj(j) for j in range(_OUT)])


_SUBS = 4  # PQ: number of subvectors
_SUBDIM = _DIM // _SUBS
_CODEBOOK = 8  # centroids per subspace (seeded from the first 8 vectors)


def pq_subdist_sql_duck(a: str, b: str, s: int) -> str:
    """DuckDB fold: squared L2 distance between subvector ``s`` of two
    list expressions — the shared distance kernel of ``pq_codes`` and
    ``pq_adc_topk`` (quantization.py), kept in ONE place so the two
    oracles can never drift."""
    lo = s * _SUBDIM
    diff = f"({a}[{lo} + k]::DOUBLE - {b}[{lo} + k]::DOUBLE)"
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {_SUBDIM}), "
        f"k -> {diff} * {diff})), "
        "(acc, x) -> acc + x)"
    )


def pq_subdist_sql_spark(cents: dict, s: int, cid: int, vec: str) -> str:
    """Spark-side flat literal form of the same kernel: sum of
    {_SUBDIM} squared diffs against centroid ``cid``'s subvector,
    inlined as shortest-round-trip double literals (bitwise-equal to
    the oracle's 0.0-seeded fold — squared terms are never -0.0)."""
    lo = s * _SUBDIM
    terms = []
    for k in range(1, _SUBDIM + 1):
        c = repr(cents[cid][lo + k - 1])
        e = (
            f"(CAST(element_at({vec}, {lo + k}) AS DOUBLE)"
            f" - CAST('{c}' AS DOUBLE))"
        )
        terms.append(f"{e} * {e}")
    return "(" + " + ".join(terms) + ")"


def pq_collect_codebook(emb) -> dict:
    """The deterministic PQ codebook: the first _CODEBOOK vectors,
    collected (seed rows only — the kmeans-codebook literal pattern)."""
    seeds = (
        emb.filter(F.col("vec_id") < _CODEBOOK)
        .select("vec_id", "embedding")
        .collect()
    )
    return {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in seeds}


def pq_code_columns(cents: dict, vec: str = "embedding") -> list:
    """Stage-2 argmin code columns over the stage-1 distance columns —
    see pq_codes for why the two stages are flat SQL, not HOF folds.
    Returns (dist_cols, code_cols): select dist_cols first, then
    code_cols over the bound names."""
    dist_cols = [
        F.expr(pq_subdist_sql_spark(cents, s, cid, vec)).alias(f"__d_{s}_{cid}")
        for s in range(_SUBS)
        for cid in range(_CODEBOOK)
    ]
    code_cols = []
    for s in range(_SUBS):
        names = [f"__d_{s}_{cid}" for cid in range(_CODEBOOK)]
        m = "least(" + ", ".join(names) + ")"
        case = (
            "CASE "
            + " ".join(
                f"WHEN {names[cid]} = {m} THEN CAST({cid} AS BIGINT)"
                for cid in range(_CODEBOOK)
            )
            + " END"
        )
        code_cols.append(F.expr(case).alias(f"code{s}"))
    return dist_cols, code_cols


def _pq_oracle() -> str:
    # centroid c of subspace s = subvector s of seed row c; distance =
    # left-to-right double fold of squared diffs over the 16 subdims
    # (fixed order = bit-identical across engines). All (vec x
    # centroid) distances come from one cross join with the 8-row
    # codebook, then an ordered-first aggregate picks each subspace's
    # argmin with the lowest-cid tie-break.
    dists = ",\n         ".join(
        f"{pq_subdist_sql_duck('e.embedding', 'c.embedding', s)} AS d{s}"
        for s in range(_SUBS)
    )
    codes = ",\n       ".join(
        f"first(cid ORDER BY d{s} ASC, cid ASC) AS code{s}"
        for s in range(_SUBS)
    )
    return f"""
WITH cb AS (
  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_CODEBOOK}
),
d AS (
  SELECT e.vec_id, c.cid,
         {dists}
  FROM embeddings e CROSS JOIN cb c
)
SELECT vec_id,
       {codes}
FROM d GROUP BY vec_id
"""


@query(
    "pq_codes",
    oracle=_pq_oracle(),
    tags=("embedding", "quantization", "pq", "broadcast"),
)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split each 64-d vector into 4 x 16-d
    subvectors and assign each to its nearest codebook centroid
    (codebook = the first 8 vectors' subvectors, the deterministic
    seeding used by the k-means queries). Assignment is the same
    narrow literal-argmax map as kmeans_iterations: the 8x4 codebook
    is collected (tiny, seed rows only) into literal arrays, so the
    100 TB plan is a single scan with a per-row fold — no join, no
    shuffle. Squared distances are fixed-order double folds
    (bit-identical across engines); ties break to the lowest
    centroid id."""
    emb = load_table(spark, sf_dir, "embeddings")
    # 8 seed rows — same tiny-literal pattern as the k-means codebook
    cents = pq_collect_codebook(emb)

    # Two staged projections of FLAT arithmetic (no HOF): stage 1
    # computes all 32 subspace distances as named columns — each a
    # codegen'd sum of 16 squared diffs with the centroid values
    # inlined as shortest-round-trip double literals — and stage 2
    # picks each subspace's argmin with a least() + first-match CASE
    # over the bound columns (first WHEN in cid order = lowest-cid
    # tie-break; CollapseProject keeps the stages apart because the
    # distance columns are non-cheap and referenced twice). An HOF
    # fold over a 2-D literal codebook computed the same values ~5x
    # slower: lambda bodies are interpreted per element, flat
    # expressions run inside whole-stage codegen. The flat sum
    # t1 + t2 + ... is bitwise-equal to the oracle's 0.0-seeded fold
    # (squared terms are never -0.0, so the leading 0.0 + t1 == t1).
    dist_cols, code_cols = pq_code_columns(cents)
    staged = emb.select("vec_id", *dist_cols)
    return staged.select("vec_id", *code_cols)
