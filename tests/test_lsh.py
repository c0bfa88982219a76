"""LSH semantics on planted near-duplicates: MinHash banding must
recall pairs with high Jaccard; SimHash must pair shuffled/perturbed
docs and keep unrelated docs apart; the exact verifier must agree with
a brute-force Jaccard computation."""

from __future__ import annotations

import os
import random

import duckdb
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.functions.text import (
    ROLLING_MOD,
    rolling_hash_sql,
)
from atlassian_confluence_data_pipeline_spark.operators.lsh import (
    SIMHASH_THRESHOLD,
    SRP_PERMS,
    lsh_band_candidates,
    minhash_signatures,
    shingle_hashes_from_word_hashes,
    shingle_hashes_sql,
    simhash,
    simhash_near_pairs,
    verify_candidates_jaccard,
    with_srp_fingerprint,
    word_hashes,
)
from atlassian_confluence_data_pipeline_spark.plans.curation import DECONTAM_N
from atlassian_confluence_data_pipeline_spark.plans.curation3 import (
    _srp_fingerprint_cte,
)
from atlassian_confluence_data_pipeline_spark.plans.substring import (
    MIN_OVERLAP_TOKENS,
)
from atlassian_confluence_data_pipeline_spark.plans.textops import _shingles, _words
from perfbench.tables import build_tables


def _corpus(spark):
    """10 random docs + 3 planted near-dup pairs (small perturbations)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    docs = []
    for i in range(10):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(80))))
    # planted pairs: copy with a few token edits -> very high jaccard
    for j, base_id in enumerate([0, 3, 7]):
        words = docs[base_id][1].split()
        words[5] = "edited"
        words[40] = "tokens"
        docs.append((100 + j, " ".join(words)))
    return spark.createDataFrame(docs, ["doc_id", "text"])


PLANTED = {(0, 100), (3, 101), (7, 102)}


def _candidates(docs):
    """Banded MinHash candidates over the shingle hashes of the one
    word-hash stage (the verify step below still takes string shingles)."""
    hs = word_hashes(docs).select(
        "doc_id", shingle_hashes_from_word_hashes(F.col("wh")).alias("hs")
    )
    sig = minhash_signatures(hs, "doc_id").localCheckpoint(eager=True)
    return lsh_band_candidates(sig, "doc_id", bands=16, rows=2)


def test_minhash_lsh_recalls_planted_pairs(spark):
    docs = _corpus(spark)
    sh = docs.select("doc_id", _shingles(_words(F.col("text"))).alias("sh")).persist()
    cand = _candidates(docs)
    verified = verify_candidates_jaccard(cand, sh, "doc_id", "sh", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert PLANTED <= got
    # verifier agrees with brute-force jaccard on a planted pair
    row = verified.filter((F.col("id_a") == 0) & (F.col("id_b") == 100)).collect()[0]
    a = set(sh.filter(F.col("doc_id") == 0).collect()[0]["sh"])
    b = set(sh.filter(F.col("doc_id") == 100).collect()[0]["sh"])
    assert abs(row["jaccard"] - len(a & b) / len(a | b)) < 1e-12


def test_minhash_no_false_high_jaccard(spark):
    """Random docs (jaccard ~0) must not survive a 0.5-threshold verify."""
    docs = _corpus(spark)
    sh = docs.select("doc_id", _shingles(_words(F.col("text"))).alias("sh")).persist()
    verified = verify_candidates_jaccard(
        _candidates(docs), sh, "doc_id", "sh", 0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert got == PLANTED


def test_simhash_pairs_planted(spark):
    docs = _corpus(spark)
    fp = simhash(word_hashes(docs), "doc_id")
    assert fp.count() == 13
    pairs = simhash_near_pairs(fp, "doc_id", max_hamming=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert PLANTED <= got
    # unrelated random docs should sit far apart in hamming space
    unrelated = {(a, b) for a, b in got if (a, b) not in PLANTED and a < 10 and b < 10}
    assert len(unrelated) <= 2  # allow rare chance collisions, not wholesale


def test_srp_fingerprint_recalls_planted_vector_pair(spark):
    """Near-identical vectors differ in few fingerprint bits, so the
    chunk-banded candidate join must surface them; an orthogonal vector
    must not pair with either at a high cosine."""
    import random

    from pyspark.sql import functions as F

    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        simhash_near_pairs,
        with_srp_fingerprint,
    )
    from atlassian_confluence_data_pipeline_spark.operators.similarity import (
        cosine_similarity,
    )

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    near = [x + rng.uniform(-0.01, 0.01) for x in base]
    rows = [(1, base), (2, near)] + [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(3, 13)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    fps = with_srp_fingerprint(df, "embedding").select("vec_id", "simhash")
    cand = simhash_near_pairs(fps, "vec_id", max_hamming=10, chunks=8)
    va = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    vb = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cosine_similarity(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.9)
    )
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    assert got == {(1, 2)}


def _reference_srp_fingerprint(
    df: DataFrame, vec_col: str, out_col: str = "simhash", bits: int = 64
) -> DataFrame:
    """The SRP fingerprint as 64 interpreted Spark folds: each bit's dot
    is an ``F.aggregate`` left fold in double precision over the
    (value, position) pairs, and the bits pack in one expression. The
    kernel in operators/lsh.py must match it bit for bit."""
    perms = SRP_PERMS[:bits]
    a_lit = F.lit([a for a, _ in perms])
    b_lit = F.lit([b for _, b in perms])
    vec = F.col(vec_col)
    zipped = F.zip_with(
        vec,
        F.sequence(F.lit(0).cast("bigint"), F.size(vec).cast("bigint") - 1),
        lambda x, i: F.struct(x.cast("double").alias("val"), i.alias("pos")),
    )
    cols = list(df.columns)
    z = df.select(*cols, zipped.alias("__srp_z"))
    dots = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda i: F.aggregate(
            F.col("__srp_z"),
            F.lit(0.0),
            lambda acc, e: acc
            + F.when(
                (F.element_at(a_lit, i + 1) * e["pos"] + F.element_at(b_lit, i + 1))
                % ROLLING_MOD
                >= SIMHASH_THRESHOLD,
                e["val"],
            ).otherwise(-e["val"]),
        ),
    )
    d = z.select(*cols, dots.alias("__srp_d"))
    pack = " | ".join(
        f"IF(element_at(__srp_d, {i + 1}) >= CAST(0.0 AS DOUBLE), "
        f"SHIFTLEFT(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
        for i in range(bits)
    )
    return d.select(*cols, F.expr(pack).alias(out_col))


def _fingerprints(fn, df):
    return {
        r["vec_id"]: r["simhash"]
        for r in fn(df, "embedding").select("vec_id", "simhash").collect()
    }


@pytest.mark.parametrize("fixture", ["sf0.001", "sf0.01", "sf0.1", "generated_sf0.01"])
def test_srp_kernel_matches_reference_fold_on_embeddings(spark, sf_dir, fixture):
    """The three fixture scales beside the test fixture, and the
    generated benchmark embeddings (perfbench/tables.py, sf=0.01)."""
    if fixture.startswith("generated"):
        table = build_tables(1, 0.01)["embeddings"].select(["vec_id", "embedding"])
        emb = spark.createDataFrame(table.to_pandas())
    else:
        path = os.path.join(os.path.dirname(sf_dir), fixture)
        emb = load_table(spark, path, "embeddings").select("vec_id", "embedding")
    want = _fingerprints(_reference_srp_fingerprint, emb)
    assert len(want) >= 500
    assert _fingerprints(with_srp_fingerprint, emb) == want


def test_srp_kernel_matches_reference_fold_on_edge_rows(spark):
    """Null vector, null element, NaN, ±inf, empty array, one element,
    −0.0 and ragged dimensions, all in one Arrow batch."""
    nan, inf = float("nan"), float("inf")
    rng = random.Random(3)
    rows = [
        (1, None),
        (2, [0.25, None, -1.0]),
        (3, [nan, 1.0]),
        (4, [inf, -inf]),
        (5, [inf, 2.0, -3.0]),
        (6, [-inf]),
        (7, []),
        (8, [0.5]),
        (9, [-0.0]),
        (10, [-0.0, 0.0, -0.0]),
        (11, [1e308, 1e308, -1e308]),
    ] + [
        (100 + k, [rng.uniform(-1, 1) for _ in range(rng.randrange(1, 130))])
        for k in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").coalesce(1)
    want = _fingerprints(_reference_srp_fingerprint, df)
    got = _fingerprints(with_srp_fingerprint, df)
    assert got == want
    assert got[1] == got[2] == got[7] == 0  # null vector / element, empty
    assert got[3] == -1  # a NaN dot sets its bit


def test_srp_kernel_matches_duckdb_oracle_on_edge_rows(spark, tmp_path):
    """The oracle CTE every SRP consumer's oracle builds on gives the
    kernel's fingerprint on a null element, a null vector, an empty
    array and a NaN element."""
    nan = float("nan")
    rng = random.Random(5)
    rows = [
        (1, [0.25, None, -1.0]),
        (2, None),
        (3, []),
        (4, [nan, 1.0]),
        (5, [None]),
    ] + [(100 + k, [rng.uniform(-1, 1) for _ in range(16)]) for k in range(20)]
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).write.parquet(path)
    want = _fingerprints(with_srp_fingerprint, spark.read.parquet(path))
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'")
        got = dict(
            con.sql(f"WITH {_srp_fingerprint_cte()} SELECT vec_id, fp FROM f")
            .fetchall()
        )
    finally:
        con.close()
    assert got == want
    assert got[1] == got[2] == got[3] == got[5] == 0


def _edge_texts(n: int) -> list[str | None]:
    words = [f"w{i}" for i in range(n)]
    return [
        None,
        "",
        "   ",
        " ".join(words[: n - 1]),  # one word short of a shingle
        " ".join(words),  # exactly one shingle
        "\tone two\nthree\t\tfour  five six\n seven\r\neight nine ten",
        "the cat sat " * 12,  # a looping phrase: repeated shingles
    ]


@pytest.mark.parametrize("distinct", [True, False], ids=["set", "positional"])
@pytest.mark.parametrize("n", [2, 3, 4, DECONTAM_N, MIN_OVERLAP_TOKENS])
def test_shingle_hashes_sql_matches_spark_stage(spark, sf_dir, n, distinct):
    """The DuckDB rendering of the word-hash stage + combine gives the
    Spark stage's shingle hashes on edge texts and the fixture corpus:
    NULL for NULL text, [] below n words, the same positional sequence
    (or, with ``distinct``, the same set)."""
    edges = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(_edge_texts(n))],
        "doc_id bigint, text string",
    )
    docs = edges.unionByName(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    got = {
        r["doc_id"]: r["hs"]
        for r in word_hashes(docs)
        .select(
            "doc_id",
            shingle_hashes_from_word_hashes(
                F.col("wh"), n=n, distinct=distinct
            ).alias("hs"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = dict(
        con.execute(
            f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), wht AS (
  SELECT doc_id, list_transform(w, t -> {rolling_hash_sql('t')}) AS wh FROM w
)
SELECT doc_id, {shingle_hashes_sql(n, distinct)} AS hs FROM wht
"""
        ).fetchall()
    )
    assert got.keys() == want.keys()
    assert got[-1] is None and want[-1] is None
    assert got[-4] == [] and got[-5] != []
    if distinct:
        got = {k: None if v is None else sorted(v) for k, v in got.items()}
        want = {k: None if v is None else sorted(v) for k, v in want.items()}
    assert got == want


@pytest.mark.parametrize("n", [3, DECONTAM_N])
def test_word_hash_stage_folds_each_word_once(spark, n):
    """The combine references ``wh`` n times; the optimized plan of the
    word-hash stage + combine must still hold ONE rolling-hash fold
    (each fold renders exactly one ``ascii(``). Passing the fold inline
    to the combine instead held 6 at n = 3."""
    hs = word_hashes(_corpus(spark)).select(
        "doc_id", shingle_hashes_from_word_hashes(F.col("wh"), n=n).alias("hs")
    )
    plan = hs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("ascii(") == 1
