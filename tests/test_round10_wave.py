"""Round-10 wave invariants: full BPE merge loop, plus the round's
other new operators (PQ-ADC top-k, DPO pairs, crypto roundtrip,
multimodal curation) as they land."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _mk_docs(spark, tmp_path, texts):
    sf = tmp_path / "sf"
    sf.mkdir()
    rows = [
        (i + 1, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(sf / "documents.parquet"))
    return str(sf)


def _ref_bpe(word_freqs: dict, n_merges: int):
    """Tiny reference BPE (Sennrich): greedy left-to-right merge apply,
    max-weight pair with lexicographic tie-break."""
    seqs = {w: list(w) for w in word_freqs}
    merges = []
    for step in range(1, n_merges + 1):
        counts = {}
        for w, f in word_freqs.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        # max by weight, then LEXICOGRAPHICALLY SMALLEST pair
        w_max = max(counts.values())
        cand = sorted(k for k, v in counts.items() if v == w_max)
        s1, s2 = cand[0]
        merges.append((step, s1, s2, s1 + s2, w_max))
        for w in seqs:
            s = seqs[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == s1 and s[i + 1] == s2:
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


def test_bpe_planted_corpus_matches_reference(spark, tmp_path):
    from atlassian_confluence_data_pipeline_spark.plans.curation2 import (
        bpe_merge_iterations,
    )

    texts = [
        "aaab aaab aab banana bandana",
        "banana band banana ananas",
        "low lower lowest low low",
    ]
    sf = _mk_docs(spark, tmp_path, texts)
    wf = {}
    for t in texts:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    expected, _ = _ref_bpe(wf, 8)
    got = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.weight)
        for r in bpe_merge_iterations(spark, sf).orderBy("step").collect()
    ]
    assert got == expected


def test_bpe_weights_non_increasing_and_symbols_shrink(spark):
    """New-pair counts after a merge are bounded by the merged pair's
    count, so learned weights are non-increasing; each merge with
    weight w removes exactly w symbol occurrences from the corpus."""
    from atlassian_confluence_data_pipeline_spark.plans.curation2 import (
        BPE_MERGES,
        bpe_merge_iterations,
    )

    rows = bpe_merge_iterations(spark, SF).orderBy("step").collect()
    assert [r.step for r in rows] == list(range(1, BPE_MERGES + 1))
    weights = [r.weight for r in rows]
    assert all(w > 0 for w in weights)
    assert all(a >= b for a, b in zip(weights, weights[1:]))
    # merged tokens are distinct and concatenations of their parts
    assert len({r.merged for r in rows}) == len(rows)
    for r in rows:
        assert r.merged == r.left_sym + r.right_sym


def _spark_loop_bpe(spark, sf_dir):
    """The BPE fit as a Spark loop: one argmax ``collect`` per merge
    over the checkpointed vocabulary table, each round's rewrite
    chained lazily. ``_bpe_fit`` picks the same merges on the driver."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.plans.curation2 import (
        _BPE_D,
        BPE_MERGES,
        WS,
    )

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
        cur = cur.select(
            "word",
            "freq",
            F.split(F.btrim(rewritten, F.lit(_BPE_D)), _BPE_D + _BPE_D).alias(
                "seq"
            ),
        )
    return cur, merges


def test_bpe_driver_merges_match_spark_loop_within_job_budget(spark, tmp_path):
    """Ties between pairs resolve by code point, as Spark orders
    strings: U+FF21 sorts before U+1D400 here, though UTF-16 order
    would put the surrogate pair first. The census build (the fit
    included) launches at most 6 jobs; the Spark loop took 20."""
    from tests.test_state_and_pipeline import _launched

    from atlassian_confluence_data_pipeline_spark.plans.curation2 import (
        BPE_MERGES,
        _bpe_fit,
        bpe_token_census,
    )

    texts = [
        "\uff21x \uff21x \uff21x \U0001d400x \U0001d400x \U0001d400x",
        "\u00e9\u00df\u00e9 \u00e9\u00df\u00e9 banana bandana",
        "\u65e5\u672c\u8a9e \u65e5\u672c ab ba ab",
    ]
    sf = _mk_docs(spark, tmp_path, texts)
    _, jobs, _ = _launched(spark, lambda: bpe_token_census(spark, sf))
    assert jobs <= 6, jobs
    ref_cur, ref_merges = _spark_loop_bpe(spark, sf)
    cur, merges = _bpe_fit(spark, sf)
    assert len(merges) == BPE_MERGES and merges == ref_merges
    assert merges[1][1:3] == ("\uff21", "x") and merges[2][1:3] == ("\U0001d400", "x")
    assert sorted(map(tuple, cur.collect())) == sorted(map(tuple, ref_cur.collect()))


def test_bpe_fit_refuses_a_vocabulary_over_its_bound(spark, tmp_path, monkeypatch):
    import pytest

    from atlassian_confluence_data_pipeline_spark.plans import curation2

    sf = _mk_docs(spark, tmp_path, ["one two three", "four five six seven"])
    monkeypatch.setattr(curation2, "BPE_MAX_VOCAB", 6)
    with pytest.raises(curation2.BpeVocabularyTooLarge, match="7 distinct words"):
        curation2._bpe_fit(spark, sf)


def test_pq_adc_topk_structure_and_audit(spark):
    """ADC ranking: k rows per query, ranks 1..k, non-decreasing
    distances, exact_hit consistent with a brute-force reference on
    the same fixture."""
    from atlassian_confluence_data_pipeline_spark.plans.quantization import (
        ADC_QUERIES,
        ADC_TOPK,
        pq_adc_topk,
    )

    from atlassian_confluence_data_pipeline_spark.plans.quantization import (
        ADC_AUDIT_A,
        ADC_AUDIT_B,
        ADC_AUDIT_MOD,
        pq_adc_search,
    )

    def sampled(qid: int) -> bool:
        return (ADC_AUDIT_A * qid + ADC_AUDIT_B) % ADC_AUDIT_MOD % 2 == 0

    rows = pq_adc_topk(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == ADC_QUERIES
    # the hash sample hits some queries and spares others
    assert any(sampled(q) for q in by_q) and not all(sampled(q) for q in by_q)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, ADC_TOPK + 1))
        dists = [r.adc_dist for r in rs]
        assert all(a <= b for a, b in zip(dists, dists[1:]))
        if sampled(q):
            assert all(r.exact_hit in (0, 1) for r in rs)
        else:
            assert all(r.exact_hit is None for r in rs)
        assert all(r.neighbor_id != q for r in rs)

    # the production search returns the SAME ADC ranking, no audit col
    srows = pq_adc_search(spark, SF).collect()
    assert {tuple(r)[:4] for r in rows} == {tuple(r) for r in srows}
    assert "exact_hit" not in srows[0].asDict()

    # exact_hit flags agree with a numpy brute-force exact top-k on
    # the SAMPLED queries
    import numpy as np

    from atlassian_confluence_data_pipeline_spark.catalog import load_table

    emb = {
        r.vec_id: np.array(r.embedding, dtype="float64")
        for r in load_table(spark, SF, "embeddings").collect()
    }
    for q, rs in by_q.items():
        if not sampled(q):
            continue
        d = {
            nid: float(((emb[q] - v) ** 2).sum())
            for nid, v in emb.items()
            if nid != q
        }
        exact5 = {
            nid
            for nid, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[
                :ADC_TOPK
            ]
        }
        for r in rs:
            assert r.exact_hit == int(r.neighbor_id in exact5)


def test_dpo_pairs_planted_preference(spark, tmp_path):
    """Planted preference: source 'a' docs are strictly longer, so
    every cross-source duel is won by 'a' — DPO pairs must all point
    a-over-b, clear the Wilson gate, carry a positive strength margin,
    and down-weight duplicated chosen content."""
    from atlassian_confluence_data_pipeline_spark.plans.preference import (
        DPO_WILSON_MIN,
        dpo_pair_construction,
    )

    dup_text = " ".join(f"dup{i:02d}" for i in range(40))
    short_u = "one two three four five six seven {}"
    rows = []
    for d in range(1, 41):
        if d % 2 == 1:  # source a, long; doc_ids 21..29 odd share text
            # unique docs use fully DISJOINT word sets (a shared prefix
            # would near-dup-cluster them and shrink their weights)
            t = dup_text if 20 < d < 30 else " ".join(
                f"doc{d:02d}w{i:02d}" for i in range(40)
            )
            rows.append((d, t, "en", "a", len(t)))
        else:
            t = short_u.format(f"v{d}")
            rows.append((d, t, "en", "b", len(t)))
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(str(sf / "documents.parquet"))

    out = dpo_pair_construction(spark, str(sf)).collect()
    assert out  # the planted preference survives the Wilson gate
    for r in out:
        assert r.chosen_source == "a" and r.rejected_source == "b"
        assert r.chosen_doc_id % 2 == 1 and r.rejected_doc_id % 2 == 0
        assert r.margin > 0
        assert r.wilson_lb > DPO_WILSON_MIN
    dup_ids = {d for d in range(21, 30, 2)}
    w_dup = {r.weight for r in out if r.chosen_doc_id in dup_ids}
    w_uniq = {r.weight for r in out if r.chosen_doc_id not in dup_ids}
    assert w_dup and all(w < 1.0 for w in w_dup)
    assert w_uniq and all(w == 1.0 for w in w_uniq)


def test_mm_curation_census_invariants(spark):
    """Cross-modal census: all four modalities present, arithmetic
    consistent, and the text row agrees with the text-only pipeline's
    census over the same fixture."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.plans.curation import (
        full_curation_pipeline,
    )
    from atlassian_confluence_data_pipeline_spark.plans.multimodal4 import (
        full_curation_pipeline_mm,
    )

    rows = {r.modality: r for r in full_curation_pipeline_mm(spark, SF).collect()}
    assert set(rows) == {"text", "image", "audio", "video"}
    n_docs = load_table(spark, SF, "documents").count()
    for r in rows.values():
        assert r.n_items == n_docs  # every doc has every modality fixture
        assert r.n_survivors == r.n_items - r.n_dropped
        assert 0 <= r.n_dropped <= r.n_items
        if r.modality != "text":  # text drops include the quality gate
            assert r.n_dup_pairs >= r.n_dropped  # each drop needs a pair

    text_census = full_curation_pipeline(spark, SF).collect()
    assert rows["text"].n_survivors == sum(r.n_docs for r in text_census)


def test_bpe_token_census_consistency(spark, tmp_path):
    """The census over the trained symbol table must agree with the
    reference BPE's final sequences on a planted corpus, and merged
    tokens must appear with their expected corpus counts."""
    from atlassian_confluence_data_pipeline_spark.plans.curation2 import (
        bpe_token_census,
    )

    texts = [
        "aaab aaab aab banana bandana",
        "banana band banana ananas",
        "low lower lowest low low",
    ]
    sf = _mk_docs(spark, tmp_path, texts)
    wf = {}
    for t in texts:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    _, seqs = _ref_bpe(wf, 8)
    expected = {}
    for w, f in wf.items():
        for s in seqs[w]:
            expected[s] = expected.get(s, 0) + f
    top = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    got = [
        (r.symbol, r.n_occurrences)
        for r in bpe_token_census(spark, sf).orderBy("rnk").collect()
    ]
    assert got == top
