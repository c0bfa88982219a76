"""The package's one session memo for expensive shared intermediates.

Several registry queries consume the same intermediate: the LSH dedup
chains' pair tables, the per-modality fingerprint frames, the BPE
tokenizer fit, label centroids, the spectral covariance matrix, a
scan's probed split count, a table's inferred parquet schema
(``catalog.load_table``, named ``schema:{table}``).
``shared_pair_table(spark, sf_dir, name, builder)`` is the one entry
point for all of them:

- **Key.** ``(applicationId, sf_dir, name)``. ``sf_dir`` names the
  inputs (a fixture directory, or any string that identifies the
  files read) and ``name`` the intermediate plus any parameters that
  change its value. Nothing outlives the SparkContext that built it.
- **Eviction.** Inserting under a live application first drops every
  entry keyed to a different one: checkpointed RDDs and collected rows
  of a stopped context are dead weight, and a long-lived process that
  restarts sessions would otherwise accumulate them without bound.
- **Checkpoint.** The value's type decides. A DataFrame is
  materialised with an eager ``localCheckpoint`` so every consumer
  reads the same stage; any other value (a list of centroid rows, a
  tuple of loop-control scalars, an int, a fit's ``(frame, merges)``
  pair, a ``StructType``) is stored as returned. Those must stay
  model-sized, never corpus rows.

Only consumers go through the memo: each registry query's own ``fn``
still builds its full plan, so plan snapshots and audits see the honest
chain shape, and the first consumer in a session pays the build once.
``tools/plan_snapshot.py --check-warm`` wraps this function, so it sees
every memoized build.

The memo is session-scoped only: a benchmarked run must compute every
stage from its parquet inputs, so nothing is written to disk and a
fresh session rebuilds from the fixtures by construction.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_PAIR_CACHE: dict[tuple[str, str, str], object] = {}


def shared_pair_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    builder: Callable[[SparkSession, str], object],
):
    """Return the session's memoized ``builder(spark, sf_dir)`` under
    ``name``, building it on the first call (see the module docstring
    for the key, the eviction rule and when the value is checkpointed)."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    if key not in _PAIR_CACHE:
        for dead in [k for k in _PAIR_CACHE if k[0] != app_id]:
            del _PAIR_CACHE[dead]
        value = builder(spark, sf_dir)
        if isinstance(value, DataFrame):
            value = value.localCheckpoint(eager=True)
        _PAIR_CACHE[key] = value
    return _PAIR_CACHE[key]


def srp_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized SRP fingerprint frame ``(vec_id, simhash)`` over
    the embeddings table — the stage every embedding-LSH consumer
    (``embedding_lsh_pairs``, ``dbscan_embedding_clusters``,
    ``knn_graph_lsh``, ``hard_negative_mining``) starts from. The frame
    is corpus-cardinality but two narrow columns (id + one bigint), so
    the checkpoint is cheap relative to re-running the 64-fold
    hyperplane projection per consumer (round-5 VERDICT: the top-4
    bench costs each rebuilt this chain, ~20 s of the 216 s wall)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        with_srp_fingerprint,
    )

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return with_srp_fingerprint(
            emb.select("vec_id", "embedding"), "embedding"
        ).select("vec_id", "simhash")

    return shared_pair_table(spark, sf_dir, "srp_fingerprints", _build)


def srp_candidates(
    spark: SparkSession, sf_dir: str, max_hamming: int, chunks: int
) -> DataFrame:
    """Session-memoized SRP banding-candidate pairs ``(id_a, id_b)`` at
    a given (max_hamming, chunks) config, built on the shared
    fingerprint frame. All four embedding-LSH consumers currently run at
    (26, 8), so they share ONE entry; a consumer that diverges its
    config gets its own keyed entry automatically."""
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        simhash_near_pairs,
    )

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return simhash_near_pairs(
            srp_fingerprints(spark, sf_dir),
            "vec_id",
            max_hamming=max_hamming,
            chunks=chunks,
        )

    return shared_pair_table(
        spark, sf_dir, f"srp_candidates_h{max_hamming}c{chunks}", _build
    )


def minhash_shingle_hashes(docs: DataFrame) -> DataFrame:
    """``(doc_id, hs)`` over ``(doc_id, text)`` rows: the word-hash stage
    -> 3-gram shingle-HASH combine. The stage :func:`minhash_doc_hashes`
    memoizes over the documents table and the streaming MinHash probe
    (``streaming/jobs._minhash_probe``) runs on each micro-batch."""
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        shingle_hashes_from_word_hashes,
        word_hashes,
    )
    from pyspark.sql import functions as F

    return word_hashes(docs).select(
        "doc_id", shingle_hashes_from_word_hashes(F.col("wh")).alias("hs")
    )


def minhash_doc_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized MinHash base frame ``(doc_id, hs)`` over the
    documents table (:func:`minhash_shingle_hashes`) — the stage that
    ``minhash_lsh_pairs``, ``near_dup_pairs_lsh`` and
    ``minhash_estimate_calibration`` each rebuilt per run (round-6
    item 2; the SRP chain got the same treatment in round 6).
    Checkpointed UNFILTERED; consumers apply the post-materialization
    ``size(hs) > 0`` guard themselves (filtering before the checkpoint
    re-inlines the fold — the textops PERF contract).

    Hash column ONLY (doc_id + array<bigint>): the true string shingles
    are ~3x the text size and only the Jaccard-verify consumer needs
    them — they live in the separately-keyed ``minhash_doc_shingles``
    frame so sessions that never verify never pin them (round-7 ADVICE)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return minhash_shingle_hashes(load_table(spark, sf_dir, "documents"))

    return shared_pair_table(spark, sf_dir, "minhash_doc_hashes", _build)


def minhash_doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized ``(doc_id, sh)`` true string-shingle frame — the
    wide verify-side companion of ``minhash_doc_hashes``. Built on
    demand under its OWN cache key so only sessions that run a
    string-Jaccard verify (``near_dup_pairs_lsh``) ever materialize or
    pin the ~3x-text-size shingle arrays (round-7 ADVICE: the combined
    base frame made every hs-only consumer carry this column)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.plans.textops import (
        _shingles,
        _words,
    )
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return docs.select(
            "doc_id", _shingles(_words(F.col("text"))).alias("sh")
        )

    return shared_pair_table(spark, sf_dir, "minhash_doc_shingles", _build)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized ``(doc_id, sig)`` MinHash signature frame
    (``operators/lsh.minhash_signatures`` over the shared shingle
    hashes). Shared by the banded-candidate stage and the estimator
    calibration (which reads the raw signature arrays)."""
    from atlassian_confluence_data_pipeline_spark.operators import lsh
    from atlassian_confluence_data_pipeline_spark.plans.multimodal import (
        MINHASH_K,
    )

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return lsh.minhash_signatures(
            minhash_doc_hashes(spark, sf_dir), "doc_id", k=MINHASH_K
        )

    return shared_pair_table(spark, sf_dir, "minhash_signatures", _build)


def minhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized banded-LSH candidate pairs ``(id_a, id_b)``
    (id_a < id_b, distinct) from the shared signature frame — the
    equi-join stage every MinHash consumer funnels through."""
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        lsh_band_candidates,
    )
    from atlassian_confluence_data_pipeline_spark.plans.multimodal import (
        MINHASH_BANDS,
        MINHASH_ROWS,
    )

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return lsh_band_candidates(
            minhash_signatures(spark, sf_dir), "doc_id", MINHASH_BANDS, MINHASH_ROWS
        )

    return shared_pair_table(spark, sf_dir, "minhash_band_candidates", _build)


def srp_candidate_cosines(
    spark: SparkSession, sf_dir: str, max_hamming: int, chunks: int
) -> DataFrame:
    """Session-memoized EXACT-cosine verification of the shared SRP
    banding candidates: ``(id_a, id_b, cos)`` with the house fold
    (element-ordered dot / norm product — bit-identical whichever side
    is 'a', since IEEE multiply commutes). dbscan (eps-ball filter),
    knn_graph_lsh (per-source ranks) and hard_negative_mining
    (label-split ranks) all verified the same candidates at the same
    fold before consuming them differently (round-6 item 6)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.operators.similarity import (
        dot,
        l2_norm,
    )
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        cand = srp_candidates(spark, sf_dir, max_hamming, chunks)
        emb = load_table(spark, sf_dir, "embeddings")
        wn = emb.select(
            "vec_id",
            F.col("embedding").alias("v"),
            l2_norm(F.col("embedding")).alias("nrm"),
        )
        va = wn.select(
            F.col("vec_id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        )
        vb = wn.select(
            F.col("vec_id").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        )
        cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select("id_a", "id_b", cos.alias("cos"))
        )

    return shared_pair_table(
        spark, sf_dir, f"srp_cosines_h{max_hamming}c{chunks}", _build
    )


# ---------------------------------------------------------------------------
# Perceptual fingerprint stages (round-9 VERDICT item 1): the video /
# image / audio chains each re-paid a ~1-3.5 s encode + decode +
# fingerprint mapInPandas pass per consumer — the entire top of the
# round-8 bench profile. The narrow per-modality fingerprint tables
# are built once per session and shared by every consumer.
# ---------------------------------------------------------------------------


def image_dhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ``(doc_id, dhash)`` perceptual-hash frame over the
    textured image fixtures — the stage image_dhash_fingerprints,
    image_near_dup_pairs, dhash_hamming_fidelity and
    perceptual_modality_agreement each rebuilt per session (encode +
    decode + 9x8 resample + 64-bit pack, one mapInPandas pass)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        dhash_images,
        textured_image_attachments_from_documents,
    )
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        fp = dhash_images(textured_image_attachments_from_documents(docs))
        return fp.select(F.col("owner_id").alias("doc_id"), "dhash")

    return shared_pair_table(spark, sf_dir, "perc_image_dhash", _build)


def image_pixel_rasters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ``(doc_id, px)`` decoded-raster frame (768 ints per image)
    — the exact-L1 verify side of dhash_hamming_fidelity. Wider than
    the fingerprint frames but still ~6 KB/row; cached under its own
    key so fingerprint-only sessions never pin it."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        decode_image,
        textured_image_attachments_from_documents,
    )
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        att = textured_image_attachments_from_documents(docs)
        return decode_image(att).select(
            F.col("owner_id").alias("doc_id"), F.col("pixels").alias("px")
        )

    return shared_pair_table(spark, sf_dir, "perc_image_pixels", _build)


def audio_fp64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ``(doc_id, afp)`` energy-envelope fingerprint frame over
    the WAV fixtures — consumed by audio_fingerprints,
    audio_near_dup_pairs, afp_hamming_fidelity and
    perceptual_modality_agreement."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        audio_attachments_from_documents,
        fingerprint_audio,
    )
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        fp = fingerprint_audio(audio_attachments_from_documents(docs))
        return fp.select(F.col("owner_id").alias("doc_id"), "afp")

    return shared_pair_table(spark, sf_dir, "perc_audio_fp", _build)


def audio_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ``(doc_id, env)`` window-energy envelope frame (65
    bigints per track) — the exact-L1 verify side of
    afp_hamming_fidelity, under its own key like the image rasters."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        audio_attachments_from_documents,
        audio_window_energies,
    )
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        att = audio_attachments_from_documents(docs)
        return audio_window_energies(att).select(
            F.col("owner_id").alias("doc_id"), "env"
        )

    return shared_pair_table(spark, sf_dir, "perc_audio_env", _build)


def video_frame_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ``(doc_id, frame_index, fh)`` per-frame dHash frame over
    the concatenated-BMP video fixtures — the single most expensive
    cold stage in the round-8 bench (video_near_dup_pairs 3.50 s +
    video_frame_fingerprints 3.33 s, each re-running the container
    split + per-frame decode + dHash pass)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        dhash_video_frames,
        textured_video_attachments_from_documents,
    )
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        fp = dhash_video_frames(textured_video_attachments_from_documents(docs))
        return fp.select(
            F.col("owner_id").alias("doc_id"), "frame_index", "fh"
        )

    return shared_pair_table(spark, sf_dir, "perc_video_frames", _build)


def text_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ``(doc_id, simhash)`` 64-bit text SimHash frame — the
    explode + 64-affine-vote HashAggregate that dominated
    ``simhash_pairs``' cold cost (2.7 s of its 2.7 s at sf0.1; the
    chunk-banded candidate join downstream is cheap). Same fold as the
    oracle's symbolic rendering; later consumers in the session read
    the checkpointed fingerprint table."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.operators.lsh import (
        simhash,
        word_hashes,
    )

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return simhash(word_hashes(docs), "doc_id")

    return shared_pair_table(spark, sf_dir, "text_simhash_fp", _build)


def pq_code_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized PQ code table ``(vec_id, code0..codeS)`` — the
    corpus-as-4-bytes-per-vector index every ADC consumer starts from
    (``pq_adc_search``, ``pq_adc_topk``, ``pq_adc_recall``). The
    encode stage is ~512 literal squared-diff terms per row; its cost
    at bench scale is Catalyst + codegen of that expression tree,
    re-paid by every consumer that inlines it (round-11 profile:
    ~0.9 s per build, three builds per bench sweep). One narrow staged
    table (id + S tiny longs) drops that to one build per session."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from atlassian_confluence_data_pipeline_spark.plans.embeddings2 import (
            pq_code_columns,
            pq_collect_codebook,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cents = pq_collect_codebook(emb)
        dist_cols, code_cols = pq_code_columns(cents)
        return emb.select("vec_id", *dist_cols).select("vec_id", *code_cols)

    return shared_pair_table(spark, sf_dir, "pq_codes", _build)


def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized first-order Markov transition-count grid
    ``(prev_type, event_type, c)`` over the events table — the
    user-keyed lag window + hash aggregate that
    ``event_transition_matrix``, ``transition_entropy_rate`` and
    ``markov_stationary_events`` each re-ran per build (round-11
    profile: the window pass dominates all three; the grid itself is
    |event_types|²-bounded — model-sized, the cheapest checkpoint in
    the cache)."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            ev.select(
                "event_type", F.lag("event_type").over(w).alias("prev_type")
            )
            .filter(F.col("prev_type").isNotNull())
            .groupBy("prev_type", "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    return shared_pair_table(spark, sf_dir, "event_transition_counts", _build)


def preference_duel_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized duel frame ``(id_a, id_b, s_a, s_b, winner)`` —
    the offset-explode + corpus equi-join every preference consumer
    starts from. ``dpo_pair_construction`` alone inlined it five times
    (its own pair stream + twice each inside the BT fit and the Wilson
    matrix); narrow columns, pair-stream cardinality."""
    from atlassian_confluence_data_pipeline_spark.plans.preference import (
        _duel_frame,
    )

    return shared_pair_table(spark, sf_dir, "preference_duels", _duel_frame)


def preference_matchups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized matchup sufficient statistics ``(i, j, n, w)``
    (duel counts and i-wins per ordered matchup) — |sources|²-bounded,
    the frame both Bradley-Terry fit paths, the Wilson win-rate matrix
    and the DPO margins reduce to."""

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from atlassian_confluence_data_pipeline_spark.plans.preference import (
            _both_orientations,
            _matchup_matrix,
        )

        cmp = preference_duel_frame(spark, sf_dir)
        return _matchup_matrix(_both_orientations(cmp))

    return shared_pair_table(spark, sf_dir, "preference_matchups", _build)


def label_centroid_rows(spark: SparkSession, sf_dir: str) -> list:
    """Session-memoized label-centroid rows ``[(centroid_id, vec)]`` —
    the deterministic per-label mean vectors (posexplode + two hash
    aggregates + model-sized collect) that ivf_ann_topk,
    ivf_recall_audit, kmeans_lloyd_step, kmeans_iterations and
    semantic_dedup each rebuilt per run. k rows of D doubles — the
    literal-embedding input of the narrow-map argmax assignment, the
    same class as the collected k-means loop state."""

    def _build(spark: SparkSession, sf_dir: str) -> list:
        from atlassian_confluence_data_pipeline_spark.catalog import (
            load_table,
        )
        from atlassian_confluence_data_pipeline_spark.operators.similarity import (
            collect_centroids,
        )
        from atlassian_confluence_data_pipeline_spark.plans.analytics import (
            _deterministic_mean_vectors,
        )
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_dir, "embeddings")
        cent = _deterministic_mean_vectors(emb, "label").select(
            F.col("label").alias("centroid_id"),
            F.col("mean_vec").alias("centroid"),
        )
        return collect_centroids(cent)

    return shared_pair_table(spark, sf_dir, "label_centroid_rows", _build)


def seg_price_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized two-cohort price-count domain ``(cents, ca,
    cb)`` — the orders⋈customer join + distinct-value hash aggregate
    shared by the KS and Mann-Whitney segment tests (each also paid it
    a second time inside the prefix operator's approxQuantile pass)."""
    from atlassian_confluence_data_pipeline_spark.plans.hypothesis import (
        _seg_prices,
    )

    return shared_pair_table(spark, sf_dir, "seg_price_counts", _seg_prices)


def doc_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized whitespace-token stream ``(doc_id, source,
    lang, pos, word)`` over the documents table — the regex-split +
    posexplode that ~16 text queries (tfidf, NLL scores, vocabulary
    curves/OOV, stylometry, postings, Bloom sizing, DSIR buckets…)
    each re-ran per build. Narrow columns at token cardinality — the
    minhash_doc_hashes class; consumers that only need (doc_id, word)
    project it down, and the empty-text convention (one '' token per
    empty document) is exactly what every inline explode produced.

    Storage bound (r11 ADVICE, documented round 12): the checkpoint
    holds ~5 small columns per TOKEN — id + pos (16 B) + word (avg
    ~8 B) + source/lang dictionary-encoded — i.e. roughly 0.3-0.4x the
    raw text bytes, pinned in executor storage for the session. A
    (doc_id, pos, word)-only variant with source/lang joined back from
    the documents dimension was considered and rejected: two consumers
    would trade a ~30% narrower checkpoint for a corpus-by-corpus join,
    and the round-12 near_dup_pairs experiment measured exactly this
    class of trade (move materialized payload vs recompute/carry) as a
    net loss."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from atlassian_confluence_data_pipeline_spark.plans.textops import _words
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return docs.select(
            "doc_id",
            "source",
            "lang",
            F.posexplode(_words(F.col("text"))).alias("pos", "word"),
        )

    return shared_pair_table(spark, sf_dir, "doc_word_positions", _build)


def customer_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized right-censored customer-lifetime frame
    ``(o_custkey, duration, last_d)`` — the orders-domain aggregate the
    survival family (kaplan_meier_churn, nelson_aalen_hazard,
    log_rank_test) each rebuilt and checkpointed per run."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        o = load_table(spark, sf_dir, "orders")
        return o.groupBy("o_custkey").agg(
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias(
                "duration"
            ),
            F.max("o_orderdate").alias("last_d"),
        )

    return shared_pair_table(spark, sf_dir, "customer_lifetimes", _build)


def lifetime_head(spark: SparkSession, sf_dir: str):
    """Session-memoized corpus head date (max last order date) over
    :func:`customer_lifetimes` — one loop-control scalar shared by the
    survival family's censoring labels."""
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str):
        return customer_lifetimes(spark, sf_dir).agg(
            F.max("last_d")
        ).first()[0]

    return shared_pair_table(spark, sf_dir, "lifetime_head", _build)


def seg_price_summary(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-memoized ``(na, nb, mn, mx)`` loop-control scalars over
    :func:`seg_price_counts` — the cohort sizes both tests need anyway
    plus the cents range that feeds equal-width split points to their
    prefix passes (skipping each test's approxQuantile sampling job)."""

    def _build(spark: SparkSession, sf_dir: str) -> tuple:
        from pyspark.sql import functions as F

        row = (
            seg_price_counts(spark, sf_dir)
            .agg(
                F.sum("ca").cast("bigint").alias("na"),
                F.sum("cb").cast("bigint").alias("nb"),
                F.min("cents").alias("mn"),
                F.max("cents").alias("mx"),
            )
            .first()
        )
        return (row["na"], row["nb"], row["mn"], row["mx"])

    return shared_pair_table(spark, sf_dir, "seg_price_summary", _build)


def pq_query_luts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized per-query ADC lookup tables ``(query_id,
    lut0..lutS)`` — one CODEBOOK-slot array of exact squared subspace
    distances per subspace for each of the fixed query rows. Same
    literal-expression-planning cost profile as :func:`pq_code_table`,
    shared by the three ADC consumers."""
    from atlassian_confluence_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from atlassian_confluence_data_pipeline_spark.plans.embeddings2 import (
            _CODEBOOK,
            _SUBS,
            pq_collect_codebook,
            pq_subdist_sql_spark,
        )
        from atlassian_confluence_data_pipeline_spark.plans.quantization import (
            ADC_QUERIES,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cents = pq_collect_codebook(emb)
        lut_cols = [
            F.array(
                *[
                    F.expr(pq_subdist_sql_spark(cents, s, cid, "embedding"))
                    for cid in range(_CODEBOOK)
                ]
            ).alias(f"lut{s}")
            for s in range(_SUBS)
        ]
        return emb.filter(F.col("vec_id") < ADC_QUERIES).select(
            F.col("vec_id").alias("query_id"), *lut_cols
        )

    return shared_pair_table(spark, sf_dir, "pq_query_luts", _build)
