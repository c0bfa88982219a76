"""Curated-shard materialization — the capstone SINK job (round-7
next-round item 2): chain the full-curation survivors
(plans/curation.py curated_survivor_docs) through the portable shard
placement and shard-local packing (plans/curation8.py
shard_packed_frame) into the artifact a training run actually
consumes: ``shard_id=N/`` partitioned parquet behind an ATOMIC
manifest.

Commit protocol: the one manifest protocol of operators/state.py —
a directory is visible if and only if ``MANIFEST.json`` names it.

- the dataset is written straight into a fresh ``data-{nonce}`` dir —
  a failed/killed job leaves an unnamed dir no reader binds;
- the written files are READ BACK to compute the manifest's per-shard
  row/token/window counts (so the manifest describes the bytes on
  disk, not the plan that produced them);
- publish = one atomic manifest replace naming the new dir; the
  superseded dir is retired (hidden, then deleted) after it, and
  unnamed leftovers are reaped once older than ``REAP_GRACE_S`` (a
  concurrent run's in-flight dir is left alone). Replays are
  idempotent: the content is a deterministic function of the input
  fixtures, so re-running publishes a byte-equivalent corpus.

Reference analog: the output_generator stage (html_generator.py:50-64
writes the consumable artifact tree) generalized to the training-data
deliverable.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.operators.state import (
    fresh_name,
    load_manifest,
    publish,
    reap,
)
from atlassian_confluence_data_pipeline_spark.plans.packing import CTX_TOKENS

MANIFEST = "MANIFEST.json"

#: prefixes of the data dirs these sinks write (reaped when unnamed)
_DATA = ("data-", "batch-")


def _named(man: dict) -> list[str]:
    """The data dirs a manifest names: one ``dir``, or a ``dirs`` list."""
    if "dirs" in man:
        return list(man["dirs"])
    return [man["dir"]] if "dir" in man else []


def _publish(out_path: str, manifest: dict, retired: list[str] = ()) -> None:
    """Commit ``manifest``, retire ``retired``, reap aged leftovers."""
    publish(out_path, MANIFEST, manifest, retired)
    reap(out_path, _named(manifest), _DATA)


def materialize_curated_shards(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    ctx_tokens: int = CTX_TOKENS,
) -> dict:
    """Run curate -> shard -> pack -> write and atomically publish the
    result under ``out_path``. Returns the committed manifest dict.

    Written columns: shard_id, doc_id, lang, source, text, tok,
    shard_cum (inclusive per-shard token prefix), window_id (the
    shard-local CTX window the document STARTS in), split (1 when the
    window's right edge chops it). Files are partitioned by shard_id,
    so a training worker reads exactly its ``shard_id=N/`` directory.

    Scale shape: the curation stages are the engine's scale-path
    variants (banded LSH, digest hash-agg); the per-shard prefix is
    the range-bucketed two-pass distributed_prefix_rank (no whole-shard
    single task); the write is one shuffle-free partitioned parquet
    job; manifest stats are one aggregate over the written files."""
    from atlassian_confluence_data_pipeline_spark.plans.curation import (
        curated_survivor_docs,
    )
    from atlassian_confluence_data_pipeline_spark.plans.curation8 import (
        shard_packed_frame,
    )

    os.makedirs(out_path, exist_ok=True)
    survivors = curated_survivor_docs(spark, sf_dir).withColumn(
        "tok", F.col("n_words").cast("bigint")
    )
    packed = shard_packed_frame(
        survivors.select("doc_id", "lang", "source", "text", "tok")
    ).select(
        "shard_id",
        "doc_id",
        "lang",
        "source",
        "text",
        "tok",
        "shard_cum",
        "window_id",
        "split",
    )

    name = fresh_name("data-")
    data_dir = os.path.join(out_path, name)
    packed.write.mode("overwrite").partitionBy("shard_id").parquet(data_dir)

    # manifest stats from the BYTES ON DISK, not the plan
    written = spark.read.parquet(data_dir)
    per_shard = {
        int(r["shard_id"]): {
            "n_docs": int(r["n_docs"]),
            "n_tokens": int(r["n_tokens"]),
            "n_windows": int(r["n_windows"]),
            "n_chopped": int(r["n_chopped"]),
        }
        for r in written.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.expr(f"(sum(tok) + {ctx_tokens - 1}) DIV {ctx_tokens}").alias(
                "n_windows"
            ),
            F.sum("split").alias("n_chopped"),
        )
        .collect()
    }
    n_files = sum(
        1
        for root, _, files in os.walk(data_dir)
        for f in files
        if f.endswith(".parquet")
    )
    manifest = {
        "dir": name,
        "sf_dir": sf_dir,
        "ctx_tokens": ctx_tokens,
        "n_files": n_files,
        "n_docs": sum(s["n_docs"] for s in per_shard.values()),
        "n_tokens": sum(s["n_tokens"] for s in per_shard.values()),
        "n_windows": sum(s["n_windows"] for s in per_shard.values()),
        "n_chopped": sum(s["n_chopped"] for s in per_shard.values()),
        "shards": {str(k): v for k, v in sorted(per_shard.items())},
    }

    _publish(out_path, manifest, retired=_named(read_manifest(out_path) or {}))
    return manifest


def read_manifest(out_path: str) -> dict | None:
    return load_manifest(out_path, MANIFEST)


def read_curated_shards(spark: SparkSession, out_path: str) -> DataFrame:
    """Load the committed corpus through the manifest pointer — never
    by globbing (a half-published directory is invisible)."""
    man = read_manifest(out_path)
    if man is None:
        raise FileNotFoundError(f"no committed corpus under {out_path}")
    return spark.read.parquet(os.path.join(out_path, man["dir"]))


# ---------------------------------------------------------------------------
# Incremental curated-shard maintenance (round-9 VERDICT item 3): the
# streaming curation job composes with this appender so each
# micro-batch's ACCEPTED docs extend the shard-partitioned corpus
# behind the manifest, instead of a full rebuild per batch. The same
# batch-append path serves any per-batch increment table
# (append_manifest_batch; streaming DPO pairs use it).
# ---------------------------------------------------------------------------


def _append_batch(
    out_path: str,
    man: dict,
    batch_id: int,
    df: DataFrame,
    write: Callable[[str], None],
) -> dict:
    """The batch-append path of both incremental sinks. A batch already
    in the manifest is a no-op (counts never double-advance); an empty
    batch commits the manifest only; any other batch is written by
    ``write(path)`` — which also folds the written bytes' stats into
    ``man`` — into a fresh ``batch-{id}-{nonce}`` dir, then the manifest
    naming it is published. A batch whose data was written but whose
    manifest never committed is simply rebuilt on replay; the orphan
    dir is unnamed and reaped after the grace period.

    Empty batches must still COMMIT: a zero-row partitioned write
    leaves only _SUCCESS behind and the read-back raises
    UNABLE_TO_INFER_SCHEMA, which would crash-loop every replay."""
    bid = int(batch_id)
    if bid in man["batches"]:
        return man  # committed replay -> no-op
    if not df.isEmpty():
        name = fresh_name(f"batch-{bid}-")
        write(os.path.join(out_path, name))
        man["dirs"].append(name)
    man["batches"].append(bid)
    _publish(out_path, man)
    return man


def _open_manifest(out_path: str, fmt: str, empty: dict) -> dict:
    """The committed manifest of format ``fmt`` (``empty`` when none)."""
    os.makedirs(out_path, exist_ok=True)
    man = read_manifest(out_path) or empty
    if man.get("format") != fmt:
        raise ValueError(
            f"{out_path} holds a '{man.get('format', 'full')}' artifact;"
            f" append requires format '{fmt}'"
        )
    return man


def append_shard_batch(
    spark: SparkSession,
    accepted: DataFrame,
    out_path: str,
    batch_id: int,
    ctx_tokens: int = CTX_TOKENS,
) -> dict:
    """Append ONE micro-batch of curated docs ``(doc_id, text, tok)``
    to an incrementally-maintained shard corpus under ``out_path``.

    Packing contract: ARRIVAL order — each batch's docs pack at the
    END of their shard, continuing from the per-shard token offsets the
    committed manifest records (within a batch, doc_id order — the
    shard_packed_frame prefix). Equals the single-batch build whenever
    arrival order is doc_id order, the same equivalence contract as
    foreach_batch_curation (streaming/jobs.py).

    Crash safety and replay idempotence: :func:`_append_batch`. The
    window arithmetic (window_id, split) is recomputed against the
    offset cumulative sums, so chop flags are identical to a one-shot
    build over the concatenated arrivals."""
    from atlassian_confluence_data_pipeline_spark.plans.curation8 import (
        shard_packed_frame,
    )

    man = _open_manifest(
        out_path,
        "incremental",
        {
            "format": "incremental",
            "ctx_tokens": ctx_tokens,
            "batches": [],
            "dirs": [],
            "n_docs": 0,
            "n_tokens": 0,
            "n_chopped": 0,
            "shards": {},
        },
    )
    if int(man["ctx_tokens"]) != int(ctx_tokens):
        raise ValueError(
            f"ctx_tokens mismatch: corpus committed at {man['ctx_tokens']}, "
            f"append requested {ctx_tokens} — window ids would be inconsistent"
        )
    accepted = accepted.select("doc_id", "text", "tok")

    def write(data_dir: str) -> None:
        packed = shard_packed_frame(accepted)
        offsets = {int(k): int(v["n_tokens"]) for k, v in man["shards"].items()}
        if offsets:
            off_df = spark.createDataFrame(
                [(k, v) for k, v in offsets.items()], "__osh int, __off bigint"
            )
            packed = (
                packed.join(
                    F.broadcast(off_df),
                    packed["shard_id"] == off_df["__osh"],
                    "left",
                )
                .withColumn(
                    "shard_cum",
                    F.col("shard_cum") + F.coalesce(F.col("__off"), F.lit(0)),
                )
                .drop("__osh", "__off")
            )
        win = F.expr(f"(shard_cum - tok) DIV {ctx_tokens}")
        endw = F.expr(f"(shard_cum - 1) DIV {ctx_tokens}")
        packed.withColumn("window_id", win).withColumn(
            "split", F.when(endw > win, 1).otherwise(0)
        ).select(
            "shard_id", "doc_id", "text", "tok", "shard_cum", "window_id", "split"
        ).write.mode("overwrite").partitionBy("shard_id").parquet(data_dir)

        # stats from the bytes on disk, not the plan
        rows = (
            spark.read.parquet(data_dir)
            .groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("tok").alias("n_tokens"),
                F.sum("split").alias("n_chopped"),
            )
            .collect()
        )
        for r in rows:
            s = man["shards"].setdefault(
                str(int(r["shard_id"])),
                {"n_docs": 0, "n_tokens": 0, "n_chopped": 0},
            )
            for k in ("n_docs", "n_tokens", "n_chopped"):
                s[k] += int(r[k])
                man[k] += int(r[k])
        # windows derive from per-shard token mass, identical to the
        # batch sink's ceil-division over each shard's final cumulative
        # count
        man["n_windows"] = sum(
            (s["n_tokens"] + ctx_tokens - 1) // ctx_tokens
            for s in man["shards"].values()
        )

    return _append_batch(out_path, man, batch_id, accepted, write)


def read_incremental_shards(spark: SparkSession, out_path: str) -> DataFrame:
    """Load the committed incremental corpus through the manifest — only
    ``batch-*`` dirs the manifest names are visible, so a crashed
    commit's orphan data is invisible."""
    man = read_manifest(out_path)
    if man is None or man.get("format") != "incremental":
        raise FileNotFoundError(
            f"no committed incremental corpus under {out_path}"
        )
    dirs = [os.path.join(out_path, d) for d in man["dirs"]]
    if not dirs:
        raise FileNotFoundError(f"incremental corpus under {out_path} is empty")
    # one read per batch dir, unioned: each dir is its own shard_id=N/
    # partition tree, and Spark's multi-path partition discovery rejects
    # sibling roots with independent partition layouts
    out = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(spark.read.parquet(d))
    return out


def append_manifest_batch(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    batch_id: int,
    fmt: str = "increments",
) -> dict:
    """Append ONE micro-batch increment table under ``out_path`` behind
    the manifest (crash safety and replay idempotence:
    :func:`_append_batch`)."""
    man = _open_manifest(
        out_path, fmt, {"format": fmt, "batches": [], "dirs": [], "n_rows": 0}
    )

    def write(data_dir: str) -> None:
        df.write.mode("overwrite").parquet(data_dir)
        man["n_rows"] += int(spark.read.parquet(data_dir).count())

    return _append_batch(out_path, man, batch_id, df, write)


def read_manifest_batches(
    spark: SparkSession, out_path: str, schema: str, fmt: str = "increments"
) -> DataFrame:
    """Union of all committed increment batches under ``out_path`` —
    only manifest-named dirs are visible (a crashed commit's orphaned
    data is invisible); an empty/absent artifact reads as an empty frame
    of ``schema``."""
    man = read_manifest(out_path)
    if man is not None and man.get("format") != fmt:
        raise FileNotFoundError(
            f"no committed '{fmt}' artifact under {out_path}"
        )
    if man is None or not man["dirs"]:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    return spark.read.parquet(
        *[os.path.join(out_path, d) for d in man["dirs"]]
    )
