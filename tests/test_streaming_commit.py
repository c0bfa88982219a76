"""The index jobs' shared commit step (streaming/jobs.py
``_commit_index_batch``): compacting after every trigger must not change
what a job emits, and must leave a consolidated partition named by the
store's manifest; a replayed live MinHash batch must leave the index and
the distinct pairs unchanged."""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pytest

from atlassian_confluence_data_pipeline_spark.functions.imaging import encode_bmp
from atlassian_confluence_data_pipeline_spark.operators.state import AppendIndexStore
from atlassian_confluence_data_pipeline_spark.streaming.jobs import (
    foreach_batch_image_dedup,
    foreach_batch_minhash_dedup,
    foreach_batch_span_dedup,
    foreach_batch_video_dedup,
)

_DOC_SCHEMA = "doc_id bigint, text string"
_ATT_SCHEMA = "owner_id bigint, filename string, content binary"

BOILER = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
BASE = " ".join(f"w{i:02d}" for i in range(1, 21))
TEXT_BATCHES = [
    [(1, f"{BASE} {BOILER}"), (2, f"one two three four five six seven eight nine ten {BOILER}")],
    [(3, f"{BASE.replace('w10', 'x10')} {BOILER}")],
    [
        (4, f"{BASE.replace('w16', 'y16')} {BOILER}"),
        (5, "red orange yellow green blue indigo violet black white gray"),
    ],
]


def _texture(seed: int, edit: bool = False) -> bytearray:
    y, x, c = np.ogrid[:16, :16, :3]
    px = (seed * 31 + 7 * x * x + 13 * y * y + 5 * x * y + 101 * c) % 256
    if edit:
        px[0:2, :, :] = (px[0:2, :, :] + 128) % 256  # localized band edit
    return bytearray(encode_bmp(px.astype(np.uint8)))


def _image_batches(spark):
    return [
        [(1, "a.bmp", _texture(9)), (2, "b.bmp", _texture(40))],
        [(3, "c.bmp", _texture(9, edit=True))],
        [(4, "d.bmp", _texture(40, edit=True)), (5, "e.bmp", _texture(77))],
    ]


def _video_batches(spark):
    from atlassian_confluence_data_pipeline_spark.sources.binary import (
        textured_video_attachments_from_documents,
    )

    def vids(ids):
        docs = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
        return [
            (r["owner_id"], r["filename"], bytearray(r["content"]))
            for r in textured_video_attachments_from_documents(docs).collect()
        ]

    return [vids([400, 401]), vids([402]), vids([403, 410])]


#: job, input schema, batches(spark), extra job kwargs
JOBS = {
    "minhash": (foreach_batch_minhash_dedup, _DOC_SCHEMA, lambda s: TEXT_BATCHES, {"jaccard": 0.5}),
    "span": (foreach_batch_span_dedup, _DOC_SCHEMA, lambda s: TEXT_BATCHES, {"span_words": 10}),
    "image": (foreach_batch_image_dedup, _ATT_SCHEMA, _image_batches, {}),
    "video": (foreach_batch_video_dedup, _ATT_SCHEMA, _video_batches, {}),
}


def _write_drop(spark, drop, schema, batches) -> None:
    drop.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(drop / f"b{i}.parquet")
        )


def _run(spark, job, schema, drop, root, checkpoint=None, **kw):
    """Run ``job`` availableNow over ``drop`` (one file per trigger);
    returns (distinct output rows, index store)."""
    store = AppendIndexStore(str(root / "index"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(drop) + "/*.parquet")
    )
    q = (
        job(stream, store, str(root / "out"), **kw)
        .option(
            "checkpointLocation",
            checkpoint or str(root / f"ck_{uuid.uuid4().hex[:6]}"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    out = root / "out"
    rows = (
        {tuple(r) for r in spark.read.parquet(str(out)).distinct().collect()}
        if out.exists()
        else set()
    )
    return rows, store


def _manifest(store) -> dict:
    with open(os.path.join(store.path, AppendIndexStore.MANIFEST)) as fh:
        return json.load(fh)


@pytest.mark.parametrize("name", sorted(JOBS))
def test_compact_every_trigger_emits_the_same_rows(spark, tmp_path, name):
    job, schema, batches, kw = JOBS[name]
    drop = tmp_path / "drop"
    _write_drop(spark, drop, schema, batches(spark))
    plain, _ = _run(spark, job, schema, drop, tmp_path / "plain", **kw)
    compacted, store = _run(
        spark, job, schema, drop, tmp_path / "compacted", compact_every=1, **kw
    )
    assert plain  # every job emits something over these batches
    assert compacted == plain
    man = _manifest(store)
    assert man["compacted"] and os.path.isdir(
        os.path.join(store.path, man["compacted"])
    )
    assert man["watermark"] == 1  # batches 0 and 1 folded, 2 kept


def test_minhash_live_replay_leaves_index_and_pairs_unchanged(spark, tmp_path):
    """Drop the last commit of the streaming checkpoint, so a restart
    replays that batch id against an index that already holds its
    partition (the live replay): the job's probe reads that partition,
    and its write retires it."""
    drop = tmp_path / "drop"
    _write_drop(spark, drop, _DOC_SCHEMA, TEXT_BATCHES[:2])
    ck = str(tmp_path / "ck")
    pairs, store = _run(
        spark, foreach_batch_minhash_dedup, _DOC_SCHEMA, drop, tmp_path,
        checkpoint=ck, jaccard=0.5,
    )
    schema = "doc_id bigint, hs array<bigint>, band_key bigint"
    n_index = store.read(spark, schema).count()
    live = _manifest(store)["batches"]["1"]
    assert (1, 3) in {p[:2] for p in pairs}
    for f in ("1", ".1.crc"):
        path = os.path.join(ck, "commits", f)
        if os.path.exists(path):
            os.remove(path)
    replayed, store = _run(
        spark, foreach_batch_minhash_dedup, _DOC_SCHEMA, drop, tmp_path,
        checkpoint=ck, jaccard=0.5,
    )
    assert _manifest(store)["batches"]["1"] != live  # batch 1 ran again
    assert store.read(spark, schema).count() == n_index
    assert replayed == pairs
