"""State ledger: the processed-versions table + MERGE-style upsert (K3),
and the one commit protocol every persisted store and file sink uses.

The reference persists a key->version dict as one JSON file and rewrites
the whole file after every processed page (state_manager.py:84-102,
:42-49 — O(state) I/O per row). The engine's rendering:

- the ledger is a DataFrame/Parquet *table* keyed by ``id``;
- upsert is a set-level MERGE — one priority window over ``state ∪
  updates``, which also resolves multi-version batches to latest-per-key
  (W2; the reference gets this from sequential overwrite, :93-99) —
  one shuffle per batch, not one rewrite per row;
- persistence is parquet directories behind one JSON manifest that also
  records each snapshot's schema (a read infers nothing): the Delta-less
  rendering of ``MERGE INTO`` with atomic visibility.

Commit protocol. One rule: **a directory is visible if and only if the
current manifest names it.** A reader never lists a directory to find
data; it binds exactly the files one manifest names, the way Delta and
Iceberg readers bind one snapshot's file list.

- *Publish*: a writer puts its data in a fresh, nonce-named directory
  (:func:`fresh_name`), then atomically replaces the manifest
  (:func:`publish`). The replace is the only commit point; a crash
  before it leaves an unnamed, invisible directory.
- *Retire*: a directory the new manifest drops is renamed to a hidden
  name and deleted (:func:`retire`). A reader still holding the old
  manifest gets a raised missing-path or missing-file error, which is
  retryable; it never binds a subset of the data.
- *Reap*: a writer-prefixed directory or hidden temp that the manifest
  does not name — a crash leftover, or another process's in-flight
  write — is removed only once it is older than a grace period
  (:func:`reap`, :data:`REAP_GRACE_S`).
- *Read*: load one manifest, bind the directories it names.

``StateStore``, ``AppendIndexStore``, the curated-shard sinks
(sources/shard_sink.py) and the n-gram index sink
(sources/ngram_index_sink.py) all commit through these helpers.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atlassian_confluence_data_pipeline_spark.operators.dedup import latest_per_key

#: reference ledger row shape (state_manager.py:93-99)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("space_key", T.StringType(), True),
        T.StructField("version", T.IntegerType(), True),
        T.StructField("last_modified", T.StringType(), True),
        T.StructField(
            "output_paths", T.MapType(T.StringType(), T.StringType()), True
        ),
    ]
)

#: minimum age (mtime, seconds) before an unnamed directory or temp file
#: is reaped: protects a second process's in-flight write, and gives a
#: reader holding an old manifest time to finish
REAP_GRACE_S = 300.0

#: name prefixes of the protocol's own hidden entries (manifest temps,
#: retired directories); always reapable once aged
_HIDDEN = (".tmp-", ".retired-")


def merge_state(
    state: DataFrame,
    updates: DataFrame,
    key: str | Sequence[str] = "id",
    version_col: str = "version",
) -> DataFrame:
    """Last-write-wins MERGE of ``updates`` into ``state``.

    One priority window over ``state ∪ updates`` keeps one row per key,
    update rows first, then the highest version: a matched key takes its
    newest update (W2; even one older than the state row), unmatched
    state rows survive, new keys insert — ``MERGE INTO state USING u ON
    key WHEN MATCHED UPDATE * WHEN NOT MATCHED INSERT *`` in one shuffle."""
    keys = [key] if isinstance(key, str) else list(key)
    u = updates.withColumn("__upd", F.lit(1))
    tagged = state.withColumn("__upd", F.lit(0)).unionByName(u)
    return latest_per_key(tagged, keys, ["__upd", version_col]).drop("__upd")


# -- the commit protocol -----------------------------------------------


def fresh_name(prefix: str) -> str:
    """A directory name no writer has used: ``prefix`` + epoch-ns + a
    random suffix (unique across concurrent processes)."""
    return f"{prefix}{time.time_ns()}-{uuid.uuid4().hex[:8]}"


def load_manifest(root: str, name: str) -> dict | None:
    """The committed manifest ``root/name``, or None when it is missing
    or unreadable (tolerant load: no manifest means nothing committed)."""
    try:
        with open(os.path.join(root, name)) as fh:
            man = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    return man if isinstance(man, dict) else None


def publish(
    root: str, name: str, manifest: dict, retired: Iterable[str] = ()
) -> None:
    """THE commit point: write ``manifest`` to a hidden temp file and
    atomically replace ``root/name`` with it (mkstemp + os.replace), then
    retire the directories the new manifest no longer names."""
    fd, tmp = tempfile.mkstemp(dir=root, prefix=".tmp-")
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(root, name))
    retire(root, retired)


def retire(root: str, dirs: Iterable[str]) -> None:
    """Rename each directory to a hidden name, then delete it. The
    rename is atomic, so a reader bound to the old manifest sees the
    whole directory or a missing path — never a half-deleted one. A
    crash between the two steps leaves a hidden dir for :func:`reap`."""
    for d in dirs:
        hidden = os.path.join(root, fresh_name(f".retired-{d}-"))
        try:
            os.rename(os.path.join(root, d), hidden)
        except OSError:
            continue  # already gone
        shutil.rmtree(hidden, ignore_errors=True)


def reap(
    root: str,
    named: Iterable[str],
    prefixes: tuple[str, ...],
    grace_s: float = REAP_GRACE_S,
) -> None:
    """Remove every entry of ``root`` that starts with one of the
    writer's ``prefixes`` (or is a hidden protocol temp), is not in
    ``named``, and is older than ``grace_s``. Best-effort: an entry that
    vanishes first was reaped by someone else."""
    keep = set(named)
    now = time.time()
    for d in os.listdir(root):
        if d in keep or not d.startswith(prefixes + _HIDDEN):
            continue
        p = os.path.join(root, d)
        try:
            if now - os.path.getmtime(p) < grace_s:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        except OSError:
            pass


# -- stores ------------------------------------------------------------


class StateStore:
    """Snapshot-directory ledger behind an atomic pointer manifest.

    Layout::

        {path}/snapshot-{nonce}/   <- parquet snapshots
        {path}/_CURRENT            <- JSON {"snapshot": current,
                                             "history": [oldest .. current],
                                             "schemas": {snapshot: schema}}

    ``write`` writes the new snapshot fully, then publishes the pointer
    with the snapshot and its schema appended — readers always see a
    complete snapshot and bind its recorded schema (no inference job).
    Only snapshots the pointer records exist for ``list_snapshots``,
    ``read(snapshot=)`` and ``vacuum``; a snapshot dir left by a crashed
    write is invisible and reaped after :data:`REAP_GRACE_S`. This is
    the engine's Delta-less MERGE commit protocol; on a real deployment
    the same operator writes through Delta/Iceberg.
    """

    POINTER = "_CURRENT"

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _pointer(self) -> tuple[list[str], dict]:
        # (history, schema per snapshot); a missing/corrupt pointer is an
        # empty ledger (tolerant-load parity with state_manager.py:20-40)
        man = load_manifest(self.path, self.POINTER) or {}
        snap = man.get("snapshot")
        history = list(man.get("history") or ([snap] if snap else []))
        return history, dict(man.get("schemas") or {})

    def _publish(self, history: list[str], schemas: dict, retired=()) -> None:
        schemas = {s: schemas[s] for s in history if s in schemas}
        man = {"snapshot": history[-1], "history": history, "schemas": schemas}
        publish(self.path, self.POINTER, man, retired)

    def current_snapshot(self) -> str | None:
        return (self.list_snapshots() or [None])[-1]

    def list_snapshots(self) -> list[str]:
        """The committed snapshots, oldest first."""
        return self._pointer()[0]

    def read(self, spark: SparkSession, snapshot: str | None = None) -> DataFrame:
        """Read the current ledger, or time-travel to a committed
        snapshot (every upsert retains its full predecessor until
        vacuumed). No job runs before an action; an empty store is an
        empty-RDD relation (no task, no Python worker)."""
        history, schemas = self._pointer()
        if snapshot is not None and snapshot not in history:
            raise FileNotFoundError(
                f"{snapshot} is not a committed snapshot of {self.path}"
            )
        snap = snapshot or (history[-1] if history else None)
        if snap is None:
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), STATE_SCHEMA)
        schema = schemas.get(snap)  # None only in a pre-schema pointer: infer
        reader = spark.read
        if schema:
            reader = reader.schema(T.StructType.fromJson(schema))
        return reader.parquet(os.path.join(self.path, snap))

    def vacuum(self, keep: int = 3) -> list[str]:
        """Drop all but the newest ``keep`` snapshots (never the current
        one): the shorter history, with the kept snapshots' schemas, is
        committed first, then the dropped dirs are retired and aged
        crash leftovers reaped. Returns the removed snapshot names."""
        history, schemas = self._pointer()
        removed = history[: -max(keep, 1)]
        kept = history[len(removed):]
        if removed:
            self._publish(kept, schemas, retired=removed)
        reap(self.path, kept, ("snapshot-",))
        return removed

    def write(self, df: DataFrame) -> str:
        """Commit ``df`` and its schema as a fresh snapshot; ``df`` may
        lazily read an older snapshot, which the write never replaces."""
        snap = fresh_name("snapshot-")
        df.write.mode("overwrite").parquet(os.path.join(self.path, snap))
        history, schemas = self._pointer()
        schemas[snap] = df.schema.jsonValue()
        self._publish(history + [snap], schemas)
        return snap

    def upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str | Sequence[str] = "id",
        version_col: str = "version",
    ) -> DataFrame:
        """Read-merge-write one batch: the MERGE is written straight
        into the new snapshot. Returns a lazy read of that snapshot."""
        snap = self.write(merge_state(self.read(spark), updates, key, version_col))
        return self.read(spark, snap)


class AppendIndexStore:
    """Append-only, batch-partitioned index for streaming jobs whose
    state only GROWS (band indexes, fingerprint sets) — the O(batch)
    complement to StateStore's O(state) snapshot rewrite.

    Layout::

        {path}/batch={id}-{nonce}/   <- one parquet dir per micro-batch
        {path}/compacted-{nonce}/    <- folded older batches (optional)
        {path}/_MANIFEST             <- JSON {"batches": {id: dir},
                                              "compacted", "watermark"}

    ``write_batch`` writes a fresh dir and publishes the manifest with
    its batch id mapped to it; a replayed live batch (restart recovery)
    commits a new dir and retires the old one (last write wins), so the
    index never grows by a replay. ``read`` binds exactly the compacted
    dir plus the batch dirs the manifest names.

    ``compact`` bounds the long-stream small-file explosion: it folds
    all but the newest ``keep_recent`` batches (plus any prior compacted
    dir) into ONE consolidated dir and advances the watermark in the
    same manifest. A replayed batch at or below the watermark is a
    no-op — the consolidated dir is a pure function of the folded
    batches. A streaming index that is instead REVISED per key belongs
    in StateStore's MERGE path, not here."""

    MANIFEST = "_MANIFEST"

    def __init__(self, path: str, reap_grace_s: float = REAP_GRACE_S):
        """``reap_grace_s``: minimum age (mtime) before an unnamed dir or
        temp — a crashed write or compaction, or another process's
        in-flight write — is reaped by ``compact``."""
        self.path = path
        self.reap_grace_s = float(reap_grace_s)
        os.makedirs(path, exist_ok=True)

    def _manifest(self) -> dict:
        man = load_manifest(self.path, self.MANIFEST)
        return man or {"batches": {}, "compacted": None, "watermark": -1}

    @staticmethod
    def _dirs(man: dict) -> list[str]:
        """The manifest's dirs: compacted first, then batches by id."""
        batches = sorted(man["batches"].items(), key=lambda kv: int(kv[0]))
        compacted = [man["compacted"]] if man["compacted"] else []
        return compacted + [d for _, d in batches]

    def has_data(self) -> bool:
        return bool(self._dirs(self._manifest()))

    def read(self, spark: SparkSession, schema: str) -> DataFrame:
        """Bind exactly the dirs one manifest names; an empty frame of
        ``schema`` when nothing has been committed. The schema is
        supplied (no inference — it flakes on fresh directories).

        A commit between loading the manifest and binding its dirs may
        retire one of them: the bind then raises (missing path) or the
        manifest has moved on, and the build is retried against the
        fresh manifest. The returned frame is LAZY, so a reader that
        must also survive commits during its ACTION should go through
        :meth:`read_consistent`."""
        last: Exception | None = None
        for attempt in range(5):
            man = self._manifest()
            dirs = [os.path.join(self.path, d) for d in self._dirs(man)]
            if not dirs:
                return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
            try:
                df = spark.read.schema(schema).parquet(*dirs)
            except Exception as exc:  # a dir retired after the load
                last = exc
            else:
                # Spark skips a root path that vanishes between its
                # existence check and its listing: an unchanged
                # manifest proves none of the bound dirs was retired
                if self._manifest() == man:
                    return df
                last = RuntimeError(f"{self.path}: manifest moved during read")
            time.sleep(0.05 * (attempt + 1))
        raise last  # type: ignore[misc]

    def read_consistent(self, spark: SparkSession, schema: str, action,
                        retries: int = 10):
        """Run ``action(df)`` over a COMPLETE store snapshot, retrying
        the whole build+action when a concurrent ``write_batch`` or
        ``compact`` retires files between plan and execution.

        A successful pass means every file bound at plan time was read:
        a retired dir raises (``spark.sql.files.ignoreMissingFiles``
        stays OFF), it never silently drops out. The single-owner
        streaming loop never needs this — it never reads concurrently
        with its own writes."""
        last: Exception | None = None
        for attempt in range(retries):
            try:
                return action(self.read(spark, schema))
            except Exception as exc:
                last = exc
                time.sleep(0.05 * (attempt + 1))
        raise last  # type: ignore[misc]

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        man = self._manifest()
        if bid <= man["watermark"]:
            return  # already folded into the compacted dir: replay no-op
        name = fresh_name(f"batch={bid}-")
        df.write.mode("overwrite").parquet(os.path.join(self.path, name))
        old = man["batches"].get(str(bid))
        man["batches"][str(bid)] = name
        publish(self.path, self.MANIFEST, man, retired=[old] if old else [])

    def compact(
        self, spark: SparkSession, schema: str, keep_recent: int = 8
    ) -> int | None:
        """Fold every batch except the newest ``keep_recent`` (plus the
        prior compacted dir) into one consolidated dir; returns the new
        watermark, or None when there was nothing to fold. Safe to call
        on every trigger: it is a no-op until enough batches accumulate
        (it still reaps aged leftovers), and a crash at ANY point leaves
        the last published manifest, whose dirs are all intact."""
        man = self._manifest()
        ids = sorted(int(b) for b in man["batches"])
        fold = ids[:-keep_recent] if keep_recent > 0 else ids
        if fold:
            srcs = [man["batches"].pop(str(i)) for i in fold]
            if man["compacted"]:
                srcs.append(man["compacted"])
            name = fresh_name("compacted-")
            spark.read.schema(schema).parquet(
                *[os.path.join(self.path, s) for s in srcs]
            ).coalesce(
                max(1, spark.sparkContext.defaultParallelism // 4)
            ).write.mode("overwrite").parquet(os.path.join(self.path, name))
            man["compacted"], man["watermark"] = name, max(fold)
            publish(self.path, self.MANIFEST, man, retired=srcs)
        reap(
            self.path, self._dirs(man), ("batch=", "compacted-"),
            self.reap_grace_s,
        )
        return max(fold) if fold else None
