"""K1 as an OFFICIAL Spark sink: a Python Data Source V2 *writer* for
the reference's one-HTML-file-per-page output
(html_generator.py:50-64 — ``html/{space}/{new|updated}/{name}.html``).

It writes through Spark's writer commit protocol
(``DataSourceWriter.write/commit/abort``), which is what a production
file sink actually needs:

- every task writes its rows into a PRIVATE staging directory
  (``{path}/_staging/{uuid}/``) and reports the manifest in its
  WriterCommitMessage — a failed/retried task never touches the
  destination;
- the driver's ``commit`` fails on duplicate filenames across
  partitions (no silent last-write-wins), publishes all staged files
  with atomic renames, records the published names in ``_MANIFEST``,
  and stamps ``_SUCCESS`` last, so readers see either the whole output
  or none of it (the StateStore pointer-flip discipline, applied to a
  file sink). Overwrite mode retracts only files listed in the prior
  ``_MANIFEST`` — never unrelated files in the destination;
- ``abort`` removes all staging output, leaving any previously
  published run untouched.

Usage::

    df.write.format("confluence_html").mode("append"|"overwrite")
      .option("filename_col", "filename").option("content_col", "html")
      .save(path)
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType

STAGING = "_staging"

#: Names the sink itself manages inside the destination directory. A row
#: carrying one of these would clobber (or be clobbered by) the sink's own
#: metadata — or, for STAGING, make the publish os.replace fail mid-commit —
#: so write() rejects them up front alongside path separators.
RESERVED_NAMES = frozenset({"_MANIFEST", "_MANIFEST.tmp", "_SUCCESS", STAGING})


@dataclass
class _Manifest(WriterCommitMessage):
    staging_dir: str
    filenames: list


class HtmlFileWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("confluence_html sink requires a path")
        self.filename_col = options.get("filename_col", "filename")
        self.content_col = options.get("content_col", "html")
        self.overwrite = overwrite

    def write(self, iterator: Iterator[Row]) -> WriterCommitMessage:
        staging = os.path.join(self.path, STAGING, uuid.uuid4().hex)
        os.makedirs(staging, exist_ok=True)
        names = []
        for row in iterator:
            name = row[self.filename_col]
            if os.sep in name or name.startswith(".") or name in RESERVED_NAMES:
                raise ValueError(f"unsafe filename {name!r} (sanitize upstream)")
            with open(os.path.join(staging, name), "w") as fh:
                fh.write(row[self.content_col] or "")
            names.append(name)
        return _Manifest(staging_dir=staging, filenames=names)

    def commit(self, messages) -> None:
        # A duplicate filename across rows/partitions would silently
        # last-write-win in arbitrary message order — fail the commit
        # instead (nothing is published yet; staging is swept), the same
        # contract as a Hive table rejecting duplicate partition paths.
        # Speculative/failed tasks can surface as None commit messages —
        # drop them (same guard as AuditLogStreamWriter.commit) so one
        # doesn't fail the job after every real task succeeded.
        messages = [m for m in messages if m is not None]
        seen: set = set()
        dupes: set = set()
        for m in messages:
            for name in m.filenames:
                (dupes if name in seen else seen).add(name)
        if dupes:
            shutil.rmtree(os.path.join(self.path, STAGING), ignore_errors=True)
            sample = sorted(dupes)[:5]
            raise ValueError(
                f"confluence_html sink: {len(dupes)} duplicate filename(s) "
                f"across partitions (e.g. {sample}); make filename_col "
                "unique upstream"
            )
        if self.overwrite:
            # only retract files THIS sink published in a prior epoch
            # (recorded in _MANIFEST) — never unrelated files that happen
            # to live in the destination directory. Drop the prior run's
            # _SUCCESS marker BEFORE retraction begins so a concurrent
            # reader never observes _SUCCESS next to a half-retracted
            # directory; commit re-stamps it last.
            success = os.path.join(self.path, "_SUCCESS")
            if os.path.exists(success):
                os.remove(success)
            prior = os.path.join(self.path, "_MANIFEST")
            if os.path.exists(prior):
                with open(prior) as fh:
                    for name in fh.read().splitlines():
                        target = os.path.join(self.path, name)
                        if name and os.path.isfile(target):
                            os.remove(target)
        for m in messages:
            for name in m.filenames:
                os.replace(
                    os.path.join(m.staging_dir, name),
                    os.path.join(self.path, name),
                )
        shutil.rmtree(os.path.join(self.path, STAGING), ignore_errors=True)
        manifest_tmp = os.path.join(self.path, "_MANIFEST.tmp")
        published = sorted(seen)
        if not self.overwrite:
            prior = os.path.join(self.path, "_MANIFEST")
            if os.path.exists(prior):
                with open(prior) as fh:
                    published = sorted(
                        seen | {n for n in fh.read().splitlines() if n}
                    )
        with open(manifest_tmp, "w") as fh:
            fh.write("\n".join(published))
        os.replace(manifest_tmp, os.path.join(self.path, "_MANIFEST"))
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write("")

    def abort(self, messages) -> None:
        # failed tasks may not have reported a manifest; sweep the whole
        # staging area — published output is never touched
        shutil.rmtree(os.path.join(self.path, STAGING), ignore_errors=True)


class HtmlFileSinkDataSource(DataSource):
    """``df.write.format("confluence_html")`` — options: path (via
    ``save(path)``), filename_col, content_col."""

    @classmethod
    def name(cls) -> str:
        return "confluence_html"

    def schema(self) -> str:  # pragma: no cover - writer-only source
        return "filename string, html string"

    def writer(self, schema: StructType, overwrite: bool) -> HtmlFileWriter:
        return HtmlFileWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotent registration + worker shipping (same contract as the
    reader source)."""
    from atlassian_confluence_data_pipeline_spark.pyfiles import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers(spark)
    spark.dataSource.register(HtmlFileSinkDataSource)
