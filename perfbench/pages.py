"""Seeded page batches for the ``etl_refresh`` workload.

Rows come from ``spark.read.format("confluence_pages")`` and are reshaped
into the nested ``pages`` schema of FIXTURES.md section B, with a
1-5 KB storage-format body that holds a ``<script>``, CDATA, a code
macro, an ``ac:image`` and the ``PAGE_ID`` template token.

Batch 0 is the backfill: ``n_base`` pages, all dated 2025, so against an
empty ledger every page reaches the pipeline through the reconciliation
sweep. Refresh batch ``b`` (1..K) then

- bumps the version of every base page whose seeded bucket is ``b - 1``
  (``BUCKETS`` buckets, so about 2% of pages) and dates it inside the
  batch's lookback window: these are the CDC ``updated`` rows;
- adds ``n_add`` new pages; even ids are dated inside the window, odd
  ids keep their 2025 date and are found only by the reconciliation
  sweep. All of them are CDC ``new`` rows.

``expected_counts`` recomputes the change set in plain Python, so the
benchmark can check the pipeline's counters exactly.
"""

from __future__ import annotations

from datetime import date, timedelta

N_SPACES = 5
BUCKETS = 50
_MUL, _SALT, _MOD = 2654435761, 40503, 1_000_003
DAY0 = date(2026, 1, 1)

_PARA = (
    "<p>Release notes for the storage layer: the ledger is rewritten as one "
    "snapshot per run, readers follow the pointer file, and stale snapshots "
    "are vacuumed after three runs.</p>"
)
_SCRIPT = '<script type="text/javascript">window.track("page-view");</script>'
_CDATA = "<![CDATA[raw export notes]]>"
_CODE = (
    '<ac:structured-macro ac:name="code"><ac:parameter ac:name="language">'
    "python</ac:parameter><ac:plain-text-body><![CDATA[def run(pages):\n"
    "    return [p for p in pages if p.changed]]]></ac:plain-text-body>"
    "</ac:structured-macro>"
)
_IMAGE = (
    '<ac:image ac:align="center" ac:title="Flow"><ri:attachment '
    'ri:filename="flow.png"/></ac:image>'
)
_LINK = '<a href="/pages/viewpage.action?pageId=PAGE_ID">permalink</a>'


def bucket(i: int, seed: int) -> int:
    return (i * _MUL + seed * _SALT) % _MOD % BUCKETS


def cutoff(batch: int) -> str:
    """Lookback cutoff of a batch: the first day of its window."""
    return (DAY0 + timedelta(days=batch)).isoformat()


def n_pages(batch: int, n_base: int, n_add: int) -> int:
    return n_base + batch * n_add


def expected_counts(batch: int, n_base: int, n_add: int, seed: int) -> dict:
    """``n_new``/``n_updated`` of one batch and the ledger size after it."""
    updated, new = changed_ids(batch, n_base, n_add, seed)
    return {
        "n_new": len(new),
        "n_updated": len(updated),
        "ledger_rows": n_pages(batch, n_base, n_add),
    }


def pages_frame(spark, batch: int, n_base: int, n_add: int, seed: int):
    """The ``pages`` DataFrame a batch's run reads."""
    from pyspark.sql import functions as F

    src = (
        spark.read.format("confluence_pages")
        .option("n_pages", n_pages(batch, n_base, n_add))
        .option("n_spaces", N_SPACES)
        .load()
    )
    i = F.col("id").cast("bigint")
    b = F.pmod(i * _MUL + F.lit(seed * _SALT), F.lit(_MOD)) % BUCKETS
    is_base = i < n_base
    bumped = is_base & (b < batch)
    new_batch = F.floor((i - n_base) / n_add) + 1 if n_add else F.lit(0)
    day = lambda offset: F.date_add(F.lit(DAY0.isoformat()).cast("date"), offset)  # noqa: E731
    when = (
        F.when(bumped, F.to_timestamp(day((b + 1).cast("int"))) + F.expr("INTERVAL 9 HOURS"))
        .when(~is_base & (i % 2 == 0), F.to_timestamp(day(new_batch.cast("int"))) + F.expr("INTERVAL 10 HOURS"))
        .otherwise(F.col("last_modified"))
    )
    number = F.col("version") + bumped.cast("int")
    paras = F.expr(f"repeat('{_PARA}', 4 + pmod(hash(id, {seed}, version), 20))")
    body = F.concat(
        F.lit("<h1>"), F.col("title"), F.lit("</h1><p>Version "), number.cast("string"),
        F.lit("</p>" + _SCRIPT), paras, F.lit(_CDATA + _CODE + _IMAGE + _LINK),
    )
    child = "named_struct('id', cast(cast(id AS bigint) * 4 + k + 1 AS string))"
    return src.select(
        F.col("id"),
        F.col("title"),
        F.struct(F.col("space_key").alias("key")).alias("space"),
        F.struct(number.alias("number"), when.alias("when")).alias("version"),
        F.struct(F.struct(body.alias("value")).alias("storage")).alias("body"),
        F.expr(f"transform(array_repeat(0, n_children), (x, k) -> {child})").alias("children"),
        F.array(F.struct(F.floor(i / 4).cast("string").alias("id"))).alias("ancestors"),
    )


def version_of(i: int, batch: int, n_base: int, seed: int) -> int:
    """Version number page ``i`` carries in ``batch``."""
    return i % 7 + 1 + (1 if i < n_base and bucket(i, seed) < batch else 0)


def changed_ids(batch: int, n_base: int, n_add: int, seed: int) -> tuple[list, list]:
    """(updated ids, new ids) of a refresh batch; the backfill's are all new."""
    if batch == 0:
        return [], list(range(n_base))
    updated = [i for i in range(n_base) if bucket(i, seed) == batch - 1]
    lo = n_pages(batch - 1, n_base, n_add)
    return updated, list(range(lo, lo + n_add))
