"""The reference's end-to-end incremental flow, composed from engine
operators (SURVEY.md §3, E3 'daily incremental' + E1 'space refresh').

Reference control flow (master_script.py:456-581): CQL-window scan of
updated pages -> reconciliation sweep for pages missing from the state
ledger -> per-page CDC version check -> HTML transform chain -> sinks ->
state upsert -> grouped run statistics. Here the whole run is ONE
declarative plan per phase with set-level operators: no per-row loops,
no per-row state rewrites. ``run_with_store`` materialises the
transformed change set once, so the ledger publish, the caller's sink
and the stats all read that one result instead of re-running the
source scan, the CDC join and the pandas UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.functions.html import (
    make_clean_html_udf,
)
from atlassian_confluence_data_pipeline_spark.functions.text import (
    sanitize_filename,
    substitute_page_id,
)
from atlassian_confluence_data_pipeline_spark.operators.state import (
    StateStore,
    merge_state,
)


@dataclass
class RefreshResult:
    processed: DataFrame  # transformed rows + change_type
    new_state: DataFrame  # merged ledger after the run
    stats: DataFrame  # grouped run statistics (A1)
    metrics: dict | None = None  # observed run counters (see run_with_store)


def change_set(
    pages: DataFrame,
    state: DataFrame,
    lookback_cutoff: str,
    check_missing: bool = True,
) -> DataFrame:
    """The pages a run must process, tagged ``change_type`` new/updated.

    Same rows as ``cdc_delta(union_dedup(window, anti_join(pages,
    ledger)), ledger)`` — window scan, reconciliation sweep and CDC —
    from ONE scan of ``pages`` and one left join against the ledger's
    ``(id, version, present)``:

    - a row is a candidate when it is in the lookback window
      (``version.when >= cutoff``, inclusive boundary day), or, with
      ``check_missing``, when its id is absent from the ledger;
    - one candidate per id survives, in-window rows first;
    - it is ``new`` when the ledger holds no version for it and
      ``updated`` when the ledger's version is older; otherwise it is
      dropped (state_manager.py:72). A ledger row with a NULL version
      is present, so it is not swept as missing, yet classifies ``new``
      when its page is in the window.
    """
    ledger = state.select(
        "id", F.col("version").alias("__v_state"), F.lit(True).alias("__present")
    )
    joined = pages.join(ledger, "id", "left").withColumn(
        "__in_window",
        F.coalesce(
            F.col("version.when") >= F.lit(lookback_cutoff).cast("timestamp"),
            F.lit(False),
        ),
    )
    keep = F.col("__in_window")
    if check_missing:
        keep = keep | F.col("__present").isNull()
    first = Window.partitionBy("id").orderBy(F.col("__in_window").desc())
    is_new = F.col("__v_state").isNull()
    is_updated = F.col("__v_state") < F.col("version.number")
    return (
        joined.filter(keep)
        .withColumn("__rn", F.row_number().over(first))
        .filter((F.col("__rn") == 1) & (is_new | is_updated))
        .withColumn(
            "change_type", F.when(is_new, F.lit("new")).otherwise(F.lit("updated"))
        )
        .drop("__v_state", "__present", "__in_window", "__rn")
    )


def _transform(
    delta: DataFrame, base_url: str, observation: Observation | None
) -> DataFrame:
    """clean_html + PAGE_ID substitution + filename sanitization over the
    change set, with the run counters observed on the result."""
    clean_udf = make_clean_html_udf(base_url)
    processed = delta.select(
        "id",
        "title",
        F.col("space.key").alias("space_key"),
        F.col("version.number").alias("version"),
        F.date_format("version.when", "yyyy-MM-dd'T'HH:mm:ss").alias("last_modified"),
        "change_type",
        substitute_page_id(
            clean_udf(F.col("body.storage.value")), F.col("id")
        ).alias("html"),
        F.concat(
            sanitize_filename(F.col("title")), F.lit("_"), F.col("id"), F.lit(".html")
        ).alias("filename"),
    )
    if observation is not None:
        processed = processed.observe(
            observation,
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.when(F.col("change_type") == "new", 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("change_type") == "updated", 1).otherwise(0))
            .cast("bigint")
            .alias("n_updated"),
            F.sum(F.when(F.col("html").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_failed_html"),
            F.coalesce(F.sum(F.length("html")), F.lit(0))
            .cast("bigint")
            .alias("html_chars"),
        )
    return processed


def _results(state: DataFrame, processed: DataFrame) -> RefreshResult:
    """The merged ledger and the grouped stats, both derived from
    ``processed``."""
    ledger_updates = processed.select(
        "id",
        "title",
        "space_key",
        "version",
        "last_modified",
        F.create_map(
            F.lit("html"),
            F.concat_ws(
                "/", F.lit("html"), F.col("space_key"), F.col("change_type"), F.col("filename")
            ),
        ).alias("output_paths"),
    )
    stats = processed.groupBy("space_key", "change_type").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.when(F.col("html").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_html"),
    )
    return RefreshResult(processed, merge_state(state, ledger_updates), stats)


def incremental_refresh(
    pages: DataFrame,
    state: DataFrame,
    lookback_cutoff: str,
    base_url: str = "https://example.org/wiki",
    check_missing: bool = True,
    observation: Observation | None = None,
) -> RefreshResult:
    """One incremental run over a `pages` frame (FIXTURES.md §B schema),
    as LAZY frames: nothing runs until the caller acts on them, and each
    action on ``processed``, ``new_state`` or ``stats`` re-runs the scan,
    the CDC and the UDF. ``run_with_store`` is the eager form.

    Phases:
      1-3. change set  — window scan (version.when >= cutoff, S4/P2;
                         the timestamp compare keeps the reference's
                         inclusive-boundary-day lexical semantics,
                         SURVEY §1.2), reconciliation of pages missing
                         from the ledger (J1; master_script.py:482-579)
                         unless ``check_missing`` is off
                         (--no_check_missing analog), and the CDC
                         version check (J3) — see :func:`change_set`
      4. transform     — clean_html pandas UDF + PAGE_ID substitution +
                         filename sanitization (F1-F5)
      5. state merge   — last-write-wins MERGE (K3)
      6. stats         — grouped outcome counts (A1)

    With ``observation``, ``processed`` is instrumented with
    ``observe()`` so the run counters the reference tallies row-by-row
    (master_script.py:106-113, 294-300) are gathered by the first
    action that runs it; read them with ``observation.get`` afterwards.
    """
    delta = change_set(pages, state, lookback_cutoff, check_missing)
    return _results(state, _transform(delta, base_url, observation))


def run_with_store(
    spark: SparkSession,
    pages: DataFrame,
    store: StateStore,
    lookback_cutoff: str,
    base_url: str = "https://example.org/wiki",
    check_missing: bool = True,
) -> RefreshResult:
    """incremental_refresh against a persistent StateStore: read ledger,
    run, atomically publish the merged snapshot. Re-running with no new
    page versions is a no-op (idempotence — state_manager.py:72
    semantics; property-tested).

    ``processed`` is materialised once (``localCheckpoint``): that pass
    runs the source scan, the CDC and the pandas UDF once and fills the
    run counters (``result.metrics``, the reference's end-of-run report,
    master_script.py:590-609). The published ledger, ``stats`` and the
    returned ``processed`` all read the materialised frame, so sinking
    ``processed`` or collecting ``stats`` re-runs none of them."""
    state = store.read(spark)
    obs = Observation()
    delta = change_set(pages, state, lookback_cutoff, check_missing)
    processed = _transform(delta, base_url, obs).localCheckpoint(eager=True)
    result = _results(state, processed)
    merged = result.new_state.localCheckpoint(eager=True)
    store.write(merged)
    return RefreshResult(processed, merged, result.stats, dict(obs.get))
