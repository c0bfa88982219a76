"""Queries on degenerate inputs: an empty documents table and one whose
text is all null must return the query's declared schema with no rows,
not raise on an undefined eager scalar. Likewise a BPE fit with no
adjacent symbol pair to merge, connected components over no pairs, and
the Markov fit over events with no transition, one event type, or more
transitions than its bound."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from atlassian_confluence_data_pipeline_spark.operators.graph import (
    connected_components,
)
from atlassian_confluence_data_pipeline_spark.plans.curation2 import (
    bpe_merge_iterations,
    bpe_token_census,
)
from atlassian_confluence_data_pipeline_spark.plans import structure
from atlassian_confluence_data_pipeline_spark.plans._cache import (
    event_transition_counts,
)
from atlassian_confluence_data_pipeline_spark.plans.pretrain import (
    interpolated_lm_perplexity,
)
from atlassian_confluence_data_pipeline_spark.plans.structure import (
    MarkovGridTooLarge,
    markov_stationary_events,
)


@pytest.mark.parametrize("n_docs", [0, 5], ids=["empty", "all_null_text"])
def test_interpolated_lm_perplexity_on_no_text(spark, sf_dir, tmp_path, n_docs):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    declared = interpolated_lm_perplexity(spark, sf_dir).schema
    degenerate = docs.limit(n_docs).selectExpr(
        *[
            "CAST(NULL AS STRING) AS text" if c == "text" else c
            for c in docs.columns
        ]
    )
    degenerate.write.parquet(str(tmp_path / "documents.parquet"))
    out = interpolated_lm_perplexity(spark, str(tmp_path))
    assert out.schema == declared
    assert out.collect() == []


@pytest.mark.parametrize(
    "texts, census",
    [([], []), (["a b a", "c"], [("a", 2, 1), ("b", 1, 2), ("c", 1, 3)])],
    ids=["empty", "one_symbol_words"],
)
def test_bpe_token_census_with_no_pair_to_merge(spark, sf_dir, tmp_path, texts, census):
    """No word with two symbols means no merge: the fit stops, and the
    census counts the unmerged symbols (none on an empty table)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    declared = bpe_token_census(spark, sf_dir).schema
    rows = docs.limit(len(texts)).collect()
    degenerate = spark.createDataFrame(
        [r.asDict() | {"text": t} for r, t in zip(rows, texts)], docs.schema
    )
    degenerate.write.parquet(str(tmp_path / "documents.parquet"))
    out = bpe_token_census(spark, str(tmp_path))
    assert out.schema == declared
    assert [tuple(r) for r in out.orderBy("rnk").collect()] == census
    assert bpe_merge_iterations(spark, str(tmp_path)).collect() == []


def test_connected_components_over_no_pairs(spark):
    pairs = spark.createDataFrame([], "a bigint, b bigint")
    stats: dict = {}
    out = connected_components(pairs, "a", "b", stats=stats)
    assert out.collect() == []
    assert stats == {"rounds": 1, "escalated": False}
    assert out.columns == ["node", "component"]


def _events_variant(sf_dir, tmp_path, case):
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    if case == "empty":
        ev = ev.slice(0, 0)
    elif case == "one_event_per_user":
        first = ev.to_pandas().drop_duplicates("user_id").index.to_numpy()
        ev = ev.take(pa.array(first))
    elif case == "one_event_type":
        i = ev.schema.get_field_index("event_type")
        ev = ev.set_column(i, "event_type", pa.array(["view"] * ev.num_rows))
    pq.write_table(ev, str(tmp_path / "events.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize(
    "case, want",
    [("empty", []), ("one_event_per_user", []), ("one_event_type", [("view", 1.0, 0.0)])],
)
def test_markov_stationary_events_on_degenerate_events(spark, sf_dir, tmp_path, case, want):
    """No transition gives no state; one event type is its own fixpoint.
    The result is literal rows in the plan: no Python-backed relation
    and no Python evaluation, so an empty result starts no Python
    worker."""
    declared = markov_stationary_events(spark, sf_dir).schema
    out = markov_stationary_events(spark, _events_variant(sf_dir, tmp_path, case))
    assert out.schema == declared
    assert [tuple(r) for r in out.collect()] == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ExistingRDD" not in plan, plan


def test_markov_stationary_events_refuses_a_grid_over_its_bound(
    spark, sf_dir, monkeypatch
):
    n_cells = event_transition_counts(spark, sf_dir).count()
    monkeypatch.setattr(structure, "MARKOV_MAX_TRANSITIONS", n_cells - 1)
    with pytest.raises(MarkovGridTooLarge):
        markov_stationary_events(spark, sf_dir)
