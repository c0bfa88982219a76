"""Bounds a query enforces inside an eagerly checkpointed stage. The
plan a query returns reads such a stage as an opaque RDD scan, so
``tools/plan_snapshot.py`` cannot see a rewrite inside it; these tests
spy the checkpointed frame and assert on its own optimized plan."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from atlassian_confluence_data_pipeline_spark.plans.curation import (
    FP_MAX_DF,
    containment_candidates,
)


def _tree(df: DataFrame) -> list[tuple[int, str]]:
    """(depth, node) per line of the optimized logical plan."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        (len(line) - len(line.lstrip(" :+-")), line.lstrip(" :+-"))
        for line in text.splitlines()
        if line.strip()
    ]


def _below(tree, upper: str, lower: str) -> bool:
    """Some node matching ``lower`` lies in the subtree of a node
    matching ``upper`` (both regexes)."""
    for i, (depth, node) in enumerate(tree):
        if not re.search(upper, node):
            continue
        for d, n in tree[i + 1:]:
            if d <= depth:
                break
            if re.search(lower, n):
                return True
    return False


def test_containment_posting_lists_are_bounded_before_collect_set(
    spark, sf_dir, monkeypatch
):
    """Each fingerprint's document frequency is counted and gated to
    ``2..FP_MAX_DF`` and semi-joined back BELOW the ``collect_set``
    that builds the posting lists, so no posting-list buffer can grow
    past ``FP_MAX_DF`` elements."""
    checkpointed: list[DataFrame] = []
    frame_type = type(spark.range(1))  # the session's DataFrame class
    local_checkpoint = frame_type.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(self)
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_type, "localCheckpoint", spy)
    containment_candidates(spark, sf_dir)
    postings = [
        t for t in map(_tree, checkpointed)
        if any("collect_set(" in node for _, node in t)
    ]
    assert len(postings) == 1, [t[0] for t in postings]
    tree = postings[0]
    collect = r"^Aggregate .*collect_set\("
    semi = r"^Join LeftSemi"
    gate = rf"^Filter .*\(df#\d+L >= 2\) AND \(df#\d+L <= {FP_MAX_DF}\)"
    assert _below(tree, collect, semi), tree
    assert _below(tree, semi, gate), tree
    assert _below(tree, gate, r"^Aggregate .*count\(1\) AS df#"), tree
