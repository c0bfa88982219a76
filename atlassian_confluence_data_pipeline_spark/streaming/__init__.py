"""Structured Streaming surface (SURVEY.md §2.9): the reference's
incremental-poll semantics rendered as real streams — windowed aggs with
watermarks, keyed dedup, stateful session windows, and foreachBatch
MERGE into the state ledger. The batch reconciliation sweep that pairs
with it (late-data recovery, master_script.py:482-579) is
``pipeline.run_with_store``, whose ``pipeline.change_set`` sweeps pages
missing from the ledger."""
