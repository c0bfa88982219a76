"""``catalog.load_table`` infers a table's schema once per session and
binds it on later reads, keyed by the table's files."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from tests.test_state_and_pipeline import _launched


def test_second_load_of_the_same_file_launches_no_job(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path)
    first, jobs, _ = _launched(spark, lambda: load_table(spark, str(tmp_path), "documents"))
    assert jobs == 1  # the schema inference
    second, jobs, _ = _launched(spark, lambda: load_table(spark, str(tmp_path), "documents"))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewriting_the_file_at_the_same_path_reinfers(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/documents.parquet", tmp_path)
    assert "extra" not in load_table(spark, str(tmp_path), "documents").columns
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "extra": [1, 1, 1]}),
        str(tmp_path / "documents.parquet"),
    )
    after = load_table(spark, str(tmp_path), "documents")
    assert after.columns == ["doc_id", "extra"]
    assert after.count() == 3


def test_memo_hit_keeps_the_events_ts_normalisation(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/events.parquet", tmp_path)
    first = load_table(spark, str(tmp_path), "events")
    second, jobs, _ = _launched(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert dict(second.dtypes)["ts"] == dict(first.dtypes)["ts"] == "timestamp"
    assert sorted(second.select("event_id", "ts").collect()) == sorted(
        first.select("event_id", "ts").collect()
    )


def test_a_parquet_directory_is_memoized_and_rewrites_reinfer(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")
    spark.range(6).select(F.col("id").alias("doc_id")).repartition(3).write.parquet(path)
    first, jobs, _ = _launched(spark, lambda: load_table(spark, str(tmp_path), "documents"))
    assert jobs == 1 and first.count() == 6
    second, jobs, _ = _launched(spark, lambda: load_table(spark, str(tmp_path), "documents"))
    assert jobs == 0 and second.count() == 6
    spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).write.mode("overwrite").parquet(path)
    third = load_table(spark, str(tmp_path), "documents")
    assert third.columns == ["doc_id", "text"] and third.count() == 4
