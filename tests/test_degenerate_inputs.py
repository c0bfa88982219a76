"""Queries on degenerate inputs: an empty documents table and one whose
text is all null must return the query's declared schema with no rows,
not raise on an undefined eager scalar."""

from __future__ import annotations

import pytest

from atlassian_confluence_data_pipeline_spark.plans.pretrain import (
    interpolated_lm_perplexity,
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
