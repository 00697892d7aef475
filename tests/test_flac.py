"""Batch leakage-safe split guard. The file name predates the removal of
the media decoders it once tested; it is kept so the id of the test
that stayed is unchanged."""

import pytest


def test_leakage_safe_split_rejects_existing_split_column(spark):
    # twin symmetry: the batch operator must reject a pre-existing
    # 'split' column exactly like its incremental twin, instead of
    # silently clobbering the caller's assignment
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.curate import (
        leakage_safe_split,
    )

    docs = spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("train").alias("split")
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="split"):
        leakage_safe_split(docs, pairs)
