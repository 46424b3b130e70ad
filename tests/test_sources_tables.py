"""Driver-side helpers of sources/tables.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_collect_bounded_raises_past_its_bound(spark):
    from data_framework_spark.sources.tables import collect_bounded

    df = spark.range(10)
    assert [r["id"] for r in collect_bounded(df, 10, "id")] == list(range(10))
    with pytest.raises(ValueError, match="exceed the declared bound of 9"):
        collect_bounded(df, 9, "id")


def test_collect_bounded_equals_ordered_collect(spark, sf_dir):
    """The driver-side sort gives the rows an `orderBy(key).collect()`
    gives, also from a frame whose tasks return them out of order."""
    from data_framework_spark.sources.tables import collect_bounded, load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 256).select("vec_id", "embedding")
    for df in (seeds, seeds.repartition(7)):
        got = collect_bounded(df, 256, "vec_id")
        assert got == df.orderBy("vec_id").collect()
        assert len(got) == 256
