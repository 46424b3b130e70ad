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


# --- the parquet schema memo -------------------------------------------------


@pytest.fixture
def table_copy(tmp_path, sf_dir):
    """A data directory holding a fresh copy of the embeddings table, so
    the schema memo has never seen its path."""
    import shutil

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copyfile(f"{sf_dir}/embeddings.parquet", d / "embeddings.parquet")
    return str(d)


def test_second_load_starts_no_job(spark, table_copy, jobs_started):
    """The first load infers the schema (one footer-reading job); the
    second replays the memoized schema and starts none."""
    from data_framework_spark.sources.tables import load_table

    assert jobs_started(spark, lambda: load_table(spark, table_copy, "embeddings")) >= 1
    assert jobs_started(spark, lambda: load_table(spark, table_copy, "embeddings")) == 0


def test_memo_served_frame_equals_inferred(spark, table_copy, jobs_started):
    """The replayed schema gives the frame inference gives: same schema,
    same semantics and the same stable plan fingerprint, so caches keyed
    on the plan (the PQ books) keep their keys."""
    from data_framework_spark.similarity.pq import _stable_plan_fp
    from data_framework_spark.sources.tables import load_table

    load_table(spark, table_copy, "embeddings")
    served = []
    assert jobs_started(
        spark, lambda: served.append(load_table(spark, table_copy, "embeddings"))
    ) == 0
    inferred = spark.read.parquet(f"{table_copy}/embeddings.parquet")
    assert served[0].schema == inferred.schema
    assert served[0].sameSemantics(inferred)
    assert _stable_plan_fp(served[0]) == _stable_plan_fp(inferred)


def test_rewritten_file_is_reinferred(spark, table_copy, jobs_started):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_framework_spark.sources.tables import load_table

    path = f"{table_copy}/embeddings.parquet"
    assert "extra" not in load_table(spark, table_copy, "embeddings").columns
    t = pq.read_table(path)
    pq.write_table(t.append_column("extra", pa.array(range(t.num_rows))), path)
    got = []
    assert jobs_started(
        spark, lambda: got.append(load_table(spark, table_copy, "embeddings"))
    ) >= 1
    assert got[0].columns[-1] == "extra"


def test_flipped_inference_conf_is_reinferred(spark, tmp_path):
    """`spark.sql.parquet.binaryAsString` changes the inferred type of a
    binary column, so it is part of the memo key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_framework_spark.sources.tables import read_parquet

    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    assert read_parquet(spark, path).dtypes == [("b", "binary")]
    spark.conf.set(key, "true")
    try:
        assert read_parquet(spark, path).dtypes == [("b", "string")]
    finally:
        spark.conf.unset(key)
    assert read_parquet(spark, path).dtypes == [("b", "binary")]
