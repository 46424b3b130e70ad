"""Driver-visible proof of the Dataset API surface, composed end to
end: construct a SparkDataset from the events table (two variables on
a shared (hour × user) grid), `add_var`/`add_param`, apply
`Dataset.ndslice` (inclusive timelims + UNSORTED zoom bounds — the
reference sorts them, statmeshvar.py:102-109), select a variable with
`get_vars` substring lookup (vpicdataset.py:206-213, first match
wins), and attach the dataset's most-inclusive `bounds`
(dataset.py:153 documented intent) as constant columns.

Each of those steps has pytest coverage (tests/test_dataset_api.py);
this query makes the composition itself a CORRECTNESS row: the DuckDB
oracle recomputes the same grid, slice, and bounds relationally, so a
regression in any step's semantics — inclusivity, bound sorting,
lookup order, bounds aggregation — breaks the hash.

Scale: the grid build is one groupBy shuffle; slicing is a pushed-down
filter on the grouped result; bounds is a scalar aggregate
broadcast back as literals (bounded metadata, like the reference's
params).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_framework_spark import artifacts
from data_framework_spark.dataset import SparkDataset
from data_framework_spark.sources.tables import load_table
from data_framework_spark.variable import SparkVariable

# hour index of 2024-01-01T00:00Z, the events epoch
_H0 = 1_704_067_200 // 3600


def _events_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ndslice below keeps hours [H0+24, H0+72]; hand the enclosing
    # ts range to the loader as a coarse raw-column predicate so the
    # scan prunes row groups (the exact slice still applies on t)
    ev = load_table(
        spark,
        sf_dir,
        "events",
        ts_between=("2024-01-02 00:00:00", "2024-01-04 01:00:00"),
    )
    return (
        ev.withColumn("t", F.floor(F.unix_micros("ts") / 3_600_000_000).cast("double"))
        .withColumn("i0", F.col("user_id"))
        .groupBy("t", "i0")
        .agg(
            F.round(F.avg("value"), 6).alias("mean_value"),
            F.count(F.lit(1)).cast("double").alias("event_rate"),
        )
        .withColumn("c0", F.col("i0").cast("double"))
    )


def q_dataset_api_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cache: bounds() + the variable's timeseries/mesh properties each
    # launch a job over the grid; without this every one re-runs the
    # events groupBy (bounded: one row per (hour, user) cell). The
    # grid backs the lazy returned frame, so it stays held until the
    # next invocation releases it.
    grid = artifacts.hold(spark, "dataset_grid", _events_grid(spark, sf_dir))
    base = ["t", "i0", "c0"]
    ds = SparkDataset()
    ds.add_var(
        SparkVariable(
            "mean_value", grid.select(*base, F.col("mean_value").alias("value")), 1
        )
    )
    ds.add_var(
        SparkVariable(
            "event_rate", grid.select(*base, F.col("event_rate").alias("value")), 1
        )
    )
    ds.add_param("source", "events")

    # inclusive timelims; zoom bounds deliberately UNSORTED (the API
    # sorts them) — days 2-4 of the stream, users 2..12
    sliced = ds.ndslice(
        timelims=[_H0 + 24, _H0 + 72], zooms=[[12.0, 2.0]]
    )
    picked = sliced.get_vars(["mean"])  # substring lookup, first match
    (var,) = picked.values()

    b = sliced.bounds(time=True, space=True)  # [[t0,t1],[c0lo,c0hi]]
    return (
        var.df.select("t", "i0", "c0", "value")
        .withColumn("b_t_min", F.lit(float(b[0][0])))
        .withColumn("b_t_max", F.lit(float(b[0][1])))
        .withColumn("b_c0_min", F.lit(float(b[1][0])))
        .withColumn("b_c0_max", F.lit(float(b[1][1])))
        .orderBy("t", "i0")
    )


# epoch_us // 3600e6, not epoch(ts)::BIGINT // 3600: epoch() is
# DOUBLE and the BIGINT cast ROUNDS, pushing hh:59:59.5+ events into
# the next hour while Spark floors (round-9 review; latent here only
# because the misbucketable events fall outside the slice). Integer
# truncation == floor for positive (post-1970) epochs.
Q_DATASET_API_EVENTS_SQL = f"""
WITH cells AS (
  SELECT (epoch_us(ts) // 3600000000)::DOUBLE AS t,
         user_id AS i0,
         user_id::DOUBLE AS c0,
         round(avg(value), 6) AS value
  FROM events
  GROUP BY 1, 2, 3
),
sliced AS (
  SELECT * FROM cells
  WHERE t BETWEEN {_H0 + 24} AND {_H0 + 72}
    AND c0 BETWEEN 2.0 AND 12.0
),
b AS (
  SELECT min(t) AS b_t_min, max(t) AS b_t_max,
         min(c0) AS b_c0_min, max(c0) AS b_c0_max
  FROM sliced
)
SELECT s.t, s.i0, s.c0, s.value,
       b.b_t_min, b.b_t_max, b.b_c0_min, b.b_c0_max
FROM sliced s CROSS JOIN b
ORDER BY s.t, s.i0
"""
