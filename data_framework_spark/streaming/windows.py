"""Structured-Streaming analogs of the engine's window operators.

The reference has no streaming at all (SURVEY.md §2.11); this is the
driver-mandated extension. Design rule: every streaming aggregation
has a batch-equivalent DataFrame expression (same `F.window` /
`session_window` calls), so correctness is pinned by the batch oracle
and the streaming tests only have to prove the plan runs
incrementally with watermarked state.

At scale: tumbling/sliding windows shuffle on (window, keys); the
watermark bounds state size — without it a 100 TB/day stream grows
state forever. `10 minutes` here is a test default, not doctrine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_framework_spark.sources.tables import load_table, read_parquet


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window event counts + value sums per event_type.

    Works identically on a batch DataFrame and a readStream one (add
    `withWatermark` upstream for the streaming case).
    """
    # a tumbling window IS a sliding window with slide == width
    # (F.window(ts, w, w) ≡ F.window(ts, w)); delegating keeps the
    # two aggregation bodies from drifting apart (round-9 review)
    return sliding_counts(events, width, width)


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows.

    Same batch/stream duality as tumbling_counts. The state cost is
    (width/slide)× tumbling — the reason production pipelines keep the
    overlap factor small.
    """
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows per user (gap-close semantics): window
    ends `gap` after the last event. The built-in streaming-capable
    counterpart of relational.sessionize_events' lag/cumsum form.
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_tumbling_counts(
    spark: SparkSession, sf_dir: str, width: str = "1 hour"
) -> DataFrame:
    """Streaming variant: parquet source → watermark → tumbling agg.

    Returns the streaming DataFrame (caller starts the query). The
    parquet file source replays the test table as a bounded stream;
    in production the source is Kafka/files with the same plan.
    """
    import os

    from data_framework_spark.session import ensure_session_conventions

    # pin nanosAsLong + UTC before the raw-schema probe: on a
    # TIMESTAMP(NANOS)-generation file under a fresh vanilla session
    # the probe itself would otherwise throw PARQUET_TYPE_ILLEGAL
    ensure_session_conventions(spark)
    path = os.path.join(sf_dir, "events.parquet")
    # use the ON-DISK schema (bigint-nanos or TIMESTAMP_NTZ depending
    # on driver generation), not load_table's converted one — a
    # readStream schema that disagrees with the files mis-reads
    # silently
    raw_schema = read_parquet(spark, path).schema
    # the file stream source requires a directory/glob, not a bare
    # file path — a trailing glob makes the single test file listable
    stream = spark.readStream.schema(raw_schema).parquet(path + "*")
    # normalize ts to TIMESTAMP identically to the batch path
    # (watermarks require TIMESTAMP, not NTZ)
    from data_framework_spark.sources.tables import normalize_ts

    stream = normalize_ts(spark, stream)
    return tumbling_counts(stream.withWatermark("ts", "10 minutes"), width)


def run_stream_to_memory(sdf: DataFrame, name: str) -> None:
    """Drive a bounded streaming query to completion synchronously
    (memory sink)."""
    q = (
        sdf.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


# --- driver-checkable query instantiation (batch-equivalent) ----------------


def q_tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"), "1 hour")


Q_TUMBLING_WINDOW_EVENTS_SQL = """
SELECT
  date_trunc('hour', ts) AS window_start,
  event_type,
  count(*) AS n_events,
  round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(
        load_table(spark, sf_dir, "events"), "1 hour", "30 minutes"
    )


# Each event belongs to exactly two 1h/30m windows: the 30-min bucket
# it falls in and the one before. Both Spark (epoch 1970) and DuckDB
# time_bucket (origin 2000-01-01) align to :00/:30 boundaries, so the
# starts agree.
Q_SLIDING_WINDOW_EVENTS_SQL = """
SELECT window_start, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM (
  SELECT
    unnest([time_bucket(INTERVAL '30 minutes', ts),
            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
      AS window_start,
    event_type,
    value
  FROM events
)
GROUP BY window_start, event_type
"""


def q_session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_agg(load_table(spark, sf_dir, "events"), "30 minutes")


# session_window semantics: a session closes 30 min after its last
# event, so session_end = max(ts) + gap; the lag/gap-flag/cumsum CTE
# reconstructs the same partitions relationally. The split rule is
# STRICTLY greater than the gap: Spark's session_window merges two
# events exactly `gap` apart (verified live — 00:00:00 and 00:30:00
# form ONE session), matching batch sessionize_events' `> 1800`
# (round-9 review; latent at µs resolution where exact-1800 s gaps
# don't occur in the shipped data).
Q_SESSION_WINDOW_EVENTS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
           OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM sessions
GROUP BY user_id, session_idx
"""
