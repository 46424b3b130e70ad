"""Custom stateful streaming operators (`applyInPandasWithState`).

The built-in windows in streaming/windows.py cover time-bucketed
aggregation; this module is the CUSTOM-state path — per-key state the
engine can't express with `window`/`session_window`, carried across
micro-batches by the state store. The demonstrator is a per-user
running accumulator (event count + value total emitted on every
update), the minimal shape of online feature stores / per-entity
counters in a training-data pipeline.

Execution model: each micro-batch groups its rows by key, the kernel
reads the key's state (Arrow-batched pandas in, pandas out), folds
the new rows, writes the state back. State lives in the checkpointed
state store, partitioned by key — at 100 TB/day the knobs that matter
are key cardinality (state size) and a timeout policy to evict idle
keys (`GroupStateTimeout` — NoTimeout here because the bounded test
source finishes; production uses ProcessingTimeTimeout).

The batch-equivalence contract (same rule as streaming/windows.py):
after the bounded source drains, the LAST update emitted per user
must equal the plain batch `groupBy(user).agg(count, sum)` — that is
exactly what the driver-checked query below asserts against DuckDB.
"""

from __future__ import annotations

import os
import threading
import uuid
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_framework_spark.sources.tables import load_table

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n bigint, total double"

def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user running (count, total) across micro-batches.

    Works on any DataFrame with user_id/value; on a streaming input
    each micro-batch folds into the key's persisted state and emits
    the updated running row (outputMode=update downstream).
    """

    def track(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import math

        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        # half-away-from-zero: the oracle's SQL round(); Python's
        # builtin round is banker's and diverges on an exactly-
        # representable .xx5 total (round-10 review, the recurring
        # rounding class)
        r2 = math.copysign(
            math.floor(abs(total) * 100 + 0.5) / 100, total
        ) + 0.0
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [r2],
            }
        )

    # prune to the two consumed columns BEFORE the stateful UDF:
    # applyInPandasWithState Arrow-ships every input column of every
    # group to the Python worker — no automatic column pruning through
    # a Python UDF boundary. At sf0.1 the full events row set doubled
    # the per-batch cost (~1.15 s -> ~0.5 s addBatch, r15 probe); at
    # 100 TB an unpruned stateful UDF ships the whole table.
    return stream.select("user_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        track,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def chunked_events_source(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """Split the events table into time-ordered chunk files and open
    them as a one-file-per-trigger stream — the bounded stand-in for
    a live source that forces genuinely incremental execution.

    The split is executor-side: approximate time quantiles bound each
    chunk, and each chunk is written by a Spark job (no driver
    materialization of the table — at production scale the chunks
    would simply BE the incoming files). coalesce(1) keeps one file
    per chunk so maxFilesPerTrigger=1 yields exactly n_chunks
    micro-batches. The chunk set is an index-cache artifact
    (`formats.persistent_index_dir`): every streaming query over the
    same replay, in this session or a later one, reuses one write,
    and a rewrite of sf_dir re-splits instead of replaying stale
    chunks. The chunks sit in a `chunks/` subdirectory so the
    file-stream source does not list the artifact's manifest.
    """
    from data_framework_spark.sources.formats import persistent_index_dir

    ev = load_table(spark, sf_dir, "events")
    path = persistent_index_dir(
        sf_dir,
        "events_chunks_",
        lambda p: _write_chunks(ev, p, n_chunks),
        params={"fmt": 1, "n_chunks": n_chunks},
    )
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(path, "chunks"))
    )


def _write_chunks(ev: DataFrame, path: str, n_chunks: int) -> None:
    import glob
    import shutil

    # ONE distributed job: range-partition on ts into n_chunks
    # partitions (the range partitioner samples the distribution
    # itself — no separate quantile pass) and write one part file per
    # time-ordered chunk
    stage = os.path.join(path, "stage")
    ev.repartitionByRange(n_chunks, F.col("ts")).write.mode(
        "overwrite"
    ).parquet(stage)
    parts = sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
    assert len(parts) == n_chunks, f"expected {n_chunks} parts, got {len(parts)}"
    chunks = os.path.join(path, "chunks")
    os.makedirs(chunks)
    for i, part in enumerate(parts):
        p = os.path.join(chunks, f"chunk-{i}.parquet")
        os.rename(part, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    shutil.rmtree(stage)


def run_stateful_to_completion(
    spark: SparkSession,
    stream_out: DataFrame,
    output_mode: str = "update",
    shuffle_partitions: int = 8,
) -> tuple[DataFrame, list[Any]]:
    """Drive a stateful streaming plan over its bounded source; returns
    (DataFrame of ALL emitted rows, query progress). The memory-sink
    temp view is copied out and DROPPED before returning — each run
    otherwise pins its full emitted-row set in driver memory for the
    session's lifetime (round-9 review). The emitted sets here are
    bounded (per-key updates / distinct pairs / windowed matches), and
    every caller materializes them to the driver anyway.

    Stateful streaming maintains one state store (four for
    stream-stream joins) per shuffle partition per micro-batch, so
    `shuffle_partitions` follows a per-plan tradeoff (r14 verdict
    ask 4, measured at sf0.1): applyInPandasWithState over many keys
    wants PARALLEL Python workers (user-totals: 8 partitions beat 2
    by ~2x — the per-group pandas overhead dominates), while the
    stream-stream join's 4-stores-per-partition commit cycle wants
    FEW (interval join: 2 partitions beat 8 by ~2.5x). The conf is
    captured at stream start and restored afterwards. At production
    cardinality this knob scales up with keys, not data volume —
    MEASURED, not assumed: on a 10x-keys corpus (15k users, 1M rows;
    SURVEY.md §8, round-15 changelog) user-totals runs 11.1 s at 8
    partitions, 8.1 at 16, 6.6 at 32. The shipped SFs stay at the
    defaults; re-derive the knob from key cardinality when deploying
    against a real stream.

    Two fixed harness cuts (hashes verified unchanged on all four
    replay queries, SURVEY.md §8, round-15 changelog): NO-DATA micro-
    batches are disabled for the run — they exist to advance the
    watermark for state eviction and outer-join/appendable-window
    emission, none of which a bounded inner-join/update-mode replay
    needs, and the interval join was paying a full 4-store commit
    cycle (~2.3 s) for a zero-row batch; and the checkpoint (state
    store + offsets) goes to tmpfs when /dev/shm exists — the replay
    state is per-run scratch, not a recovery point (production
    points checkpointLocation at durable storage), and ext4 fsyncs
    were the bulk of the per-batch commit time."""
    import shutil

    name = f"stateful_{uuid.uuid4().hex[:12]}"
    # The capture/set/run/restore cycle mutates two SESSION-global
    # confs; two concurrent calls on one SparkSession could interleave
    # and restore each other's transient values (r15 advisory — the
    # per-plan partition knobs make concurrent use likelier). The
    # module lock serializes whole runs; replay harness runs are
    # already sequential per session, so there is no lost parallelism.
    with _CONF_SWAP_LOCK:
        return _run_stateful_locked(
            spark, stream_out, output_mode, shuffle_partitions, name
        )


_CONF_SWAP_LOCK = threading.Lock()


def _run_stateful_locked(spark, stream_out, output_mode, shuffle_partitions, name):
    import shutil

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ckpt = (
        os.path.join("/dev/shm", f"spark_graft_ckpt_{name}")
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
        else None
    )
    try:
        w = (
            stream_out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
        )
        if ckpt:
            w = w.option("checkpointLocation", ckpt)
        q = w.start()
        try:
            q.processAllAvailable()
            progress = list(q.recentProgress)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nd
        )
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    sink = spark.table(name)
    pdf = sink.toPandas()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(pdf, schema=sink.schema), progress


# --- driver-checkable query -------------------------------------------------


def q_stateful_user_totals_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming run inside the correctness check: chunked
    events replay through `applyInPandasWithState` in 3 micro-batches;
    the final update per user must equal the batch groupBy — which the
    DuckDB oracle computes relationally. This is the driver-visible
    proof that custom state survives across micro-batches correctly,
    not just that the plan compiles."""
    stream = chunked_events_source(spark, sf_dir, n_chunks=3)
    updates, progress = run_stateful_to_completion(
        spark, stateful_user_totals(stream)
    )
    n_batches = len([p for p in progress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 data micro-batches, got {n_batches}"
    # keep only each user's final state (n_events is strictly monotone
    # per user — a user emits only when a batch adds rows): a max-by
    # struct aggregate with map-side combine, not a sort-the-
    # partition row_number window (r15 bench trim, same rows)
    final = (
        updates.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("f"))
        .select(
            "user_id",
            F.col("f.n_events").alias("n_events"),
            F.col("f.total_value").alias("total_value"),
        )
        .orderBy("user_id")
    )
    # materialize before the memory sink table is dropped/overwritten
    pdf = final.toPandas()
    return spark.createDataFrame(pdf, schema=final.schema)


Q_STATEFUL_USER_TOTALS_LIVE_SQL = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: `dropDuplicates` over the 3-chunk events
    replay emits each (user_id, event_type) key once, on its FIRST
    arrival across micro-batches — the streaming analog of the batch
    exact-dedup operator (dedup/exact.py), with the key-set carried in
    the state store between triggers.

    The emitted set equals batch DISTINCT regardless of which
    occurrence fired, which is what the DuckDB oracle checks. State
    here is unbounded by design (exact global dedup); the bounded-
    state production variant is `dropDuplicatesWithinWatermark`, which
    trades re-emission of duplicates farther apart than the watermark
    gap for eviction — it cannot match a batch oracle and so isn't the
    driver-checked path."""
    stream = chunked_events_source(spark, sf_dir, n_chunks=3)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    emitted, progress = run_stateful_to_completion(
        spark, deduped, output_mode="append", shuffle_partitions=2
    )
    n_batches = len([p for p in progress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 data micro-batches, got {n_batches}"
    final = emitted.orderBy("user_id", "event_type")
    pdf = final.toPandas()
    return spark.createDataFrame(pdf, schema=final.schema)


Q_STREAMING_DEDUP_EVENTS_SQL = """
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
"""


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: 'error' events joined to the same
    user's 'click' events within the preceding hour, both sides read
    from the SAME 3-chunk replay as two independent streams with
    event-time watermarks. Inner stream-stream joins emit a match as
    soon as both rows have arrived; the watermark bounds how long an
    unmatched row is buffered. The delay here (48h) exceeds the
    replay's cross-chunk disorder, so no needed row is evicted early
    and the emitted set equals the batch interval join — which is
    exactly what the DuckDB oracle computes (the streaming counterpart
    of operators/rangejoin.py, same predicate). In production the
    delay is tuned to the source's real disorder bound; correctness
    degrades to 'matches within the watermark' beyond it."""
    # ONE streaming source, self-joined: both sides replay the same
    # chunks, and two independent readStream sources meant two
    # parquet scans + two offset-log commits per trigger for
    # identical bytes (r15 bench trim; Spark stream-stream self-joins
    # keep per-side watermarks and emit the same matches)
    left = chunked_events_source(spark, sf_dir, n_chunks=3)
    right = left

    errors = (
        left.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "48 hours")
    )
    clicks = (
        right.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", "48 hours")
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("ts")),
        "inner",
    ).select(
        "event_id",
        "user_id",
        "click_value",
        (F.unix_micros("ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    # 2 partitions: the join's per-batch cost is its 4 state stores
    # PER PARTITION, not the row work (see run_stateful_to_completion)
    emitted, progress = run_stateful_to_completion(
        spark, joined, output_mode="append", shuffle_partitions=2
    )
    n_batches = len([p for p in progress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 data micro-batches, got {n_batches}"
    final = emitted.orderBy("event_id", "gap_us")
    pdf = final.toPandas()
    return spark.createDataFrame(pdf, schema=final.schema)


Q_STREAMING_INTERVAL_JOIN_SQL = """
SELECT e.event_id, e.user_id,
       c.value AS click_value,
       (epoch_us(e.ts) - epoch_us(c.ts)) AS gap_us
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND c.ts >= e.ts - INTERVAL 1 HOUR
 AND c.ts <= e.ts
ORDER BY e.event_id, gap_us
"""
