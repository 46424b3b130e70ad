"""Round-11 tests: the scalar_fns single-hour 0/0 guard, ADVICE-item
closures, and the r11 rotation window arithmetic."""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pytest


# --- scalar_fns_events: single-distinct-hour spacing guard -------------------


def test_scalar_fns_single_hour_type_matches_oracle(spark, tmp_path):
    """An event type whose rows all fall in ONE distinct hour makes the
    hour-grid spacing 0/0: unguarded, Spark division returns NULL while
    DuckDB returns NaN — a real hash divergence (round-10 review item
    5). The n_hours > 1 CASE must yield NULL on BOTH engines; verified
    by running the actual query and its oracle on a corpus built to
    hit the edge, digest-compared like the driver."""
    import duckdb

    from data_framework_spark.operators.skew import (
        Q_SCALAR_FNS_EVENTS_SQL,
        q_scalar_fns_events,
    )
    from data_framework_spark.oracle import _digest

    base = dt.datetime(2024, 3, 1, 12, 10)
    rows = []
    # type "burst": 5 events inside the same hour -> n_hours == 1
    for i in range(5):
        rows.append((i, base + dt.timedelta(minutes=i), 1, "burst", 2.0 + i, "{}"))
    # type "steady": spans 4 distinct hours -> normal spacing path
    for i in range(8):
        rows.append(
            (100 + i, base + dt.timedelta(minutes=30 * i), 2, "steady", 1.0 + i, "{}")
        )
    # type "zeroed": every value exactly 0 -> v = (0, 0), nrm = 0, so
    # the unit vector is 0/0 (Spark NULL vs DuckDB NaN unguarded —
    # the round-11 sweep's second scalar_fns edge)
    for i in range(4):
        rows.append(
            (200 + i, base + dt.timedelta(hours=i), 3, "zeroed", 0.0, "{}")
        )
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = tmp_path / "onehour"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet", index=False)

    sdf = q_scalar_fns_events(spark, str(d))
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    by_type = {r[0]: r for r in srows}
    assert by_type["burst"][scols.index("spacing")] is None
    assert by_type["burst"][scols.index("uniform")] is True  # 0 == 1-1
    assert by_type["steady"][scols.index("spacing")] == 1.0
    assert by_type["zeroed"][scols.index("norm")] == 0.0
    assert by_type["zeroed"][scols.index("unit_0")] is None
    assert by_type["zeroed"][scols.index("unit_1")] is None

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d / 'events.parquet'}')"
    )
    res = con.execute(Q_SCALAR_FNS_EVENTS_SQL)
    dcols = [c[0] for c in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert _digest(srows, scols) == _digest(drows, dcols)


# --- trained-codebook cache: derived frames don't alias the corpus -----------


# --- scaled-dedup assignment: Arrow GEMM route equals the HOF join route -----


def test_assign_clusters_arrow_equals_hof_route(spark):
    """The K~N/const variant swaps the contract's crossJoin-of-HOF-
    cosines assignment for one Arrow GEMM pass (the crossJoin form
    measured 58× at 10× rows). Both routes implement the same
    arithmetic contract — cosine rounded half-away to 6dp, argmax ties
    to the smallest cent_id — so on identical inputs the (vec_id →
    cluster) map must agree EXACTLY; 6dp rounding absorbs the
    GEMM-vs-fold ulp gap (the established minhash/train.py precedent).
    Run on the full sf0.001 corpus with two centroid counts, including
    a non-contiguous probe that exercises the cid indirection."""
    from pyspark.sql import functions as F

    from data_framework_spark.similarity.semantic import (
        _assign_clusters,
        _assign_clusters_arrow,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    for pred in ("vec_id < 8", "vec_id % 37 = 3"):  # contiguous + sparse cids
        rows = (
            emb.filter(pred)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        cents = spark.createDataFrame(
            [(int(r[0]), list(r[1])) for r in rows],
            "cent_id long, cent array<float>",
        ).select("cent_id", F.col("cent").cast("array<float>").alias("cent"))
        hof = {
            r["vec_id"]: r["cluster"]
            for r in _assign_clusters(emb, cents).collect()
        }
        gemm = {
            r["vec_id"]: r["cluster"]
            for r in _assign_clusters_arrow(emb, rows).collect()
        }
        assert hof == gemm and len(hof) == 500
