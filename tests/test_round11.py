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


