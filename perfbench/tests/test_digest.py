"""The output check's digest: independent of row order and of the
process it runs in."""

import os
import subprocess
import sys
from datetime import date, datetime

from digest import digest, result

ROWS = [
    (1, "EUROPE", 0.1 + 0.2, None, date(2024, 1, 2)),
    (2, "ASIA", -0.0, "x", datetime(2024, 1, 2, 3, 4, 5)),
    (3, "ASIA", 1e-12, "y", None),
]
COLS = ["id", "name", "value", "tag", "day"]


def test_row_order_does_not_matter():
    assert digest(ROWS, COLS) == digest(list(reversed(ROWS)), COLS)


def test_column_order_does_not_matter():
    perm = [4, 2, 0, 3, 1]
    rows = [tuple(r[i] for i in perm) for r in ROWS]
    assert digest(rows, [COLS[i] for i in perm]) == digest(ROWS, COLS)


def test_detects_a_duplicated_row_paired_with_a_dropped_one():
    a, b, c = ROWS
    assert digest([a, a, b], COLS) != digest([b, c, c], COLS)
    assert digest([a, b], COLS) != digest([a, b, c], COLS)


def test_signed_zero_and_values_change_the_digest():
    flipped = [(2, "ASIA", 0.0, "x", ROWS[1][4])] + [ROWS[0], ROWS[2]]
    assert digest(flipped, COLS) != digest(ROWS, COLS)


def test_result_records_rows_and_sorted_columns():
    r = result(iter(ROWS), COLS)
    assert r["rows"] == 3 and r["columns"] == sorted(COLS)


def test_same_digest_under_different_hash_seeds():
    here = os.path.dirname(os.path.abspath(__file__))
    bench = os.path.dirname(here)
    code = (
        "import datetime; from digest import digest; "
        f"print(digest({ROWS!r}, {COLS!r}))"
    )
    outs = set()
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed,
                   PYTHONPATH=os.pathsep.join([bench, os.path.dirname(bench)]))
        outs.add(subprocess.run([sys.executable, "-c", code], env=env, cwd=here,
                                check=True, capture_output=True, text=True).stdout)
    assert outs == {digest(ROWS, COLS) + "\n"}
