"""The oracle comparison digest (oracle._digest)."""

from __future__ import annotations

import os
import subprocess
import sys

_SNIPPET = """
import datetime
from data_framework_spark.oracle import _digest
rows = [(1, "abc", 2.5, None), (2, "é|x", -0.0, datetime.date(2024, 2, 29)),
        (3, "abc", float("nan"), True)]
print(_digest(rows, ["id", "s", "x", "d"]), hash("abc"))
"""


def test_digest_is_stable_across_hash_seeds():
    """Two processes with different PYTHONHASHSEEDs give the same
    digest, while the builtin str hash differs between them, so a
    digest can be committed and compared across runs."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=root)
        out = subprocess.run(
            [sys.executable, "-c", _SNIPPET],
            env=env, cwd=root, capture_output=True, text=True, check=True,
        ).stdout.split()
        outs.append(out)
    assert outs[0][1] != outs[1][1]  # the salt is really in effect
    assert outs[0][0] == outs[1][0]
