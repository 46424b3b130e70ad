"""Round-8 additions: the SURVEY query table kept in sync with the
registry. The IVF-PQ pins live in tests/test_ivfpq.py and the BPE
detokenize roundtrip pins in tests/test_bpe.py.
"""

from __future__ import annotations

import os
import re


# --- SURVEY <-> registry sync ----------------------------------------------


def test_survey_query_table_matches_registry():
    """SURVEY.md's §8 query table must list EXACTLY the registry's
    entries (the round-7 verdict caught a missing row and a stale
    total; this pins the sync). Also pins the oracle/rows-only split:
    every `oracle` row has oracle SQL, every `rows-only` row has
    none, and the stated total matches."""
    from data_framework_spark.registry import QUERIES

    src = open(os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")).read()
    rows = dict(
        re.findall(r"^\| `([a-z0-9_]+)` \| (oracle|rows-only) \|", src, re.M)
    )
    assert set(rows) == set(QUERIES), (
        sorted(set(QUERIES) - set(rows)),
        sorted(set(rows) - set(QUERIES)),
    )
    for name, mode in rows.items():
        has_oracle = QUERIES[name].oracle is not None
        assert has_oracle == (mode == "oracle"), name
    n_oracle = sum(1 for m in rows.values() if m == "oracle")
    assert f"Total: {len(rows)} queries, {n_oracle} oracle-checked" in src


