"""Round-12 tests: the hier semantic-dedup assignment route on its
two_level and tie corpora and its refusals, the K=256 PQ codebook
adoption invariants and the distributed CCL. The BPE trainer pins
live in tests/test_bpe.py; the other assignment pins, and the corpora
and route helpers used here, in tests/test_semantic_assign.py."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from tests.test_semantic_assign import (
    ZERO_IN_SEEDS,
    ZERO_PAST_SEEDS,
    _assign,
    _emb,
    _refusal_emb,
    _route_maps,
    _tie,
    _two_level,
)


# --- hier assignment: parity with the flat GEMM, refusals --------------------


def test_assign_clusters_hier_equals_flat_on_tie_corpus(spark):
    """Exact ties: duplicated centroids make the 6dp cosines EXACTLY
    equal, so ties-to-smallest-cid decides every assignment; vectors
    equal to a centroid exercise the cos = 1.0 edge. Both routes must
    return the planted map (cent 0 for even ids, 5 for odd)."""
    X, cents_rows, planted = _tie()
    flat, hier = _route_maps(spark, _emb(spark, X), cents_rows, ("flat", "hier"))
    assert flat == hier == planted


def test_assign_clusters_hier_equals_flat_where_pruning_engages(spark):
    """Parity in the regime the route exists for: the two_level corpus,
    where the coarse bounds skip most cells
    (`test_two_level_corpus_engages_pruning`), so equality certifies
    the pruned search, not a scan of every cell."""
    X, cents_rows, _ = _two_level()
    flat, hier = _route_maps(spark, _emb(spark, X), cents_rows, ("flat", "hier"))
    assert flat == hier and len(flat) == len(X)


def test_zero_norm_centroid_refused_by_both_routes(spark):
    """A zero-norm centroid would make the flat route's NaN argmax
    pick IT for every vector while the pruned route skips it — both
    routes refuse the degenerate input identically instead."""
    emb = _refusal_emb(spark)
    for route in ("flat", "hier"):
        for cents_rows in (ZERO_IN_SEEDS, ZERO_PAST_SEEDS):
            with pytest.raises(ValueError, match="zero-norm"):
                _assign(spark, route, emb, cents_rows)


def test_assign_clusters_empty_centroids_raise(spark):
    """An empty centroid list fails with a clear ValueError on both
    routes, not an AxisError from a shape-(0,) reduction."""
    emb = _refusal_emb(spark)
    for route in ("flat", "hier"):
        with pytest.raises(ValueError, match="centroid"):
            _assign(spark, route, emb, [])


# --- K=256 codebooks: the adopted operating point -----------------------------


def test_k256_refine_recall_sits_at_coverage_ceiling(spark):
    """The round-12 headline, re-pinned over the r13 operating point
    (32 cells / refine nprobe=16): with 8-bit codebooks the refine
    route's recall EQUALS its nprobe coverage ceiling (r13 measured
    0.99/0.96/1.00 at sf0.001/0.01/0.1) — the ADC shortlist drops no
    covered true neighbor before the exact re-rank. Pinned at the
    test SF against the sweep row matching IVFPQ_REFINE_NPROBE; a
    future K/M/nprobe change that reopens the ADC-ranking gap fails
    here and must re-measure."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_REFINE_NPROBE,
        q_ivfpq_nprobe_curve,
        q_ivfpq_refine_recall,
    )
    from data_framework_spark.similarity.pq import PQ_K

    assert PQ_K == 256  # the r12 adoption; comments/floors assume it
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    refine = q_ivfpq_refine_recall(spark, sf).collect()[0]
    curve = {r["nprobe"]: r for r in q_ivfpq_nprobe_curve(spark, sf).collect()}
    assert refine["meets_floor"]
    assert refine["recall"] == pytest.approx(
        curve[IVFPQ_REFINE_NPROBE]["coverage"], abs=1e-9
    )


# --- distributed CCL: label-identical to the single-tile kernel --------------


def test_distributed_label_equals_single_tile_kernel(spark):
    """The tile-stitch CCL (plans/distributed_label.py) must
    reproduce `kernels.ndimage.label` EXACTLY — partition AND
    numbering — on grids where both routes run. Two masks on a 96×96
    grid at tile=32 (9 tiles, every stitch direction exercised):
    (a) a pseudo-random ~60%-density field near the percolation
    threshold (components cross many tiles), and (b) a deliberately
    adversarial snake that walks through all 9 tiles plus isolated
    single-pixel components in each tile."""
    import numpy as np

    from data_framework_spark.kernels.ndimage import label as np_label
    from data_framework_spark.plans.distributed_label import label_cells

    h = w = 96
    i0g, i1g = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    masks = {}
    masks["random"] = ((i0g * 7919 + i1g * 104729) % 97) < 58
    snake = np.zeros((h, w), dtype=bool)
    snake[0, :] = True
    for r in range(1, h, 2):
        snake[r, (w - 1) if (r // 2) % 2 == 0 else 0] = True
        if r + 1 < h:
            snake[r + 1, :] = True
    dots = np.zeros((h, w), dtype=bool)
    for t0 in range(3):
        for t1 in range(3):
            dots[t0 * 32 + 16, t1 * 32 + 16] = True
    masks["snake"] = snake | dots
    for name, m in masks.items():
        expect, n = np_label(m)
        rows = [
            (int(a), int(b)) for a, b in zip(*np.nonzero(m))
        ]
        cells = spark.createDataFrame(rows, "i0 long, i1 long")
        got = np.zeros((h, w), dtype=np.int64)
        for r in label_cells(cells, width=w, tile=32).collect():
            got[r["i0"], r["i1"]] = r["label"]
        assert np.array_equal(got, expect), name
        assert got.max() == n, name


def test_distributed_flood_matches_kernel(spark):
    """flood_cells = the seed's component of label_cells; must equal
    kernels.ndimage.flood's region on the same mask."""
    import numpy as np

    from data_framework_spark.kernels.ndimage import flood as np_flood
    from data_framework_spark.plans.distributed_label import flood_cells

    h = w = 64
    i0g, i1g = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    vals = ((i0g * 31 + i1g * 17) % 5 == 0).astype(float)
    seed = (0, 0)
    assert vals[seed] == 1.0
    region = np_flood(vals, seed)
    m = vals == vals[seed]
    rows = [(int(a), int(b)) for a, b in zip(*np.nonzero(m))]
    cells = spark.createDataFrame(rows, "i0 long, i1 long")
    got = {
        (r["i0"], r["i1"])
        for r in flood_cells(cells, width=w, seed=seed, tile=16).collect()
    }
    assert got == {(int(a), int(b)) for a, b in zip(*np.nonzero(region))}


# --- property-based parity for the r12 components -----------------------------


def test_distributed_label_matches_kernel_random_masks(spark):
    """Tile-stitch CCL vs the single-tile kernel over randomized
    masks — random densities cross the percolation regimes (many tiny
    components, one near-giant, empty rows/columns at tile borders)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_framework_spark.kernels.ndimage import label as np_label
    from data_framework_spark.plans.distributed_label import label_cells

    @given(st.integers(0, 2**31 - 1), st.integers(20, 80))
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(seed, density_pct):
        rng = np.random.default_rng(seed)
        h = w = 48
        m = rng.random((h, w)) < density_pct / 100.0
        if not m.any():
            return
        expect, n = np_label(m)
        rows = [(int(a), int(b)) for a, b in zip(*np.nonzero(m))]
        cells = spark.createDataFrame(rows, "i0 long, i1 long")
        got = np.zeros((h, w), dtype=np.int64)
        for r in label_cells(cells, width=w, tile=16).collect():
            got[r["i0"], r["i1"]] = r["label"]
        assert np.array_equal(got, expect), seed
        assert got.max() == n

    run()


# The r12 rotation-window test was superseded by
# tests/test_round13.py::test_r13_verify_window_arithmetic — each
# round's window replaces the previous round's arithmetic pin (the
# r11 -> r12 precedent).
