"""Round-12 tests: the r12 rotation window arithmetic, the K=256 PQ
codebook adoption invariants and the hierarchical semantic-dedup
assignment parity. The BPE trainer pins live in tests/test_bpe.py."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest


# --- hierarchical assignment: exact parity with the flat GEMM route ----------


def _route_maps(spark, emb, cents_rows):
    from data_framework_spark.similarity.semantic import (
        _assign_clusters_arrow,
        _assign_clusters_hier,
    )

    flat = {
        r["vec_id"]: r["cluster"]
        for r in _assign_clusters_arrow(emb, cents_rows).collect()
    }
    hier = {
        r["vec_id"]: r["cluster"]
        for r in _assign_clusters_hier(emb, cents_rows).collect()
    }
    return flat, hier


def test_assign_clusters_hier_equals_flat_on_shipped_corpus(spark):
    """The hierarchical coarse-over-centroids route is EXACT by
    construction (bound-based pruning with a 2e-6 margin, not
    nprobe-truncation), so on identical inputs the (vec_id → cluster)
    map must equal the flat Arrow GEMM's — on the shipped isotropic
    corpus, where every bound is loose and pruning degenerates (the
    honest worst case), with both a contiguous and a sparse cid set.

    Residual boundary condition RETIRED in r13: both routes now
    compute member cosines through the shared `_pair_cosines` einsum
    reduction, which is shape-independent (subset == full slice,
    property-pinned in test_round13.py), so evaluated-pair fp
    identity holds by construction — the empirical pins across four
    corpora and two cid layouts remain as regression coverage."""
    from pyspark.sql import functions as F

    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    for pred in ("vec_id < 8", "vec_id % 37 = 3"):
        cents_rows = (
            emb.filter(pred)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        flat, hier = _route_maps(spark, emb, cents_rows)
        assert flat == hier and len(flat) == 500, pred


def test_assign_clusters_hier_equals_flat_on_clustered_corpus(spark):
    """On a CLUSTERED corpus — the regime the hierarchical route
    exists for, where the coarse bounds actually prune — parity must
    still be exact, and every vector must land on its planted
    cluster's centroid (sanity that the corpus really is clustered).
    Deterministic construction: 24 well-separated unit anchors from an
    orthogonal-ish basis, 60 members each with tiny fixed
    perturbations."""
    rng_free = []  # deterministic, no RNG: perturbation from index math
    dim, n_anchor, per = 64, 24, 60
    anchors = np.zeros((n_anchor, dim))
    for a in range(n_anchor):
        anchors[a, a % dim] = 1.0
        anchors[a, (a * 7 + 11) % dim] = 0.5 if a % 2 else -0.5
    anchors /= np.sqrt((anchors * anchors).sum(axis=1))[:, None]
    rows = []
    vid = 0
    for a in range(n_anchor):
        for j in range(per):
            v = anchors[a].copy()
            v[(a + j) % dim] += 0.02 + 0.001 * (j % 7)
            v[(a + 3 * j + 1) % dim] -= 0.015
            rows.append((vid, [float(x) for x in v]))
            rng_free.append(a)
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # centroids = the anchors themselves, one per planted cluster
    cents_rows = [(a, [float(x) for x in anchors[a]]) for a in range(n_anchor)]
    flat, hier = _route_maps(spark, emb, cents_rows)
    assert flat == hier and len(flat) == n_anchor * per
    planted = {i: rng_free[i] for i in range(len(rng_free))}
    mis = {v: (hier[v], planted[v]) for v in hier if hier[v] != planted[v]}
    assert not mis, f"clustered corpus not recovered: {list(mis.items())[:5]}"


def test_assign_clusters_hier_equals_flat_on_tie_corpus(spark):
    """Exact-tie stress: duplicated centroids (identical vectors under
    different cent_ids) make the 6dp-rounded cosines EXACTLY equal, so
    the ties-to-smallest-cid convention decides every assignment; and
    vectors exactly equal to a centroid exercise the cos=1.0 edge.
    Both routes must pick the identical (smallest) winner."""
    dim = 64
    base = np.zeros(dim)
    base[0] = 1.0
    other = np.zeros(dim)
    other[1] = 1.0
    # cent 0, 2 identical; cent 1 identical to 0 scaled (same cosine)
    cents_rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 2.5]),
        (2, [float(x) for x in base]),
        (5, [float(x) for x in other]),
    ]
    rows = []
    for i in range(40):
        v = base.copy() if i % 2 == 0 else other.copy()
        v[(i * 3) % dim] += 1e-3 * (i % 5)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    flat, hier = _route_maps(spark, emb, cents_rows)
    assert flat == hier and len(flat) == 40
    # the duplicated-centroid ties must resolve to cent_id 0, never 1/2
    assert 1 not in set(flat.values()) and 2 not in set(flat.values())


def test_assign_clusters_hier_equals_flat_where_pruning_engages(spark):
    """Parity in the regime the route EXISTS for: a two-level
    topic/subtopic corpus (the measure_hier_assign construction) where
    the coarse bounds genuinely skip most cells (measured
    evaluated-pair fraction ~0.17 at this shape) — so equality here
    certifies the PRUNED search path, not a degenerate
    scan-everything run. Seeded RNG, deterministic."""
    import numpy as np

    dim, k, n = 64, 16, 512
    s = 4
    rng = np.random.default_rng(20260816)
    supers = rng.standard_normal((s, dim))
    supers /= np.sqrt((supers * supers).sum(axis=1))[:, None]
    subs = supers[np.arange(k) % s] + 0.045 * rng.standard_normal((k, dim))
    subs /= np.sqrt((subs * subs).sum(axis=1))[:, None]
    X = subs[np.arange(n) % k] + 0.02 * rng.standard_normal((n, dim))
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents_rows = (
        emb.filter("vec_id < 16")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    flat, hier = _route_maps(spark, emb, cents_rows)
    assert flat == hier and len(flat) == n
    # sanity that the corpus really has the two-level structure the
    # pruning needs: driver-side replica reports the evaluated share
    from scripts.measure_hier_assign import pruned_fraction

    C = np.asarray(
        [[float(v) for v in r["embedding"]] for r in cents_rows]
    )
    cids = np.asarray([int(r["vec_id"]) for r in cents_rows])
    frac = pruned_fraction(C, cids, X)
    assert frac < 0.6, frac  # most pairs skipped → pruned path exercised


def test_zero_norm_centroid_refused_by_both_routes(spark):
    """A zero-norm centroid would make the flat route's NaN argmax
    pick IT for every vector while the pruned route skips it — both
    routes refuse the degenerate input identically instead."""
    from data_framework_spark.similarity.semantic import (
        _assign_clusters_arrow,
        _assign_clusters_hier,
    )

    rows = [(i, [float(i + 1)] * 4) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [0.0] * 4), (1, [1.0] * 4)]
    for route in (_assign_clusters_arrow, _assign_clusters_hier):
        with pytest.raises(ValueError, match="zero-norm"):
            route(emb, cents)


def test_assign_clusters_empty_centroids_raise(spark):
    """Degenerate input (r11 advisory): an empty centroid list must
    fail with a clear ValueError on BOTH routes, not an AxisError from
    a shape-(0,) reduction on the driver."""
    from data_framework_spark.similarity.semantic import (
        _assign_clusters_arrow,
        _assign_clusters_hier,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    for route in (_assign_clusters_arrow, _assign_clusters_hier):
        with pytest.raises(ValueError, match="centroid"):
            route(emb, [])


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


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_hier_assignment_matches_flat_random_corpora(spark):
    """Hier-vs-flat route parity over randomized corpora and centroid
    counts — beyond the four fixed corpora: random geometry lands
    cosines at arbitrary distances from the 6dp grid and random K
    exercises coarse-cell counts from 1 to √K>3."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(st.data())
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(data):
        n = data.draw(st.integers(12, 60))
        dim = data.draw(st.sampled_from([4, 8, 16]))
        k = data.draw(st.integers(1, min(n, 14)))
        seed = data.draw(st.integers(0, 2**31 - 1))
        rng = np.random.default_rng(seed)
        X = rng.standard_normal((n, dim))
        rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        cents_rows = (
            emb.filter(f"vec_id < {k}")
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        flat, hier = _route_maps(spark, emb, cents_rows)
        assert flat == hier and len(flat) == n, (seed, n, dim, k)

    run()


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
