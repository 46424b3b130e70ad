"""Round-13 additions: the sharded semantic-dedup assignment route on
its two_level and tie corpora and its refusals, and the r12 advisory
distributed-label coordinate contract. The other assignment pins, and
the corpora and route helpers used here, live in
tests/test_semantic_assign.py; the IVF-PQ component refusals in
tests/test_ivfpq.py."""

from __future__ import annotations

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


# --- sharded assignment: parity with the flat GEMM, refusals -----------------


def test_sharded_equals_flat_where_pruning_engages(spark):
    """On the two_level corpus the coarse bounds prune, so phase B
    really skips cells; the sharded map must still equal flat's."""
    X, cents_rows, _ = _two_level()
    flat, shard = _route_maps(
        spark, _emb(spark, X), cents_rows, ("flat", "sharded")
    )
    assert flat == shard and len(flat) == len(X)


def test_sharded_equals_flat_on_tie_corpus(spark):
    """Tied centroids may land in different coarse cells, so the
    cross-cell combine must keep ties-to-smallest-cid: the sharded map
    is the planted one, as flat's is."""
    X, cents_rows, planted = _tie()
    flat, shard = _route_maps(
        spark, _emb(spark, X), cents_rows, ("flat", "sharded")
    )
    assert flat == shard == planted


def test_sharded_refuses_degenerate_inputs(spark):
    """Empty centroids and a zero-norm centroid are refused with the
    flat route's messages. Seed centroids are checked on the driver
    (ValueError); a zero-norm centroid past the seeds is refused in
    the executors, so it arrives wrapped in the task failure."""
    emb = _refusal_emb(spark)
    with pytest.raises(ValueError, match="centroid"):
        _assign(spark, "sharded", emb, []).collect()
    with pytest.raises(ValueError, match="zero-norm"):
        _assign(spark, "sharded", emb, ZERO_IN_SEEDS).collect()
    with pytest.raises(Exception, match="zero-norm"):
        _assign(spark, "sharded", emb, ZERO_PAST_SEEDS).collect()


# --- distributed-label coordinate contract (r12 advisory) ---------------------


def test_distributed_label_rejects_negative_coords(spark):
    """Negative coordinates would mis-tile under any trunc-based key
    (and collide pids); the entry point must fail loudly."""
    from data_framework_spark.plans.distributed_label import label_cells

    cells = spark.createDataFrame(
        [(-1, 0), (0, 0), (0, 1)], "i0 long, i1 long"
    )
    with pytest.raises(Exception, match="non-negative"):
        label_cells(cells, width=16, tile=8).collect()


def test_distributed_label_rejects_width_overflow(spark):
    """i1 >= width makes pid = i0*width + i1 collide across rows —
    refused with an error naming the contract."""
    from data_framework_spark.plans.distributed_label import label_cells

    cells = spark.createDataFrame([(0, 20), (1, 3)], "i0 long, i1 long")
    with pytest.raises(Exception, match="width"):
        label_cells(cells, width=16, tile=8).collect()


def test_distributed_label_rejects_duplicate_pixels(spark):
    """Duplicate (i0, i1) rows would silently duplicate labeled output
    rows; the contract is distinct pixels, enforced per tile."""
    from data_framework_spark.plans.distributed_label import label_cells

    cells = spark.createDataFrame(
        [(0, 0), (0, 0), (1, 1)], "i0 long, i1 long"
    )
    with pytest.raises(Exception, match="distinct"):
        label_cells(cells, width=16, tile=8).collect()


def test_distributed_label_floor_division_tiling(spark):
    """The integer-floor tile keys reproduce the single-tile kernel's
    numbering on a multi-tile grid (the r12 digest check, re-pinned
    over the floor-div keys)."""
    from data_framework_spark.kernels import ndimage
    from data_framework_spark.plans.distributed_label import label_cells

    rng = np.random.default_rng(20260817)
    side = 96
    m = rng.random((side, side)) < 0.42
    i0, i1 = np.nonzero(m)
    cells = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(i0, i1)], "i0 long, i1 long"
    )
    got = {
        (r["i0"], r["i1"]): r["label"]
        for r in label_cells(cells, width=side, tile=32).collect()
    }
    lbl, _ = ndimage.label(m)
    want = {(int(a), int(b)): int(lbl[a, b]) for a, b in zip(i0, i1)}
    assert got == want


def test_distributed_label_contract_matches_numpy_replica(spark):
    """The registry contract query's pinned literals re-derived from
    scratch: dense numpy mask → single-tile kernel → same census
    arithmetic. Certifies both the pinned values AND that the 9-tile
    distributed route reproduces the single-tile numbering on the
    contract grid."""
    from data_framework_spark.kernels import ndimage
    from data_framework_spark.plans.distributed_label import (
        CONTRACT_SIDE,
        q_distributed_label_contract,
    )

    got = {
        r["metric"]: r["value"]
        for r in q_distributed_label_contract(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    side = CONTRACT_SIDE
    i0g, i1g = np.meshgrid(
        np.arange(side, dtype=np.int64),
        np.arange(side, dtype=np.int64),
        indexing="ij",
    )
    mask = ((i0g * 1103515245 + i1g * 12345 + i0g * i1g * 7919) % 97) < 42
    lbl, n = ndimage.label(mask)
    sizes = np.bincount(lbl[mask])
    pid = i0g * side + i1g
    want = {
        "n_pixels": float(mask.sum()),
        "n_components": float(n),
        "largest_size": float(sizes.max()),
        "label1_size": float(sizes[1]),
        "label2_size": float(sizes[2]),
        "label3_size": float(sizes[3]),
        "sum_labels": float(lbl[mask].sum()),
        "checksum_mod": float(
            ((lbl[mask].astype(np.int64) * pid[mask]) % 1000003).sum()
        ),
    }
    assert got == want


# --- rotation window arithmetic (r13) ----------------------------------------


# The r13 rotation-window test was superseded by
# tests/test_round14.py::test_r14_verify_window_arithmetic — each
# round's window replaces the previous round's arithmetic pin (the
# r12 -> r13 precedent).


