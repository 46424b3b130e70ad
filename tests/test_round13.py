"""Round-13 additions: the sharded-centroid assignment escape
(`_assign_clusters_sharded` — no K-row collect/broadcast anywhere,
bitwise parity with the flat/hier routes), the shape-independent
per-pair cosine reduction that retires the r12 1-ulp advisory, and
the r12 advisory guards (ivfpq partial-index refusal,
distributed-label coordinate contract)."""

from __future__ import annotations

import numpy as np
import pytest


# --- shape-independent per-pair cosines (r12 advisory retirement) ------------


def test_pair_cosines_shape_independent():
    """The einsum reduction must yield the IDENTICAL float for a
    (vector, centroid) pair regardless of which other rows share the
    batch or which centroid subset is evaluated — the property that
    makes flat/hier/sharded route parity exact by construction rather
    than empirically-pinned (the r12 advisory's residual was subset
    BLAS GEMMs differing from the full product by ~1 ulp)."""
    from data_framework_spark.similarity.semantic import _pair_cosines

    rng = np.random.default_rng(20260816)
    X = rng.standard_normal((200, 64))
    C = rng.standard_normal((90, 64))
    nx = np.sqrt((X * X).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    full = _pair_cosines(X, nx, C, cn)
    for rseed in range(5):
        r = np.random.default_rng(rseed)
        rows = r.choice(200, r.integers(1, 200), replace=False)
        mem = r.choice(90, r.integers(1, 90), replace=False)
        sub = _pair_cosines(X[rows], nx[rows], C[mem], cn[mem])
        assert np.array_equal(sub, full[np.ix_(rows, mem)]), rseed
    one = _pair_cosines(X[7:8], nx[7:8], C, cn)
    assert np.array_equal(one[0], full[7])


# --- sharded assignment: exact parity with flat/hier -------------------------


def _three_route_maps(spark, emb, cents_rows):
    from pyspark.sql import functions as F

    from data_framework_spark.similarity.semantic import (
        _assign_clusters_arrow,
        _assign_clusters_hier,
        _assign_clusters_sharded,
    )

    cents_df = spark.createDataFrame(
        [(int(r[0]), [float(x) for x in r[1]]) for r in cents_rows],
        "cent_id long, cent array<double>",
    )
    flat = {
        r["vec_id"]: r["cluster"]
        for r in _assign_clusters_arrow(emb, cents_rows).collect()
    }
    hier = {
        r["vec_id"]: r["cluster"]
        for r in _assign_clusters_hier(emb, cents_rows).collect()
    }
    shard = {
        r["vec_id"]: r["cluster"]
        for r in _assign_clusters_sharded(emb, cents_df).collect()
    }
    return flat, hier, shard


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_sharded_equals_flat_and_hier_on_shipped_corpus(spark):
    """On the shipped isotropic corpus — loose bounds, the honest
    worst case where phase B explodes nearly every cell — the sharded
    route's (vec_id → cluster) map must equal both in-driver routes,
    with both a contiguous and a sparse cent_id set."""
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
        flat, hier, shard = _three_route_maps(spark, emb, cents_rows)
        assert flat == hier == shard and len(shard) == 500, pred


def test_sharded_equals_flat_where_pruning_engages(spark):
    """Parity in the regime the sharded route EXISTS for: the
    two-level topic/subtopic corpus where coarse bounds genuinely
    prune, so most vectors ship to ~1 cell's shard — certifying the
    pruned distributed path, not a degenerate scan-everything run."""
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
    flat, hier, shard = _three_route_maps(spark, emb, cents_rows)
    assert flat == hier == shard and len(shard) == n


def test_sharded_equals_flat_on_tie_corpus(spark):
    """Exact-tie stress (duplicated centroids, cos=1.0 edges): the
    combine-across-cells max must keep the ties-to-smallest-cent_id
    convention even when the tied centroids land in DIFFERENT coarse
    shards."""
    dim = 64
    base = np.zeros(dim)
    base[0] = 1.0
    other = np.zeros(dim)
    other[1] = 1.0
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
    flat, hier, shard = _three_route_maps(spark, emb, cents_rows)
    assert flat == hier == shard and len(shard) == 40
    assert 1 not in set(shard.values()) and 2 not in set(shard.values())


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_sharded_matches_flat_random_corpora(spark):
    """Randomized-geometry sweep (the r12 hier-parity pattern):
    random corpora land cosines at arbitrary distances from the 6dp
    grid; random K exercises G from 1 to >3 coarse shards; the
    clustered mode (anchor + small perturbation) exercises the regime
    where phase-B pruning actually skips shards."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(st.data())
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(data):
        n = data.draw(st.integers(12, 50))
        dim = data.draw(st.sampled_from([4, 8, 16]))
        k = data.draw(st.integers(1, min(n, 14)))
        seed = data.draw(st.integers(0, 2**31 - 1))
        clustered = data.draw(st.booleans())
        rng = np.random.default_rng(seed)
        if clustered:
            anchors = rng.standard_normal((k, dim))
            anchors /= np.sqrt((anchors * anchors).sum(axis=1))[:, None]
            X = anchors[np.arange(n) % k] + 0.05 * rng.standard_normal(
                (n, dim)
            )
        else:
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
        flat, _, shard = _three_route_maps(spark, emb, cents_rows)
        assert flat == shard and len(shard) == n, (seed, n, dim, k, clustered)

    run()


def test_sharded_refuses_degenerate_inputs(spark):
    """Empty centroid frame and zero-norm centroids are refused with
    the same clear errors as the flat/hier routes (the flat route's
    NaN argmax would otherwise silently diverge)."""
    from pyspark.sql import functions as F

    from data_framework_spark.similarity.semantic import (
        _assign_clusters_sharded,
    )

    rows = [(i, [float(i + 1)] * 4) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    empty = spark.createDataFrame([], "cent_id long, cent array<double>")
    with pytest.raises(ValueError, match="centroid"):
        _assign_clusters_sharded(emb, empty)
    zn = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0] * 4)], "cent_id long, cent array<double>"
    )
    with pytest.raises(Exception, match="zero-norm"):
        # the zero-norm row may be in the seed prefix (driver check)
        # or only in a later executor batch — either layer raises
        _assign_clusters_sharded(emb, zn).collect()


# --- ivfpq partial-index refusal (r12 advisory) -------------------------------


def test_ivfpq_empty_books_dir_fails_loudly(spark, tmp_path):
    """An index dir whose pq_books is empty must raise a clear
    rebuild-pointing error, not a bare 'max() arg is an empty
    sequence'."""
    from data_framework_spark.similarity.ivfpq import (
        _load_index_driver_side,
    )

    path = str(tmp_path / "idx")
    spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid int, embedding array<double>"
    ).write.parquet(f"{path}/centroids")
    spark.createDataFrame(
        [], "subspace int, code int, vec array<double>"
    ).write.parquet(f"{path}/pq_books")
    with pytest.raises(ValueError, match="empty"):
        _load_index_driver_side(spark, path)


def test_ivfpq_partial_books_fail_loudly(spark, tmp_path):
    """A partially written pq_books (a missing (subspace, code) slot)
    must refuse to load rather than silently shrinking the codebook to
    max(code)+1 with zero-filled holes."""
    from data_framework_spark.similarity.ivfpq import (
        PQ_M,
        _load_index_driver_side,
    )

    path = str(tmp_path / "idx2")
    spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid int, embedding array<double>"
    ).write.parquet(f"{path}/centroids")
    # dense grid for codes 0..1 across all subspaces, minus one slot
    rows = [
        (s, c, [0.1 * s, 0.2 * c])
        for s in range(PQ_M)
        for c in range(2)
        if not (s == 1 and c == 1)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, vec array<double>"
    ).write.parquet(f"{path}/pq_books")
    with pytest.raises(ValueError, match="incomplete"):
        _load_index_driver_side(spark, path)


def test_ivfpq_rebuild_at_reused_path_serves_new_components(spark, tmp_path):
    """Rebuilding an index at a path this session already searched
    must serve the NEW build's centroids, not the session-cached
    components of the old one (ivfpq_index_write drops the entry)."""
    from data_framework_spark.similarity.ivfpq import (
        _load_index_driver_side,
        ivfpq_index_write,
    )

    rng = np.random.default_rng(5)
    path = str(tmp_path / "idx")

    def build(offset: float) -> list:
        emb = spark.createDataFrame(
            [
                (vid, [float(x) for x in rng.normal(size=64) + offset])
                for vid in range(60)
            ],
            "vec_id long, embedding array<float>",
        )
        ivfpq_index_write(emb, path, ncells=4)
        return _load_index_driver_side(spark, path)[0]

    old = build(0.0)
    new = build(10.0)
    on_disk = [
        [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    ]
    assert new == on_disk
    assert new != old


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


def test_sharded_route_query_level_parity(spark):
    """End-to-end: running the FULL q_semantic_dedup_scaled
    aggregation (within-cluster pair join, dup accounting) over the
    sharded assignment yields the identical (cluster, n_members,
    n_removed) table as the shipped hier-route query — the query-level
    form of the assignment-map parity, so the sharded escape is
    certified against the actual dedup contract, not just the argmax."""
    from pyspark.sql import functions as F

    from data_framework_spark.registry import QUERIES
    from data_framework_spark.similarity.ann import dot, l2_norm
    from data_framework_spark.similarity.semantic import (
        DUP_COS,
        _assign_clusters_sharded,
        scaled_k,
    )
    from data_framework_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    k = scaled_k(emb.count())
    cents_df = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    assigned = _assign_clusters_sharded(emb, cents_df)
    with_norm = assigned.withColumn("nrm", l2_norm(F.col("embedding")))
    a = with_norm.select(
        "cluster",
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
    )
    b = with_norm.select(
        "cluster",
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
    )
    pair_cos = dot(F.col("a_vec"), F.col("b_vec")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    dup_ids = (
        a.join(b, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(pair_cos, 6) >= DUP_COS)
        .select("cluster", F.col("b_id").alias("vec_id"))
        .distinct()
    )
    got = {
        (r["cluster"], r["n_members"], r["n_removed"])
        for r in assigned.join(
            dup_ids.withColumn("is_dup", F.lit(1)),
            ["cluster", "vec_id"],
            "left",
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_removed"),
        )
        .collect()
    }
    want = {
        (r["cluster"], r["n_members"], r["n_removed"])
        for r in QUERIES["semantic_dedup_scaled"].fn(spark, sf).collect()
    }
    assert got == want and len(want) > 0
