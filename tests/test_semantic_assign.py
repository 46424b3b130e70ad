"""Semantic-dedup cluster assignment (similarity/semantic.py): the
HOF reference route, the flat Arrow GEMM, the exact hierarchical
(hier) route, the sharded route past the driver-collect cap, the
rule that picks between hier and sharded, and the dedup-count kernel
fed by the routed assignment.

Every route implements one contract — cosine rounded half-away to
6dp, argmax ties to the smallest cent_id — so on identical inputs
their (vec_id → cluster) maps must be equal, not close."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

SF01 = "/root/testdata/sf0.01"
ROUTES = ("flat", "hier", "sharded")


def _emb(spark, X: np.ndarray):
    """(vec_id, embedding array<float>) over the rows of X."""
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )


def _shipped(spark):
    """The shipped sf0.001 embeddings (500 isotropic vectors)."""
    from data_framework_spark.sources.tables import load_table

    return load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )


def _collected_cents(emb, pred: str) -> list:
    """The (vec_id, embedding) rows matching `pred`, as centroids."""
    return emb.filter(pred).orderBy("vec_id").collect()


def _assign(spark, route: str, emb, cents_rows: list):
    """`route`'s assignment frame; the sharded route takes the
    centroids as a (cent_id, cent) frame, the others as rows."""
    from data_framework_spark.similarity import semantic as sem

    if route == "sharded":
        cents = spark.createDataFrame(
            [(int(r[0]), [float(x) for x in r[1]]) for r in cents_rows],
            "cent_id long, cent array<double>",
        )
        return sem._assign_clusters_sharded(emb, cents)
    fn = {"flat": sem._assign_clusters_arrow, "hier": sem._assign_clusters_hier}
    return fn[route](emb, cents_rows)


def _route_maps(spark, emb, cents_rows: list, routes=ROUTES) -> list:
    """One (vec_id → cluster) map per route in `routes`."""
    return [
        {
            r["vec_id"]: r["cluster"]
            for r in _assign(spark, route, emb, cents_rows).collect()
        }
        for route in routes
    ]


# --- fixed corpora: (vectors, centroid rows, planted map or None) -----------


def _clustered():
    """24 well-separated unit anchors, 60 members each with small
    deterministic perturbations; the anchors are the centroids, so
    every vector must land on its own anchor."""
    dim, n_anchor, per = 64, 24, 60
    anchors = np.zeros((n_anchor, dim))
    for a in range(n_anchor):
        anchors[a, a % dim] = 1.0
        anchors[a, (a * 7 + 11) % dim] = 0.5 if a % 2 else -0.5
    anchors /= np.sqrt((anchors * anchors).sum(axis=1))[:, None]
    X, planted = [], {}
    for a in range(n_anchor):
        for j in range(per):
            v = anchors[a].copy()
            v[(a + j) % dim] += 0.02 + 0.001 * (j % 7)
            v[(a + 3 * j + 1) % dim] -= 0.015
            planted[len(X)] = a
            X.append(v)
    cents = [(a, [float(x) for x in anchors[a]]) for a in range(n_anchor)]
    return np.asarray(X), cents, planted


def _two_level():
    """512 vectors in 4 super-topics × 16 sub-topics: the low vec_ids
    taken as centroids inherit the super-topic structure, so the
    coarse cells align with super-topics and their bounds prune."""
    dim, k, n, s = 64, 16, 512, 4
    rng = np.random.default_rng(20260816)
    supers = rng.standard_normal((s, dim))
    supers /= np.sqrt((supers * supers).sum(axis=1))[:, None]
    subs = supers[np.arange(k) % s] + 0.045 * rng.standard_normal((k, dim))
    subs /= np.sqrt((subs * subs).sum(axis=1))[:, None]
    X = subs[np.arange(n) % k] + 0.02 * rng.standard_normal((n, dim))
    C = X[:k].astype(np.float32)  # the stored embeddings of vec_id < k
    return X, [(i, [float(x) for x in C[i]]) for i in range(k)], None


def _tie():
    """Duplicated centroids (0 and 2 identical, 1 = 0 scaled) make the
    6dp cosines exactly equal, so ties-to-smallest-cid decides; the
    vectors equal to a centroid exercise the cos = 1.0 edge. Tied
    centroids may land in different coarse cells of the sharded
    route, so its cross-cell combine must keep the convention."""
    dim = 64
    base, other = np.zeros(dim), np.zeros(dim)
    base[0], other[1] = 1.0, 1.0
    cents = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 2.5]),
        (2, [float(x) for x in base]),
        (5, [float(x) for x in other]),
    ]
    X = []
    for i in range(40):
        v = base.copy() if i % 2 == 0 else other.copy()
        v[(i * 3) % dim] += 1e-3 * (i % 5)
        X.append(v)
    return np.asarray(X), cents, {i: 0 if i % 2 == 0 else 5 for i in range(40)}


def _hot_cell():
    """Every centroid and vector in one tight cap: G = 4 coarse cells,
    but virtually every vector probes one cell's shard — the most
    skewed cogroup key the sharded route can meet."""
    dim, k, n = 64, 16, 400
    rng = np.random.default_rng(20260814)
    hot = np.zeros(dim)
    hot[0] = 1.0
    C = hot[None, :] + 0.01 * rng.standard_normal((k, dim))
    C /= np.sqrt((C * C).sum(axis=1))[:, None]
    X = C[np.arange(n) % k] + 0.004 * rng.standard_normal((n, dim))
    return X, [(i, [float(x) for x in C[i]]) for i in range(k)], None


def _refusal_emb(spark):
    """Eight 4-d vectors for the refusal tests."""
    return _emb(spark, np.asarray([[float(i + 1)] * 4 for i in range(8)]))


# A zero-norm centroid among the sharded route's seeds, and one past
# them (3 centroids → 2 seeds: cent 2 is only seen by an executor).
ZERO_IN_SEEDS = [(0, [0.0] * 4), (1, [1.0] * 4)]
ZERO_PAST_SEEDS = [(0, [1.0] * 4), (1, [2.0, 1.0, 1.0, 1.0]), (2, [0.0] * 4)]


# --- per-pair cosines ---------------------------------------------------------


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


# --- route parity -------------------------------------------------------------


def test_assign_clusters_arrow_equals_hof_route(spark):
    """The K~N/const variant swaps the contract's crossJoin-of-HOF-
    cosines assignment for one Arrow GEMM pass (the crossJoin form
    measured 58× at 10× rows). Both routes implement the same
    arithmetic contract, so on the full sf0.001 corpus, with a
    contiguous and a sparse cid set, the maps must agree EXACTLY;
    6dp rounding absorbs the GEMM-vs-fold ulp gap."""
    from data_framework_spark.similarity.semantic import _assign_clusters

    emb = _shipped(spark)
    for pred in ("vec_id < 8", "vec_id % 37 = 3"):
        rows = _collected_cents(emb, pred)
        cents = spark.createDataFrame(
            [(int(r[0]), list(r[1])) for r in rows],
            "cent_id long, cent array<float>",
        )
        hof = {
            r["vec_id"]: r["cluster"]
            for r in _assign_clusters(emb, cents).collect()
        }
        (gemm,) = _route_maps(spark, emb, rows, ("flat",))
        assert hof == gemm and len(hof) == 500


def test_assign_clusters_hier_equals_flat_on_shipped_corpus(spark):
    """On the shipped isotropic corpus every pruning bound is loose
    and the hier search degenerates to scanning every cell (the
    honest worst case); its map must still equal the flat GEMM's, with
    both a contiguous and a sparse cid set."""
    emb = _shipped(spark)
    for pred in ("vec_id < 8", "vec_id % 37 = 3"):
        flat, hier = _route_maps(
            spark, emb, _collected_cents(emb, pred), ("flat", "hier")
        )
        assert flat == hier and len(flat) == 500, pred


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_sharded_equals_flat_and_hier_on_shipped_corpus(spark):
    """The same worst case for the sharded route: loose bounds make
    phase B explode nearly every cell."""
    emb = _shipped(spark)
    for pred in ("vec_id < 8", "vec_id % 37 = 3"):
        cents_rows = _collected_cents(emb, pred)
        flat, hier, shard = _route_maps(spark, emb, cents_rows)
        assert flat == hier == shard and len(shard) == 500, pred


@pytest.mark.parametrize(
    "corpus", [_clustered, _hot_cell], ids=["clustered", "hot_cell"]
)
def test_routes_agree_on_fixed_corpora(spark, corpus):
    """All three routes return one map on corpora built for their hard
    cases: pruning that really skips cells (clustered) and a hot
    coarse cell (hot_cell). Where the corpus plants its answer, the
    map must also be that answer. The two_level and tie corpora are
    pinned per route in tests/test_round12.py (hier) and
    tests/test_round13.py (sharded)."""
    X, cents_rows, planted = corpus()
    flat, hier, shard = _route_maps(spark, _emb(spark, X), cents_rows)
    assert flat == hier == shard and len(flat) == len(X)
    if planted is not None:
        assert flat == planted


def pruned_fraction(C: np.ndarray, cids: np.ndarray, X: np.ndarray) -> float:
    """Driver-side replica of `_assign_clusters_hier`'s pruning loop
    that returns evaluated-pairs / (N·K)."""
    from data_framework_spark.similarity.semantic import (
        _cell_upper_bounds,
        _hier_coarse_index,
    )

    idx = _hier_coarse_index(cids, C)
    Mu, members, radius = idx["Mu"], idx["members"], idx["radius"]
    n = len(X)
    nx = np.sqrt((X * X).sum(axis=1))
    Cn = np.sqrt((C * C).sum(axis=1))
    ub = _cell_upper_bounds(X, nx, Mu, radius)
    best_raw = np.full(n, -np.inf)
    done = np.zeros((n, len(members)), dtype=bool)
    evaluated = 0

    def eval_cell(rows, g):
        nonlocal evaluated
        mem = members[g]
        raw = (X[rows] @ C[mem].T) / (nx[rows, None] * Cn[mem][None, :])
        best_raw[rows] = np.maximum(best_raw[rows], raw.max(axis=1))
        done[rows, g] = True
        evaluated += len(rows) * len(mem)

    nonempty = [g for g in range(len(members)) if len(members[g])]
    g0 = np.asarray(nonempty)[ub[:, nonempty].argmax(axis=1)]
    for g in np.unique(g0):
        eval_cell(np.where(g0 == g)[0], int(g))
    for g in sorted(nonempty, key=lambda g: -float(ub[:, g].max())):
        rows = np.where(~done[:, g] & (ub[:, g] >= best_raw - 2e-6))[0]
        if len(rows):
            eval_cell(rows, int(g))
    return evaluated / (n * len(C))


def test_two_level_corpus_engages_pruning():
    """The two_level parity tests (tests/test_round12.py and
    tests/test_round13.py) certify the PRUNED search only if the
    bounds really skip cells there: the hier loop must evaluate
    well under all (vector, centroid) pairs (measured ~0.17)."""
    X, cents_rows, _ = _two_level()
    C = np.asarray([r[1] for r in cents_rows])
    cids = np.asarray([r[0] for r in cents_rows])
    assert pruned_fraction(C, cids, X) < 0.6


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_routes_agree_on_random_corpora(spark):
    """Randomized geometry lands cosines at arbitrary distances from
    the 6dp grid; random K exercises 1 to >3 coarse cells; clustered
    corpora let the bounds prune; mixed norms scale vectors and
    centroids independently (cosine ignores norm, the fixed-point
    coarse trainer does not)."""
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
        clustered = data.draw(st.booleans())
        mixed_norm = data.draw(st.booleans())
        seed = data.draw(st.integers(0, 2**31 - 1))
        rng = np.random.default_rng(seed)
        if clustered:
            anchors = rng.standard_normal((k, dim))
            anchors /= np.sqrt((anchors * anchors).sum(axis=1))[:, None]
            X = anchors[np.arange(n) % k] + 0.05 * rng.standard_normal(
                (n, dim)
            )
        else:
            X = rng.standard_normal((n, dim))
        C = X[:k].astype(np.float32).astype(np.float64)
        if mixed_norm:
            X *= rng.uniform(0.2, 5.0, size=(n, 1))
            C = C * rng.uniform(0.5, 2.0, size=(k, 1))
        cents_rows = [(i, [float(x) for x in C[i]]) for i in range(k)]
        flat, hier, shard = _route_maps(spark, _emb(spark, X), cents_rows)
        assert flat == hier == shard and len(flat) == n, (
            seed, n, dim, k, clustered, mixed_norm,
        )

    run()


# --- routing between hier and sharded -----------------------------------------


def _route_spies(monkeypatch):
    """Wrap both assignment engines with call recorders."""
    from data_framework_spark.similarity import semantic as sem

    calls = []
    orig_hier, orig_shard = sem._assign_clusters_hier, sem._assign_clusters_sharded

    def hier(*a, **kw):
        calls.append("hier")
        return orig_hier(*a, **kw)

    def shard(*a, **kw):
        calls.append("sharded")
        return orig_shard(*a, **kw)

    monkeypatch.setattr(sem, "_assign_clusters_hier", hier)
    monkeypatch.setattr(sem, "_assign_clusters_sharded", shard)
    return calls


def test_route_cap_arithmetic_pinned():
    """The routing boundary is derived, not tuned: a 2 GiB driver
    budget over the measured 2816-bytes/row collect cost (SURVEY.md
    §8, r15 crossover measurement: 2610-2811 B/row, flat from K=50k
    to 2M). Changing either constant must change this pin
    consciously."""
    from data_framework_spark.similarity import semantic as sem

    assert sem.DRIVER_COLLECT_BUDGET_BYTES == 2 * 1024**3
    assert sem.CENT_ROW_DRIVER_BYTES == 2816
    assert (
        sem.HIER_ROUTE_MAX_K
        == sem.DRIVER_COLLECT_BUDGET_BYTES // sem.CENT_ROW_DRIVER_BYTES
        == 762_600
    )


def test_auto_route_parity_at_boundary(spark, monkeypatch):
    """One K, both sides of the cap: with the cap set to K the auto
    route must take hier; at K-1 it must take sharded; the two
    assignments must be BITWISE identical (so the routing rule can
    never change a result hash)."""
    from data_framework_spark.similarity import semantic as sem

    emb = _shipped(spark)
    k = sem.scaled_k(emb.count())  # 8 at sf0.001 (500 rows / 64)
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    calls = _route_spies(monkeypatch)

    monkeypatch.setattr(sem, "HIER_ROUTE_MAX_K", k)
    via_hier = {
        r["vec_id"]: r["cluster"]
        for r in sem.assign_clusters_auto(emb, cents, k=k).collect()
    }
    monkeypatch.setattr(sem, "HIER_ROUTE_MAX_K", k - 1)
    via_sharded = {
        r["vec_id"]: r["cluster"]
        for r in sem.assign_clusters_auto(emb, cents, k=k).collect()
    }
    assert calls == ["hier", "sharded"]  # the rule actually switched
    assert via_hier == via_sharded  # and the switch is invisible
    assert len(via_hier) == 500


def test_scaled_dedup_routes_hier_below_cap(spark, monkeypatch):
    """Every shipped SF sits far below HIER_ROUTE_MAX_K, so the
    driver-checked scaled query must route hier (the faster engine
    everywhere both run — the r14 crossover measurement)."""
    from data_framework_spark.similarity import semantic as sem

    calls = _route_spies(monkeypatch)
    sem.q_semantic_dedup_scaled(spark, SF_SMALL).collect()
    assert calls == ["hier"]


# --- dedup counts over a routed assignment ------------------------------------


def _join_tail_counts(assigned) -> set:
    """(cluster, n_members, n_removed) by the self-join + distinct +
    left-join + aggregate tail that `_cluster_dedup_counts` replaced:
    the independent reference for the duplicate accounting."""
    from data_framework_spark.similarity.ann import dot, l2_norm
    from data_framework_spark.similarity.semantic import DUP_COS

    with_norm = assigned.withColumn("nrm", l2_norm(F.col("embedding")))

    def side(p: str):
        return with_norm.select(
            "cluster",
            F.col("vec_id").alias(f"{p}_id"),
            F.col("embedding").alias(f"{p}_vec"),
            F.col("nrm").alias(f"{p}_nrm"),
        )

    pair_cos = dot(F.col("a_vec"), F.col("b_vec")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    dup_ids = (
        side("a")
        .join(side("b"), "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.round(pair_cos, 6) >= DUP_COS)
        .select("cluster", F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return {
        tuple(r)
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
        .select("cluster", "n_members", "n_removed")
        .collect()
    }


def test_sharded_route_query_level_parity(spark):
    """End-to-end: the dedup accounting over the sharded assignment
    yields the identical (cluster, n_members, n_removed) table as the
    shipped hier-route query — the query-level form of the
    assignment-map parity."""
    from data_framework_spark.registry import QUERIES
    from data_framework_spark.similarity.semantic import (
        _assign_clusters_sharded,
        scaled_k,
    )

    emb = _shipped(spark)
    k = scaled_k(emb.count())
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    got = _join_tail_counts(_assign_clusters_sharded(emb, cents))
    want = {
        tuple(r)
        for r in QUERIES["semantic_dedup_scaled"]
        .fn(spark, SF_SMALL)
        .select("cluster", "n_members", "n_removed")
        .collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow  # r18: sf0.01 double-run pin; slow lane
class TestSemanticDedupKernel:
    def test_routed_assignment_matches_hof_route_fixed_k(self, spark):
        """q_semantic_dedup/q_cluster_purity assign via
        assign_clusters_auto at the contract's fixed K; the
        crossJoin-of-HOF-cosines route must agree exactly."""
        import data_framework_spark.similarity.semantic as SM
        from data_framework_spark.sources.tables import load_table

        emb = load_table(spark, SF01, "embeddings").select(
            "vec_id", "embedding"
        )
        old = SM._assign_clusters(emb).select("vec_id", "cluster").collect()
        new = (
            SM.assign_clusters_auto(
                emb, SM._seed_centroids(emb), k=SM.K_CLUSTERS
            )
            .select("vec_id", "cluster")
            .collect()
        )
        assert sorted(map(tuple, old)) == sorted(map(tuple, new))

    def test_cluster_dedup_counts_matches_join_tail(self, spark):
        """The cluster-cogrouped dup-accounting kernel must reproduce
        the former join tail row for row."""
        import data_framework_spark.similarity.semantic as SM
        from data_framework_spark.sources.tables import load_table

        emb = load_table(spark, SF01, "embeddings").select(
            "vec_id", "embedding"
        )
        assigned = SM.assign_clusters_auto(
            emb, SM._seed_centroids(emb), k=SM.K_CLUSTERS
        )
        new = [tuple(r) for r in SM._cluster_dedup_counts(assigned).collect()]
        assert new == sorted(_join_tail_counts(assigned))
