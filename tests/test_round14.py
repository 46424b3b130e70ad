"""Round-14 additions: the cross-session persistent index cache
(formats.persistent_index_dir — the r13 verdict's ask 2: the ivfpq
session-first-call Lloyd retrain was the suite's only structurally
growing cold cost; a fresh session now RELOADS a persisted index
whose source fingerprint and build knobs match), plus the integral
`div` tile keys in the distributed CCL (r13 advisory)."""

from __future__ import annotations

import json
import os
import shutil
import struct

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def cache_root(tmp_path, monkeypatch):
    """Redirect the persistent index cache to a throwaway root and
    drop any session-registry entries for the test prefixes, so each
    test observes build-vs-reload from a clean slate."""
    from data_framework_spark.sources import formats

    root = tmp_path / "index_cache"
    monkeypatch.setenv(formats.INDEX_CACHE_ENV, str(root))
    _forget_session_entries("r14unit_")
    from data_framework_spark.similarity.ivfpq import IVFPQ_INDEX_PREFIX

    _forget_session_entries(IVFPQ_INDEX_PREFIX)
    yield str(root)
    _forget_session_entries("r14unit_")
    _forget_session_entries(IVFPQ_INDEX_PREFIX)


def _forget_session_entries(prefix: str) -> None:
    """Simulate a fresh session's empty index registry for `prefix`
    (the applicationId can't change within a test session, but the
    reload-vs-retrain decision lives entirely in the on-disk cache —
    dropping the in-memory entry forces the persistent-path lookup a
    fresh session would perform)."""
    from data_framework_spark.sources.formats import _INDEX_DIRS

    for k in [k for k in _INDEX_DIRS if k[2] == prefix]:
        del _INDEX_DIRS[k]


def test_persistent_index_builds_once_across_sessions(spark, cache_root):
    """Second 'session' (cleared registry, same data, same params)
    must RELOAD: zero additional build calls, same directory."""
    from data_framework_spark.sources.formats import persistent_index_dir

    builds = []

    def build(p):
        builds.append(p)
        with open(os.path.join(p, "payload.txt"), "w") as fh:
            fh.write("x")

    p1 = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", build, params={"fmt": 1, "k": 4}
    )
    assert builds == [f"{p1}.build-{os.getpid()}"]
    assert os.path.isfile(os.path.join(p1, "payload.txt"))
    assert os.path.isfile(os.path.join(p1, "manifest.json"))

    _forget_session_entries("r14unit_")
    p2 = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", build, params={"fmt": 1, "k": 4}
    )
    assert p2 == p1 and len(builds) == 1  # reload, not retrain


def test_persistent_index_param_change_diverges_digest(spark, cache_root):
    """A build-knob change must be a cache MISS (the safety property:
    an ncells adoption or Lloyd-round change can never be served a
    stale index), and the superseded same-source directory is
    evicted."""
    from data_framework_spark.sources.formats import persistent_index_dir

    builds = []
    p1 = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1, "ncells": 16},
    )
    _forget_session_entries("r14unit_")
    p2 = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1, "ncells": 32},
    )
    assert p2 != p1 and len(builds) == 2
    assert not os.path.exists(p1)  # superseded tree evicted
    with open(os.path.join(p2, "manifest.json")) as fh:
        assert json.load(fh)["params"]["ncells"] == 32


def test_persistent_index_source_rewrite_rebuilds(spark, cache_root, tmp_path):
    """Rewriting a source parquet under the same path must diverge
    the fingerprint → rebuild into a new directory, old one evicted
    (the session_index_dir round-8 staleness contract, held across
    sessions)."""
    from data_framework_spark.sources.formats import persistent_index_dir

    sf = tmp_path / "sf"
    sf.mkdir()
    f = sf / "t.parquet"
    f.write_bytes(b"v1-bytes")
    builds = []
    p1 = persistent_index_dir(
        spark, str(sf), "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1},
    )
    f.write_bytes(b"v2-bytes-longer")
    p2 = persistent_index_dir(
        spark, str(sf), "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1},
    )
    assert p2 != p1 and len(builds) == 2
    assert not os.path.exists(p1)


def test_persistent_index_corrupt_manifest_rebuilds(spark, cache_root):
    """A directory whose manifest is unreadable is a dead tree: it
    must be evicted and rebuilt, never served."""
    from data_framework_spark.sources.formats import persistent_index_dir

    builds = []
    p1 = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1},
    )
    with open(os.path.join(p1, "manifest.json"), "w") as fh:
        fh.write("{not json")
    _forget_session_entries("r14unit_")
    p2 = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1},
    )
    assert p2 == p1 and len(builds) == 2  # same digest path, rebuilt


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_ivfpq_reload_path_matches_build_path(spark, cache_root):
    """Query-level contract for ask 2: q_ivfpq_persist_topk answered
    from a RELOADED persistent index (fresh-session simulation) must
    return exactly the rows the building session returned — the
    hashes-can-never-change property of reload-not-retrain."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_INDEX_PREFIX,
        q_ivfpq_persist_topk,
    )

    built = [tuple(r) for r in q_ivfpq_persist_topk(spark, SF_SMALL).collect()]
    assert built
    _forget_session_entries(IVFPQ_INDEX_PREFIX)
    reloaded = [
        tuple(r) for r in q_ivfpq_persist_topk(spark, SF_SMALL).collect()
    ]
    assert reloaded == built


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_ivfpq_stale_cache_unreachable_after_fmt_bump(spark, cache_root, monkeypatch):
    """Bumping IVFPQ_INDEX_FMT (the build-code-change discipline) must
    diverge the digest so the persisted pre-bump index is never
    served."""
    from data_framework_spark.similarity import ivfpq
    from data_framework_spark.sources.formats import get_index_dir

    ivfpq.q_ivfpq_persist_topk(spark, SF_SMALL).collect()
    p1 = get_index_dir(spark, SF_SMALL, ivfpq.IVFPQ_INDEX_PREFIX)
    assert p1 is not None
    _forget_session_entries(ivfpq.IVFPQ_INDEX_PREFIX)
    monkeypatch.setattr(ivfpq, "IVFPQ_INDEX_FMT", ivfpq.IVFPQ_INDEX_FMT + 1)
    p2 = ivfpq.session_ivfpq_index(spark, SF_SMALL)
    assert p2 != p1


# --- shared island-family upstream (r13 verdict ask 4) -----------------------


def _island_2t_dataset(spark):
    import numpy as np

    from data_framework_spark.dataset import SparkDataset
    from data_framework_spark.variable import SparkVariable

    from data_framework_spark.plans.structures import island_jy

    k, eps, phase = 1.0, 0.3, 0.7
    z = np.linspace(-8.0, 8.0, 120)
    x = np.linspace(-np.pi / 2, 2.5 * np.pi, 64)
    zz, xx = np.meshgrid(z, x, indexing="ij")
    b2 = np.tanh(zz)
    jy = island_jy(zz, xx, k)  # must match the family fields bitwise
    b1_t = np.stack(
        [eps * k * np.sin(k * xx), eps * k * np.sin(k * xx - phase)]
    )
    ts = np.array([0.0, 1.0])
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, [z, x], b1_t))
    ds.add_var(
        SparkVariable.from_numpy(spark, "b2", ts, [z, x], np.stack([b2, b2]))
    )
    ds.add_var(
        SparkVariable.from_numpy(spark, "jy", ts, [z, x], np.stack([jy, jy]))
    )
    return ds


def _value_bits(df, col: str = "value") -> list:
    """Sorted (t, i0, i1, bit pattern of `col`) rows: bitwise, so
    -0.0 and +0.0 differ."""
    return sorted(
        (r[0], r[1], r[2], struct.pack("<d", r[3]))
        for r in df.select("t", "i0", "i1", col).collect()
    )


def test_family_build_bitwise_equals_spark_primitives(spark):
    """The one-pass family build must equal, bitwise on every row and
    field, the derivation from the Spark primitives the standalone
    find_structures path uses: tile_apply smoothing of b1/b2/jy and
    calc_fluxfn's window prefix sums on the same 8-phase dataset."""
    from data_framework_spark.plans.structures import (
        ISLAND_FAMILY_SMOOTHING,
        _build_island_family_fields,
        _island_family_dataset,
        _norm_smoothing,
        _smooth_gaussian,
        calc_fluxfn,
    )

    ds = _island_family_dataset(spark)
    sig = _norm_smoothing(ISLAND_FAMILY_SMOOTHING)
    calc_fluxfn(ds, "b1", "b2")
    want = {"psi": ds.variables["flux_fn"].df}
    for col, name in (("sb1", "b1"), ("sb2", "b2"), ("jys", "jy")):
        want[col] = _smooth_gaussian(ds.variables[name], sig[1], sig[2])
    fam = _build_island_family_fields(spark).cache()
    try:
        assert fam.count() == 8 * 120 * 64
        base = sorted(
            tuple(r) for r in fam.select("t", "i0", "i1", "c0", "c1").collect()
        )
        assert base == sorted(
            tuple(r)
            for r in ds.variables["b1"].df.select(
                "t", "i0", "i1", "c0", "c1"
            ).collect()
        )
        for col, df in want.items():
            assert _value_bits(fam, col) == _value_bits(df), col
    finally:
        fam.unpersist()


def test_family_upstream_bitwise_equals_standalone(spark):
    """find_structures fed the sliced 8-phase family upstream must
    produce BITWISE the null coordinates and mask cells the standalone
    (derive-everything) path produces on the same 2-timestep island
    dataset — the property that makes the r14 session cache a plan
    change, not a semantics change. Phase 0.7 exercises the
    0.35*2.0 == 0.7 exact-doubling identity the cache relies on."""
    from data_framework_spark.plans.structures import (
        find_structures,
        island_family_upstream,
    )

    ds_a = _island_2t_dataset(spark)
    find_structures(ds_a, "b1", "b2", smoothing=1, multi_t=True)
    ds_b = _island_2t_dataset(spark)
    up = island_family_upstream(
        spark, "/root/testdata/sf0.001", [(0.0, 0), (1.0, 2)]
    )
    find_structures(
        ds_b, "b1", "b2", smoothing=1, multi_t=True, upstream=up
    )

    assert ds_a.params["x_coords"] == ds_b.params["x_coords"]
    assert ds_a.params["o_coords"] == ds_b.params["o_coords"]
    key = ["t", "i0", "i1"]
    rows_a = sorted(
        tuple(r) for r in ds_a.masks_df.orderBy(*key).collect()
    )
    rows_b = sorted(
        tuple(r) for r in ds_b.masks_df.orderBy(*key).collect()
    )
    assert rows_a == rows_b
    # the variables registered for API parity, bitwise equal
    for name in ("b1_smooth", "b2_smooth", "flux_fn"):
        assert _value_bits(ds_a.variables[name].df) == _value_bits(
            ds_b.variables[name].df
        ), name
    for d in getattr(ds_a, "scratch_cached", []) + getattr(
        ds_b, "scratch_cached", []
    ):
        d.unpersist()


def test_family_upstream_missing_columns_refused(spark):
    """A frame without the upstream contract's columns must be refused
    loudly, not half-consumed."""
    import pytest as _pytest

    from data_framework_spark.plans.structures import find_structures

    ds = _island_2t_dataset(spark)
    bad = ds.variables["b1"].df  # value frame, no sb1/sb2/psi/jys
    with _pytest.raises(ValueError, match="missing columns"):
        find_structures(
            ds, "b1", "b2", smoothing=1, multi_t=True, upstream=bad
        )


# --- sharded-assignment salting escape (r13 verdict ask 5) --------------------


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_sharded_salting_bitwise_invariant_on_hot_cell(spark):
    """The wired hot-coarse-cell escape: a corpus where (by
    construction) virtually every vector probes ONE coarse cell —
    the skew regime the salting exists for — must yield BITWISE the
    same (vec_id → cluster) map at salt 1, 3, and 4, and equal the
    flat in-driver route. Every (cell, salt) cogroup still scores the
    cell's full member set, so salt is a pure partitioning knob."""
    import numpy as np

    from data_framework_spark.similarity.semantic import (
        _assign_clusters_arrow,
        _assign_clusters_sharded,
    )

    dim, k, n = 64, 16, 400
    rng = np.random.default_rng(20260814)
    hot = np.zeros(dim)
    hot[0] = 1.0
    # all centroids AND all vectors in one tight cap around `hot`:
    # G = ceil(sqrt(16)) = 4 coarse cells, but everything lands in the
    # cap's cell — a maximally hot cogroup key
    C = hot[None, :] + 0.01 * rng.standard_normal((k, dim))
    C /= np.sqrt((C * C).sum(axis=1))[:, None]
    X = C[np.arange(n) % k] + 0.004 * rng.standard_normal((n, dim))
    cents_rows = [(i, [float(x) for x in C[i]]) for i in range(k)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    cents_df = spark.createDataFrame(
        cents_rows, "cent_id long, cent array<double>"
    )
    flat = {
        r["vec_id"]: r["cluster"]
        for r in _assign_clusters_arrow(emb, cents_rows).collect()
    }
    maps = {}
    for s in (1, 3, 4):
        maps[s] = {
            r["vec_id"]: r["cluster"]
            for r in _assign_clusters_sharded(emb, cents_df, salt=s).collect()
        }
        assert len(maps[s]) == n
    assert maps[1] == maps[3] == maps[4] == flat


def test_sharded_salting_rejects_bad_salt(spark):
    import numpy as np
    import pytest as _pytest

    from data_framework_spark.similarity.semantic import (
        _assign_clusters_sharded,
    )

    emb = spark.createDataFrame(
        [(0, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0] * 8)], "cent_id long, cent array<double>"
    )
    with _pytest.raises(ValueError, match="salt"):
        _assign_clusters_sharded(emb, cents, salt=0).collect()


# --- refine-shortlist R ~ pool/10 policy (r13 verdict ask 3) ------------------


def test_refine_shortlist_r_values():
    """The wired policy's pinned operating points: shipped SFs stay at
    the 100 floor (hashes unchanged), the 10x/100x corpora get the
    1000/10000-row shortlists that recover their recall (measured
    0.80 -> 1.00 and 0.50 -> 1.00, SURVEY §8 r14), and the cap binds
    at extreme N where scan-fraction, not shortlist, is the lever."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_REFINE_R_CAP,
        refine_shortlist_r,
    )

    assert refine_shortlist_r(500) == 100
    assert refine_shortlist_r(2000) == 100
    assert refine_shortlist_r(20000) == 1000
    assert refine_shortlist_r(200000) == 10000
    assert refine_shortlist_r(10**9) == IVFPQ_REFINE_R_CAP


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_refine_r_sql_matches_python_policy():
    """The oracle's count(*)-derived R expression must yield the exact
    integer refine_shortlist_r computes, for counts spanning the
    floor, the live band, and the cap — the hash-divergence property
    the wiring relies on."""
    import duckdb

    from data_framework_spark.similarity.ivfpq import (
        _REFINE_R_SQL,
        refine_shortlist_r,
    )

    con = duckdb.connect()
    for n in (1, 7, 500, 2000, 3200, 3201, 20000, 199999, 524288, 10**9):
        con.execute("DROP TABLE IF EXISTS embeddings")
        con.execute(
            f"CREATE TABLE embeddings AS SELECT * FROM range({n}) t(vec_id)"
        )
        got = con.execute(f"SELECT {_REFINE_R_SQL}").fetchone()[0]
        assert got == refine_shortlist_r(n), n


# --- r14 verify-window rotation (r13 verdict ask 1) ---------------------------


# The r14 rotation-window test was superseded by
# tests/test_round15.py::test_r15_verify_window_arithmetic — each
# round's window replaces the previous round's arithmetic pin (the
# r13 -> r14 precedent).


# --- cross-session PQ codebook persistence (r13 verdict, pq_adc cold) ---------


def test_pq_books_persist_and_reload_bitwise(spark, cache_root):
    """trained_codebooks persisted by one 'session' must be reloaded
    BITWISE by the next (cleared session cache), and a filtered view
    must never be served the full-corpus books (the round-10 advisory,
    held across sessions by the stripped-plan fingerprint)."""
    import numpy as np

    from data_framework_spark.similarity import pq
    from data_framework_spark.sources.tables import load_table

    pq._BOOKS_CACHE.clear()
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = pq.trained_codebooks(emb)
    pq._BOOKS_CACHE.clear()
    import time

    t0 = time.perf_counter()
    b2 = pq.trained_codebooks(emb)
    reload_s = time.perf_counter() - t0
    assert np.array_equal(b1, b2)
    assert reload_s < 2.0  # reload, not retrain (train is >>2 s)
    # distinct plan -> distinct digest -> no cross-serving
    filt = emb.filter("vec_id < 300")
    assert pq._stable_plan_fp(filt) != pq._stable_plan_fp(emb)


def test_pq_books_fmt_bump_diverges(spark, cache_root, monkeypatch):
    from data_framework_spark.similarity import pq
    from data_framework_spark.sources.tables import load_table

    pq._BOOKS_CACHE.clear()
    emb = load_table(spark, SF_SMALL, "embeddings")
    pq.trained_codebooks(emb)
    import glob
    import os

    files = glob.glob(os.path.join(cache_root, "pq_books2_*.npy"))
    assert len(files) == 1
    pq._BOOKS_CACHE.clear()
    monkeypatch.setattr(pq, "PQ_BOOKS_FMT", pq.PQ_BOOKS_FMT + 1)
    pq.trained_codebooks(emb)
    files2 = glob.glob(os.path.join(cache_root, "pq_books2_*.npy"))
    # same path-digest -> superseded file evicted, one live codebook
    assert len(files2) == 1 and files2 != files


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_sharded_salting_randomized_sweep(spark):
    """Randomized geometries (isotropic, clustered, mixed-norm) ×
    salt ∈ {1, 2, 5}: the salted sharded route must equal the flat
    in-driver route on every corpus — the r13 deep-sweep precedent
    applied to the r14 salting escape."""
    import numpy as np

    from data_framework_spark.similarity.semantic import (
        _assign_clusters_arrow,
        _assign_clusters_sharded,
    )

    for seed in range(4):
        rng = np.random.default_rng(20260816 + seed)
        n, k, dim = 150 + 50 * seed, 9 + seed, 16
        if seed % 2:
            centers = rng.standard_normal((3, dim))
            X = centers[rng.integers(0, 3, n)] + 0.05 * rng.standard_normal(
                (n, dim)
            )
        else:
            X = rng.standard_normal((n, dim))
        X *= rng.uniform(0.2, 5.0, size=(n, 1))  # mixed norms
        C = X[:k] * rng.uniform(0.5, 2.0, size=(k, 1))
        cents_rows = [(i, [float(x) for x in C[i]]) for i in range(k)]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        cents_df = spark.createDataFrame(
            cents_rows, "cent_id long, cent array<double>"
        )
        flat = {
            r["vec_id"]: r["cluster"]
            for r in _assign_clusters_arrow(emb, cents_rows).collect()
        }
        for s in (1, 2, 5):
            got = {
                r["vec_id"]: r["cluster"]
                for r in _assign_clusters_sharded(
                    emb, cents_df, salt=s
                ).collect()
            }
            assert got == flat and len(got) == n, (seed, s)


def test_persistent_index_same_session_param_change_not_served(spark, cache_root):
    """Two same-prefix calls with DIFFERENT params inside one session:
    the second must never be served the first's directory (the session
    registry keys on (app, sf_dir, prefix, fingerprint) only — the
    fast path must re-validate the manifest digest)."""
    from data_framework_spark.sources.formats import persistent_index_dir

    builds = []
    p1 = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1, "ncells": 16},
    )
    # NO session-registry forget — same session, different params
    p2 = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1, "ncells": 64},
    )
    assert p2 != p1 and len(builds) == 2


def test_persistent_index_failed_build_leaves_no_tmp(spark, cache_root):
    """A build that raises must clean its .build- tmp tree (eviction
    deliberately never touches in-flight dirs, so a leak here would
    be permanent) and leave the cache serviceable for a retry."""
    import glob

    import pytest as _pytest

    from data_framework_spark.sources.formats import persistent_index_dir

    def bad(p):
        raise RuntimeError("boom")

    with _pytest.raises(RuntimeError, match="boom"):
        persistent_index_dir(
            spark, SF_SMALL, "r14unit_", bad, params={"fmt": 1}
        )
    assert glob.glob(os.path.join(cache_root, "*.build-*")) == []
    ok = []
    p = persistent_index_dir(
        spark, SF_SMALL, "r14unit_", lambda q: ok.append(q),
        params={"fmt": 1},
    )
    assert ok and os.path.isdir(p)
