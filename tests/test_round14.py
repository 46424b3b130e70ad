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


def test_persistent_index_builds_once_across_sessions(cache_root):
    """A second call (as a fresh session makes it: same data, same
    params) must RELOAD: zero additional build calls, same
    directory."""
    from data_framework_spark.sources.formats import persistent_index_dir

    builds = []

    def build(p):
        builds.append(p)
        with open(os.path.join(p, "payload.txt"), "w") as fh:
            fh.write("x")

    p1 = persistent_index_dir(
        SF_SMALL, "r14unit_", build, params={"fmt": 1, "k": 4}
    )
    assert builds == [f"{p1}.build-{os.getpid()}"]
    assert os.path.isfile(os.path.join(p1, "payload.txt"))
    assert os.path.isfile(os.path.join(p1, "manifest.json"))

    p2 = persistent_index_dir(
        SF_SMALL, "r14unit_", build, params={"fmt": 1, "k": 4}
    )
    assert p2 == p1 and len(builds) == 1  # reload, not retrain


def test_persistent_index_param_change_diverges_digest(cache_root):
    """A build-knob change must be a cache MISS (the safety property:
    an ncells adoption or Lloyd-round change can never be served a
    stale index), and the superseded same-source directory is
    evicted."""
    from data_framework_spark.sources.formats import persistent_index_dir

    builds = []
    p1 = persistent_index_dir(
        SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1, "ncells": 16},
    )
    p2 = persistent_index_dir(
        SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1, "ncells": 32},
    )
    assert p2 != p1 and len(builds) == 2
    assert not os.path.exists(p1)  # superseded tree evicted
    with open(os.path.join(p2, "manifest.json")) as fh:
        assert json.load(fh)["params"]["ncells"] == 32


def test_persistent_index_source_rewrite_rebuilds(cache_root, tmp_path):
    """Rewriting a source parquet under the same path must diverge
    the fingerprint → rebuild into a new directory, old one evicted
    (the round-8 staleness contract, held across sessions)."""
    from data_framework_spark.sources.formats import persistent_index_dir

    sf = tmp_path / "sf"
    sf.mkdir()
    f = sf / "t.parquet"
    f.write_bytes(b"v1-bytes")
    builds = []
    p1 = persistent_index_dir(
        str(sf), "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1},
    )
    f.write_bytes(b"v2-bytes-longer")
    p2 = persistent_index_dir(
        str(sf), "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1},
    )
    assert p2 != p1 and len(builds) == 2
    assert not os.path.exists(p1)


def test_persistent_index_corrupt_manifest_rebuilds(cache_root):
    """A directory whose manifest is unreadable is a dead tree: it
    must be evicted and rebuilt, never served."""
    from data_framework_spark.sources.formats import persistent_index_dir

    builds = []
    p1 = persistent_index_dir(
        SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1},
    )
    with open(os.path.join(p1, "manifest.json"), "w") as fh:
        fh.write("{not json")
    p2 = persistent_index_dir(
        SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1},
    )
    assert p2 == p1 and len(builds) == 2  # same digest path, rebuilt


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_ivfpq_reload_path_matches_build_path(spark, cache_root):
    """Query-level contract for ask 2: q_ivfpq_persist_topk answered
    from a RELOADED persistent index (fresh-session simulation) must
    return exactly the rows the building session returned — the
    hashes-can-never-change property of reload-not-retrain."""
    from data_framework_spark import artifacts
    from data_framework_spark.similarity.ann import evict_route
    from data_framework_spark.similarity.ivfpq import q_ivfpq_persist_topk

    built = [tuple(r) for r in q_ivfpq_persist_topk(spark, SF_SMALL).collect()]
    assert built
    # what a fresh session would not have: the cached route result and
    # the driver-side index components
    evict_route(spark, SF_SMALL, "ivfpq_topk")
    artifacts.evict(spark, "ivfpq_components")
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
    p1 = get_index_dir(SF_SMALL, ivfpq.IVFPQ_INDEX_PREFIX)
    assert p1 is not None
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


def test_persistent_index_same_session_param_change_not_served(cache_root):
    """Two same-prefix calls with DIFFERENT params inside one session:
    the second must never be served the first's directory (the hit
    path validates the manifest digest, which covers the params)."""
    from data_framework_spark.sources.formats import persistent_index_dir

    builds = []
    p1 = persistent_index_dir(
        SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1, "ncells": 16},
    )
    p2 = persistent_index_dir(
        SF_SMALL, "r14unit_", lambda p: builds.append(p),
        params={"fmt": 1, "ncells": 64},
    )
    assert p2 != p1 and len(builds) == 2


def test_persistent_index_failed_build_leaves_no_tmp(cache_root):
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
            SF_SMALL, "r14unit_", bad, params={"fmt": 1}
        )
    assert glob.glob(os.path.join(cache_root, "*.build-*")) == []
    ok = []
    p = persistent_index_dir(
        SF_SMALL, "r14unit_", lambda q: ok.append(q),
        params={"fmt": 1},
    )
    assert ok and os.path.isdir(p)
