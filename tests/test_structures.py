"""Golden end-to-end test of the structure-finding pipelines
(SURVEY.md §5.4): a synthetic island-chain field with analytically
known X/O nulls; `find_structures` must recover them within
tolerance, plus validation-path checks (FIXTURES.md A4)."""

from __future__ import annotations

import numpy as np
import pytest

from data_framework_spark.dataset import SparkDataset
from data_framework_spark.plans.structures import calc_fluxfn, find_structures
from data_framework_spark.variable import SparkVariable


def _island_chain(spark):
    """ψ = ln(cosh(z)) + ε·cos(k·x): X points at (z=0, x=0, 2π/k),
    O point at (z=0, x=π/k); jy peaks along z=0."""
    k, eps = 1.0, 0.3
    z = np.linspace(-8.0, 8.0, 170)
    x = np.linspace(-np.pi / 2, 2.5 * np.pi, 96)
    zz, xx = np.meshgrid(z, x, indexing="ij")
    b1 = eps * k * np.sin(k * xx)  # -∂ψ/∂x
    b2 = np.tanh(zz)  # ∂ψ/∂z
    # strong modulated sheet at z=0 over a lattice of weak bumps —
    # the 3σ outlier threshold needs a population of modest local
    # maxima (spaced wider than the 10×10 extrema window) for the
    # sheet peaks to stand out from
    jy = 8.0 / np.cosh(zz) ** 2 * (1 + 0.3 * np.cos(k * xx)) + 0.5 * np.cos(
        4.7 * zz
    ) * np.cos(4.5 * xx)
    ts = np.array([0.0])
    mesh = [z, x]
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, mesh, b1[None]))
    ds.add_var(SparkVariable.from_numpy(spark, "b2", ts, mesh, b2[None]))
    ds.add_var(SparkVariable.from_numpy(spark, "jy", ts, mesh, jy[None]))
    return ds, k, eps


@pytest.fixture(scope="module")
def found(spark):
    ds, k, eps = _island_chain(spark)
    return find_structures(ds, "b1", "b2", smoothing=1), k


def test_flux_function_recovers_psi(spark):
    ds, k, eps = _island_chain(spark)
    calc_fluxfn(ds, "b1", "b2")
    flux = ds.variables["flux_fn"].to_numpy()[0]
    z = ds.variables["b1"].mesh[0]
    x = ds.variables["b1"].mesh[1]
    zz, xx = np.meshgrid(z, x, indexing="ij")
    psi = np.log(np.cosh(zz)) + eps * np.cos(k * xx)
    # discrete cumsum integral ≈ analytic ψ up to a constant offset
    # and O(h) quadrature error
    diff = flux - psi
    assert diff.std() < 0.1


def test_x_and_o_points_recovered(found):
    ds, k = found
    x_pts = np.array(ds.params["x_coords"]).reshape(-1, 2)
    o_pts = np.array(ds.params["o_coords"]).reshape(-1, 2)
    assert len(x_pts) >= 2 and len(o_pts) >= 1
    # all nulls on the z=0 line
    assert np.abs(x_pts[:, 0]).max() < 0.3
    assert np.abs(o_pts[:, 0]).max() < 0.3
    # X at x ≈ 0 and 2π; O at x ≈ π
    for target in (0.0, 2 * np.pi):
        assert np.abs(x_pts[:, 1] - target).min() < 0.3
    assert np.abs(o_pts[:, 1] - np.pi).min() < 0.3
    # no X misclassified as O or vice versa
    assert np.abs(np.cos(k * x_pts[:, 1])).min() > 0.7  # cos ±1 at X
    assert np.abs(np.cos(k * o_pts[:, 1]) + 1).max() < 0.3  # cos −1 at O


def test_output_variables_registered(found):
    ds, _ = found
    for name in (
        "b1_smooth",
        "b2_smooth",
        "flux_fn",
        "fluxfn_hessian_det",
        "separatrices",
        "o_structures",
        "current_sheets",
    ):
        assert name in ds.variables, name


def test_current_sheet_found_at_midplane(found):
    ds, _ = found
    cs = ds.variables["current_sheets"].to_numpy()[0]
    z = ds.variables["b1"].mesh[0]
    assert (cs == 1).any()
    # positive sheet concentrated near z = 0
    rows = np.nonzero((cs == 1).any(axis=1))[0]
    assert np.abs(z[rows]).max() < 1.0
    # nothing negative in a purely positive current field
    assert not (cs == -1).any()


def test_o_structures_island_around_o_point(found):
    ds, _ = found
    o_mask = ds.variables["o_structures"].to_numpy()[0]
    assert o_mask.sum() > 0
    z = ds.variables["b1"].mesh[0]
    x = ds.variables["b1"].mesh[1]
    rows, cols = np.nonzero(o_mask)
    # islands sit around the O line z=0, spanning x near π
    assert np.abs(z[rows]).max() < 2.0
    assert (np.abs(x[cols] - np.pi) < 1.5).any()


def test_separatrices_nonempty_and_pass_near_x(found):
    ds, _ = found
    sep = ds.variables["separatrices"].to_numpy()[0]
    assert sep.sum() > 10
    x_pts = np.array(ds.params["x_coords"]).reshape(-1, 2)
    z = ds.variables["b1"].mesh[0]
    x = ds.variables["b1"].mesh[1]
    rows, cols = np.nonzero(sep)
    pts = np.stack([z[rows], x[cols]], axis=1)
    for xp in x_pts:
        d = np.sqrt(((pts - xp[None]) ** 2).sum(axis=1)).min()
        assert d < 0.5


def test_single_timestep_enforced(spark):
    k, eps = 1.0, 0.3
    z = np.linspace(-2, 2, 16)
    x = np.linspace(0, 6, 16)
    zz, xx = np.meshgrid(z, x, indexing="ij")
    ts = np.array([0.0, 1.0])
    data = np.stack([np.tanh(zz)] * 2)
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, [z, x], data))
    ds.add_var(SparkVariable.from_numpy(spark, "b2", ts, [z, x], data))
    with pytest.raises(ValueError, match="single timestep"):
        find_structures(ds, "b1", "b2")


def test_nonuniform_mesh_rejected(spark):
    z = np.array([0.0, 1.0, 2.5, 5.0])
    x = np.linspace(0, 3, 4)
    ts = np.array([0.0])
    data = np.ones((1, 4, 4))
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, [z, x], data))
    ds.add_var(SparkVariable.from_numpy(spark, "b2", ts, [z, x], data))
    with pytest.raises(ValueError, match="uniform"):
        calc_fluxfn(ds, "b1", "b2")


def test_mismatched_mesh_rejected(spark):
    ts = np.array([0.0])
    data = np.ones((1, 4, 4))
    ds = SparkDataset()
    ds.add_var(
        SparkVariable.from_numpy(
            spark, "b1", ts, [np.linspace(0, 3, 4), np.linspace(0, 3, 4)], data
        )
    )
    ds.add_var(
        SparkVariable.from_numpy(
            spark, "b2", ts, [np.linspace(0, 6, 4), np.linspace(0, 3, 4)], data
        )
    )
    with pytest.raises(ValueError, match="same mesh"):
        calc_fluxfn(ds, "b1", "b2")


def test_missing_jy_rejected(spark):
    z = np.linspace(-2, 2, 16)
    x = np.linspace(0, 6, 16)
    zz, xx = np.meshgrid(z, x, indexing="ij")
    ts = np.array([0.0])
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, [z, x], np.sin(xx)[None]))
    ds.add_var(SparkVariable.from_numpy(spark, "b2", ts, [z, x], np.tanh(zz)[None]))
    with pytest.raises(KeyError, match="jy"):
        find_structures(ds, "b1", "b2")


def test_multi_t_matches_single_t(spark):
    """multi_t=True over two timesteps (t=0 same field as the single-t
    golden run, t=1 phase-shifted): t=0's nulls and mask counts must
    equal the single-t run exactly, and t=1's X nulls must sit at the
    shifted positions — per-timestep isolation."""
    k, eps, phase = 1.0, 0.3, 0.7
    z = np.linspace(-8.0, 8.0, 120)
    x = np.linspace(-np.pi / 2, 2.5 * np.pi, 64)
    zz, xx = np.meshgrid(z, x, indexing="ij")
    b2 = np.tanh(zz)
    jy = 8.0 / np.cosh(zz) ** 2 * (1 + 0.3 * np.cos(k * xx)) + 0.5 * np.cos(
        4.7 * zz
    ) * np.cos(4.5 * xx)
    b1_0 = eps * k * np.sin(k * xx)
    b1_1 = eps * k * np.sin(k * xx - phase)

    single = SparkDataset()
    ts1 = np.array([0.0])
    single.add_var(SparkVariable.from_numpy(spark, "b1", ts1, [z, x], b1_0[None]))
    single.add_var(SparkVariable.from_numpy(spark, "b2", ts1, [z, x], b2[None]))
    single.add_var(SparkVariable.from_numpy(spark, "jy", ts1, [z, x], jy[None]))
    find_structures(single, "b1", "b2", smoothing=1)

    multi = SparkDataset()
    ts2 = np.array([0.0, 1.0])
    multi.add_var(
        SparkVariable.from_numpy(spark, "b1", ts2, [z, x], np.stack([b1_0, b1_1]))
    )
    multi.add_var(
        SparkVariable.from_numpy(spark, "b2", ts2, [z, x], np.stack([b2, b2]))
    )
    multi.add_var(
        SparkVariable.from_numpy(spark, "jy", ts2, [z, x], np.stack([jy, jy]))
    )
    find_structures(multi, "b1", "b2", smoothing=1, multi_t=True)

    # t=0 nulls identical to the single-timestep run
    s_x = np.array(sorted(map(tuple, single.params["x_coords"])))
    m_x = np.array(sorted(map(tuple, multi.params["x_coords"][0.0])))
    assert s_x.shape == m_x.shape
    assert np.allclose(s_x, m_x)

    # t=1 X nulls shifted in x by ~phase/k relative to t=0
    m_x1 = np.array(sorted(map(tuple, multi.params["x_coords"][1.0])))
    assert m_x1.shape[0] >= 1
    shifts = []
    for pt in m_x1:
        d = np.abs(m_x[:, 1] + phase / k - pt[1])
        shifts.append(d.min())
    assert max(shifts) < 0.5

    # t=0 mask cell counts identical to the single-timestep run
    from pyspark.sql import functions as F

    for name in ("separatrices", "o_structures", "current_sheets"):
        n_single = (
            single.variables[name].df.filter(F.col("value") != 0.0).count()
        )
        n_multi_t0 = (
            multi.variables[name]
            .df.filter((F.col("value") != 0.0) & (F.col("t") == 0.0))
            .count()
        )
        assert n_single == n_multi_t0, name


def test_smooth_gaussian_halo_route_bit_identical(spark, monkeypatch):
    """find_structures' smoothing router: forcing the halo-tiled path
    (threshold 0, small tiles) must reproduce the whole-grid tile
    result bit-for-bit — the invariant that lets the pipeline switch
    routes purely on grid size."""
    from data_framework_spark.plans import structures as S

    ds, _, _ = _island_chain(spark)
    v = ds.variables["b1"]
    key = ["t", "i0", "i1"]
    whole = {
        tuple(r[c] for c in key): r["value"]
        for r in S._smooth_gaussian(v, 2.0, 2.0).collect()
    }
    monkeypatch.setattr(S, "_HALO_CELLS", 0)
    monkeypatch.setattr(S, "_HALO_TILE", 32)
    tiled = {
        tuple(r[c] for c in key): r["value"]
        for r in S._smooth_gaussian(v, 2.0, 2.0).collect()
    }
    assert whole.keys() == tiled.keys()
    assert all(whole[k] == tiled[k] for k in whole)  # bit-identical


def test_flux_fn_dense_folds_as_spark_windows(spark):
    """flux_fn_dense (the one-pass family build's ψ) must equal
    calc_fluxfn's Spark window sums BITWISE, signed zeros included.
    b2's first row and column and b1's first row hold -0.0, b1's first
    column +0.0: Spark's running sum starts from `0.0 + x`, so its ψ
    down the first column is +0.0 - +0.0 = +0.0, while a bare
    np.cumsum keeps b2's -0.0 and yields -0.0 there."""
    from data_framework_spark.plans.structures import flux_fn_dense

    rng = np.random.default_rng(3)
    z = np.linspace(-1.0, 2.0, 13)
    x = np.linspace(0.0, 1.0, 9)
    b1 = rng.normal(size=(13, 9))
    b2 = rng.normal(size=(13, 9))
    b2[0, :] = -0.0
    b2[:, 0] = -0.0
    b1[0, :] = -0.0
    b1[:, 0] = 0.0
    ts = np.array([0.0])
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, [z, x], b1[None]))
    ds.add_var(SparkVariable.from_numpy(spark, "b2", ts, [z, x], b2[None]))
    calc_fluxfn(ds, "b1", "b2")
    spark_psi = ds.variables["flux_fn"].to_numpy()[0]

    d0, d1 = float(z[1] - z[0]), float(x[1] - x[0])
    dense = flux_fn_dense(b1, b2, d0, d1)
    assert np.array_equal(dense.view(np.int64), spark_psi.view(np.int64))
    # the fixture discriminates: the unfolded cumsum differs in sign bits
    bare = np.cumsum(b2[:, 0] * d0)[:, None] - np.cumsum(b1 * d1, axis=1)
    assert not np.array_equal(bare.view(np.int64), spark_psi.view(np.int64))


def test_hessian_variable_matches_kernel(found):
    """The registered fluxfn_hessian_det (lazy, read by no pipeline
    step) equals hessian_det on the registered smoothed fields — the
    determinant the nulls kernel classifies by."""
    from data_framework_spark.kernels.structures import hessian_det

    ds, _ = found
    m0, m1 = ds.variables["b1"].mesh
    want = hessian_det(
        ds.variables["b1_smooth"].to_numpy()[0],
        ds.variables["b2_smooth"].to_numpy()[0],
        m0,
        m1,
    )
    got = ds.variables["fluxfn_hessian_det"].to_numpy()[0]
    assert np.array_equal(got.view(np.int64), want.view(np.int64))


def test_island_family_upstream_uses_no_deprecated_api(spark, sf_dir):
    """The family slice's t remap indexes the map column, not the
    deprecated `Column.getItem(Column)`."""
    import warnings

    from data_framework_spark.plans.structures import island_family_upstream

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        island_family_upstream(spark, sf_dir, [(0.0, 0), (1.0, 2)])


@pytest.mark.parametrize(
    "name",
    [
        "find_structures_contract",
        pytest.param("find_structures_island", marks=pytest.mark.slow),
        pytest.param("find_structures_multi8", marks=pytest.mark.slow),
        pytest.param("distributed_label_contract", marks=pytest.mark.slow),
    ],
)
def test_driver_side_result_is_a_local_relation(spark, sf_dir, jobs_started, name):
    """The rows these queries compute on the driver come back as a
    LocalRelation, so executing the result runs no Spark job."""
    from data_framework_spark.registry import QUERIES

    df = QUERIES[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert jobs_started(spark, df.collect) == 0
