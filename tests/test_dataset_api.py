"""Reference-surface parity tests for SparkDataset / SparkVariable:
slicing semantics, bounds, line-slice interpolation (differential vs
a hand-written NumPy oracle), persistence roundtrip.

Pins the quirky semantics catalogued in SURVEY.md §2: inclusive
bounds both ends, sorted zoom pairs, ±inf handling, fixed slice
order, dx/3 shrink, raw-argmax step axis, linear/nearest corner
rules, DynMeshVar raising.
"""

from __future__ import annotations

import numpy as np
import pytest

from data_framework_spark.dataset import SparkDataset
from data_framework_spark.variable import SparkVariable, dyn_mesh_var


@pytest.fixture(scope="module")
def field(spark):
    """4-timestep 8×6 smooth field (FIXTURES.md A1-small shape)."""
    rng = np.random.default_rng(7)
    ts = np.array([0.0, 1.0, 2.0, 3.0])
    mesh = [np.linspace(-2.0, 2.0, 8), np.linspace(0.0, 5.0, 6)]
    zz, xx = np.meshgrid(mesh[0], mesh[1], indexing="ij")
    data = np.stack(
        [np.sin(zz + 0.3 * k) * np.cos(xx) + 0.1 * k for k in range(4)]
    )
    return SparkVariable.from_numpy(spark, "bx", ts, mesh, data), ts, mesh, data


def test_timeslice_inclusive(field):
    var, ts, mesh, data = field
    out = var._timeslice((1.0, 2.0))  # inclusive both ends
    np.testing.assert_array_equal(out.timeseries, [1.0, 2.0])
    np.testing.assert_allclose(out.to_numpy(), data[1:3])


def test_zoom_sorted_bounds_and_inf(field):
    var, ts, mesh, data = field
    # reversed pair + one unbounded side (statmeshvar.py:104, :72)
    out = var._zoom([(1.0, -1.0), (-np.inf, 2.5)])
    keep0 = (mesh[0] >= -1.0) & (mesh[0] <= 1.0)
    keep1 = mesh[1] <= 2.5
    np.testing.assert_allclose(
        out.to_numpy(), data[:, keep0][:, :, keep1]
    )


def test_ndslice_order_time_then_zoom(field):
    var, ts, mesh, data = field
    a = var.ndslice(timelims=(0.0, 1.0), zooms=[(-1.0, 1.0), (0.0, 5.0)])
    b = var._timeslice((0.0, 1.0))._zoom([(-1.0, 1.0), (0.0, 5.0)])
    np.testing.assert_allclose(a.to_numpy(), b.to_numpy())


def test_slice_of_slice_composition(field):
    """Slice∘slice ≡ single slice with intersected bounds (SURVEY §5.3)."""
    var, ts, mesh, data = field
    a = var._timeslice((0.0, 3.0))._timeslice((1.0, 2.0))
    b = var._timeslice((1.0, 2.0))
    np.testing.assert_allclose(a.to_numpy(), b.to_numpy())


def test_bounds(field):
    var, ts, mesh, data = field
    b = var.bounds()
    assert b[0] == [0.0, 3.0]
    assert b[1] == [-2.0, 2.0]
    assert b[2] == [0.0, 5.0]


def _numpy_line_slice(mesh, data, set_pts, method):
    """Hand-written oracle replicating statmeshvar.py:151-190:
    clip, dx/3 shrink, arange sampling, bilinear/nearest interp."""
    p0, p1 = np.asarray(set_pts, dtype=float)
    unit = (p1 - p0) / np.linalg.norm(p1 - p0)
    step_dim = int(np.argmax(unit))
    dx = mesh[step_dim][1] - mesh[step_dim][0]
    min_s, max_s = -np.inf, np.inf
    for d in range(len(mesh)):
        u = unit[d]
        lo, hi = mesh[d][0], mesh[d][-1]
        if u == 0:
            continue
        a, b = (lo - p0[d]) / u, (hi - p0[d]) / u
        enter, exit_ = min(a, b), max(a, b)
        min_s, max_s = max(min_s, enter), min(max_s, exit_)
    s_vals = np.arange(min_s + dx / 3, max_s - dx / 3, dx)
    out = np.empty((data.shape[0], len(s_vals)))
    for k, s in enumerate(s_vals):
        p = p0 + s * unit
        idx, frac = [], []
        for d, m in enumerate(mesh):
            j = np.clip(np.searchsorted(m, p[d]) - 1, 0, len(m) - 2)
            w = (p[d] - m[j]) / (m[j + 1] - m[j])
            idx.append(j)
            frac.append(np.clip(w, 0.0, 1.0))
        if method == "nearest":
            sel = tuple(
                j + 1 if w > 0.5 else j for j, w in zip(idx, frac)
            )
            out[:, k] = data[(slice(None),) + sel]
        else:
            j0, j1 = idx
            w0, w1 = frac
            out[:, k] = (
                data[:, j0, j1] * (1 - w0) * (1 - w1)
                + data[:, j0 + 1, j1] * w0 * (1 - w1)
                + data[:, j0, j1 + 1] * (1 - w0) * w1
                + data[:, j0 + 1, j1 + 1] * w0 * w1
            )
    return s_vals, out


@pytest.mark.parametrize("method", ["linear", "nearest"])
def test_line_slice_differential(field, method):
    var, ts, mesh, data = field
    set_pts = [(-1.8, 0.2), (1.9, 4.8)]
    sliced = var._spaceslice(set_pts, method)
    s_ref, ref = _numpy_line_slice(mesh, data, set_pts, method)
    np.testing.assert_allclose(sliced.mesh[0], s_ref, atol=1e-12)
    got = sliced.to_numpy()
    assert got.shape == ref.shape
    np.testing.assert_allclose(got, ref, atol=1e-10)


def test_line_slice_bad_method(field):
    var = field[0]
    with pytest.raises(ValueError, match="not supported"):
        var._spaceslice([(-1, 0), (1, 4)], "cubic")


def test_line_slice_needs_two_points(field):
    var = field[0]
    with pytest.raises(ValueError, match="2 set points"):
        var._spaceslice([(-1, 0), (0, 2), (1, 4)], "linear")


def test_dyn_mesh_var_raises():
    with pytest.raises(ValueError, match="not implemented"):
        dyn_mesh_var()


def test_dataset_ndslice_params_and_vars(spark, field):
    var, ts, mesh, data = field
    ds = SparkDataset().add_var(var).add_param("run", "t1")
    out = ds.ndslice(timelims=(0.0, 1.0), set_pts=[(-1.8, 0.2), (1.9, 4.8)])
    assert out is not ds
    assert out.params["run"] == "t1"  # merged (dataset.py:244)
    np.testing.assert_allclose(
        np.linalg.norm(out.params["unit_vec"]), 1.0
    )
    assert out.params["zero_pt"] == [-1.8, 0.2]
    assert out.variables["bx"].ndim == 1


def test_get_vars_substring(spark, field):
    var = field[0]
    ds = SparkDataset().add_var(var)
    assert list(ds.get_vars(["b"])) == ["bx"]
    assert list(ds.get_vars(["B"])) == []  # case-sensitive


def test_export_restore_roundtrip(spark, field, tmp_path):
    var, ts, mesh, data = field
    ds = SparkDataset().add_var(var).add_param("note", "roundtrip")
    path = str(tmp_path / "dset")
    ds.export(path)
    back = SparkDataset.restore(spark, path)
    assert back.params == {"note": "roundtrip"}
    np.testing.assert_allclose(back.variables["bx"].to_numpy(), data)


def test_dataset_bounds_documented_intent(spark, field):
    """min of mins / max of maxes across variables — the documented
    'most inclusive' semantics (dataset.py:153), not the :178-179 bug."""
    var, ts, mesh, data = field
    narrow = var._zoom([(-1.0, 1.0), (1.0, 4.0)])
    narrow.label = "bz"
    ds = SparkDataset().add_var(var).add_var(narrow)
    b = ds.bounds()
    assert b[1] == [-2.0, 2.0]  # widest, not the intersection
    assert b[2] == [0.0, 5.0]


def test_dataset_api_grid_stays_cached_on_repeat(spark, sf_dir):
    """The grid behind q_dataset_api_events stays cached from the
    second call on: the held frame of the previous call is released
    before the new one is persisted, so the plan both share stays in
    the CacheManager and bounds()/timeseries jobs read it instead of
    re-running the events groupBy."""
    from data_framework_spark.operators.dataset_query import (
        _events_grid,
        q_dataset_api_events,
    )

    q_dataset_api_events(spark, sf_dir)
    q_dataset_api_events(spark, sf_dir)
    assert _events_grid(spark, sf_dir).storageLevel.useMemory
