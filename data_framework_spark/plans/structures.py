"""Domain pipelines: `calc_fluxfn` and `find_structures` — the
reference's composite operators (src/datasets/vpicdataset.py:247-293,
:295-533; SURVEY.md §2.10), orchestrated Spark-first.

Division of labor (SURVEY.md §4):
- flux function ψ: two chained window prefix sums on the long table —
  fully distributed, per-timestep parallel (the reference's own TODO
  wanted this, vpicdataset.py:323-325);
- smoothing / gradients / Hessian: per-timestep tile kernels
  (plans/tile_kernel.py) — stencil locality;
- null finding / separatrices / current sheets: per-timestep
  `applyInPandas` kernels over a joined multi-field tile, emitting
  long rows; X/O coordinates come back to the driver as params
  (they ARE params in the reference, vpicdataset.py:438-439).

Quirks kept on purpose (each cited in kernels/structures.py):
hardcoded `jy` input name, the 0.5 literal on the negative
current-sheet side, classification by Hessian-determinant sign, the
single-timestep restriction (vpicdataset.py:334-336) — though the
plumbing below is already per-t parallel, so lifting it is a
one-line change once the semantics are wanted.

Regime split (r11 measured; r11 verdict ask 5): the per-timestep
single-tile kernels here are the right plan up to the measured ~4M
cells/timestep applyInPandas ceiling (0.8 GB/group pandas +
parallelism collapse past it — SURVEY.md §8, round-11 changelog).
Past the ceiling each stencil has a demonstrated distributed escape:
Gaussian smoothing → the halo tile runner (plans/tile_kernel.py
tile_apply_halo, sub-linear in timesteps AND grid area), flood/label
→ the tile-stitch CCL (plans/distributed_label.py — label-identical
to kernels/ndimage.label, digest-verified at 4096² = 16.8M cells,
SURVEY.md §8, round-12 changelog). The null/separatrix kernels
stay single-tile by the reference's own working-set contract (one
timestep of one variable is ITS unit too), with per-t parallelism as
the scale axis.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_framework_spark.dataset import SparkDataset
from data_framework_spark.kernels.ndimage import gaussian_filter
from data_framework_spark.kernels.structures import (
    classify_nulls,
    current_sheets,
    find_nulls,
    hessian_det,
    separatrices_and_o_structures,
)
from data_framework_spark.plans.tile_kernel import (
    scatter_tile,
    tile_apply,
    tile_apply_halo,
    tile_ranks,
)
from data_framework_spark.sources.tables import local_rows, read_parquet
from data_framework_spark.variable import SparkVariable

# Above this many cells per timestep, smoothing runs through the
# halo-exchange tiled path (plans/tile_kernel.py:tile_apply_halo):
# parallelism = patches instead of timesteps, peak task memory =
# (tile+2r)^2 — the route for a single timestep too large for one
# task. Below it, whole-grid tiles avoid the halo replication cost.
_HALO_CELLS = 1 << 20
_HALO_TILE = 256


def _smooth_gaussian(v: SparkVariable, s0: float, s1: float):
    """Per-timestep Gaussian smoothing, routed by grid size: whole-grid
    tile for small timesteps, halo-tiled (bit-identical — pinned by the
    tiled_gaussian_grid differential query) above _HALO_CELLS."""
    if s0 <= 0 and s1 <= 0:
        # smoothing=0 is a legitimate "no smoothing" spec: the kernel
        # would be the identity, so skip the densify + Arrow round
        # trip entirely — on a timestep above _HALO_CELLS that round
        # trip is exactly the single-task blowup the halo path exists
        # to avoid (round-9 review)
        return v.df
    kern = lambda a: gaussian_filter(a, (s0, s1))
    n_cells = len(v.mesh[0]) * len(v.mesh[1])
    if n_cells > _HALO_CELLS:
        radius = int(4.0 * max(s0, s1) + 0.5)  # _gauss_kernel1d truncate
        return tile_apply_halo(v.df, kern, radius=radius, tile=_HALO_TILE)
    return tile_apply(v.df, kern)


def _uniform(mesh: np.ndarray, atol: float = 1e-3) -> bool:
    """Evenly-spaced coordinate check (vpicdataset.py:18-22)."""
    d = np.diff(mesh)
    return bool(np.allclose(d, d[0], atol=atol))


def compute_d_per_de(d0: float, d1: float, de: float = 1.0) -> int:
    """Grid POINTS per de, int-truncated (vpicdataset.py:346-349):
    the reference computes dz_per_de = 1/spacing with the mesh in de
    units; `de` generalizes to physical-unit meshes (de/spacing).
    Differentially tested against the reference's verbatim expression
    in tests/test_reference_formulas.py."""
    return int(((de / d0) + (de / d1)) / 2)


def _validate_pair(v1: SparkVariable, v2: SparkVariable) -> None:
    """The calc_fluxfn preconditions (vpicdataset.py:267-282)."""
    if v1.ndim != 2 or v2.ndim != 2:
        raise ValueError("flux function requires 2-D-mesh variables")
    for m1, m2 in zip(v1.mesh, v2.mesh):
        if len(m1) != len(m2) or not np.allclose(m1, m2):
            raise ValueError("variables must share the same mesh")
    for m in v1.mesh:
        if not _uniform(m):
            raise ValueError("flux function requires uniform mesh spacing")


def calc_fluxfn(
    ds: SparkDataset, b1_name: str = "bx", b2_name: str = "bz"
) -> SparkDataset:
    """ψ[t,i,j] = Σ_{i'≤i} b2[t,i',0]·d0 − Σ_{j'≤j} b1[t,i,j']·d1
    (vpicdataset.py:286-291), as two window prefix sums per timestep.
    Registers the result as variable 'flux_fn' (:293)."""
    b1, b2 = ds.variables[b1_name], ds.variables[b2_name]
    _validate_pair(b1, b2)
    d0 = float(b1.mesh[0][1] - b1.mesh[0][0])
    d1 = float(b1.mesh[1][1] - b1.mesh[1][0])

    w_col = (
        W.partitionBy("t").orderBy("i0").rowsBetween(W.unboundedPreceding, 0)
    )
    # boundary column = the variable's FIRST dim-1 column per timestep,
    # i.e. min(i1), NOT the literal 0: zoom slicing preserves original
    # index values, so a zoomed variable whose i1 range starts above 0
    # would match nothing and the inner join below would silently empty
    # the whole flux function (round-9 review). On unzoomed grids
    # min(i1) == 0 — same plan, same oracle. The 1-row-per-t aggregate
    # is map-side combined and broadcast.
    i1min = b2.df.groupBy("t").agg(F.min("i1").alias("__i1min"))
    col0 = (
        b2.df.join(F.broadcast(i1min), "t")
        .filter(F.col("i1") == F.col("__i1min"))
        .drop("__i1min")
        .withColumn("psi0", F.sum(F.col("value") * F.lit(d0)).over(w_col))
        .select("t", "i0", "psi0")
    )
    w_row = (
        W.partitionBy("t", "i0")
        .orderBy("i1")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    flux_df = (
        b1.df.withColumn("row_int", F.sum(F.col("value") * F.lit(d1)).over(w_row))
        .join(col0, on=["t", "i0"])
        .withColumn("value", F.col("psi0") - F.col("row_int"))
        .drop("psi0", "row_int")
    )
    flux = SparkVariable("flux_fn", flux_df, 2, b1._timeseries, b1._mesh)
    return ds.add_var(flux)


def flux_fn_dense(
    b1: np.ndarray, b2: np.ndarray, d0: float, d1: float
) -> np.ndarray:
    """calc_fluxfn on one dense [i0, i1] tile, bitwise: each prefix sum
    folds as Spark's running `sum` does — sequentially, its first
    element `0.0 + x` (so a leading -0.0 becomes +0.0, which a bare
    np.cumsum would keep). np.cumsum is an accumulate, hence
    sequential along the axis."""
    col0 = b2[:, 0] * d0
    col0[0] += 0.0
    rows = b1 * d1
    rows[:, 0] += 0.0
    return np.cumsum(col0)[:, None] - np.cumsum(rows, axis=1)


def _norm_smoothing(smoothing) -> list[float]:
    """Smoothing-spec normalization to [t_sigma, s0, s1]
    (vpicdataset.py:310-315, :352-361): scalar → spatial both dims;
    lists of 1/2/3 accepted; anything else raises."""
    if np.isscalar(smoothing):
        return [0.0, float(smoothing), float(smoothing)]
    s = list(smoothing)
    if len(s) == 1:
        return [0.0, float(s[0]), float(s[0])]
    if len(s) == 2:
        return [0.0, float(s[0]), float(s[1])]
    if len(s) == 3:
        return [float(s[0]), float(s[1]), float(s[2])]
    raise ValueError(f"invalid smoothing spec of length {len(s)}")


def find_structures(
    ds: SparkDataset,
    b1_name: str = "b1",
    b2_name: str = "b2",
    smoothing=3,
    de_tol: float = 5.0,
    cs_limit: float = 0.5,
    multi_t: bool = False,
    upstream: DataFrame | None = None,
) -> SparkDataset:
    """The 10-step structure-finding pipeline (vpicdataset.py:295-533).

    Returns the dataset enriched (in the reference's in-place style,
    SURVEY.md §3 EP3) with variables `fluxfn_hessian_det`,
    `separatrices`, `o_structures`, `current_sheets` and params
    `x_coords` / `o_coords` (physical coordinates of X / O nulls).

    `multi_t=True` implements the reference's own TODO
    (vpicdataset.py:323-325): every kernel already partitions by `t`
    (timesteps are the embarrassingly-parallel axis — the 100× scale
    path), so the relaxed mode just lifts the single-timestep guard
    and keys the null points per timestep; `x_coords`/`o_coords`
    become {t: [[z, x], ...]} dicts instead of flat lists."""
    b1, b2 = ds.variables[b1_name], ds.variables[b2_name]
    _validate_pair(b1, b2)
    if not multi_t and len(b1.timeseries) != 1:
        raise ValueError(
            "find_structures supports a single timestep (vpicdataset.py:334-336);"
            " pass multi_t=True for the relaxed per-timestep mode"
        )
    sig = _norm_smoothing(smoothing)
    if sig[0] != 0.0:
        # every kernel here partitions by t (the embarrassingly-
        # parallel axis); a time-axis Gaussian couples timesteps and
        # needs a halo exchange along t. Refusing beats the previous
        # behavior of silently DROPPING sig[0] and returning
        # spatially-smoothed-only fields (round-9 review).
        raise NotImplementedError(
            "temporal smoothing (sigma[0] != 0) is not supported; "
            "kernels are partitioned per timestep"
        )
    mesh0, mesh1 = b1.mesh
    d0 = float(mesh0[1] - mesh0[0])
    d1 = float(mesh1[1] - mesh1[0])
    de = float(ds.params.get("de", 1.0))
    # r16 correction: earlier rounds had the ratio inverted
    # (spacing/de), the reciprocal of the reference's value for any
    # spacing != 1.
    d_per_de = compute_d_per_de(d0, d1, de)
    ds.add_param("d_per_de", d_per_de)  # vpicdataset.py:349

    if upstream is not None:
        # Session-shared upstream (the island-family cache,
        # island_family_fields): steps (2)-(3) and step (8)'s jy
        # smoothing arrive precomputed as ONE
        # (t, i0, i1, c0, c1, sb1, sb2, psi, jys) frame whose t values
        # the caller already remapped to this dataset's timesteps and
        # which MUST have been built with the same smoothing spec.
        # The same variables are registered for API parity; the
        # nulls / masks kernels below run unchanged on the slice, so
        # per-query measured work stays real (r13 verdict ask 4 —
        # only the shared upstream is reused).
        need = {"t", "i0", "i1", "c0", "c1", "sb1", "sb2", "psi", "jys"}
        missing = need - set(upstream.columns)
        if missing:
            raise ValueError(
                f"upstream frame is missing columns {sorted(missing)}"
            )
        base = ["t", "i0", "i1", "c0", "c1"]
        for var_name, col in (
            (f"{b1_name}_smooth", "sb1"),
            (f"{b2_name}_smooth", "sb2"),
            ("flux_fn", "psi"),
        ):
            ds.add_var(
                SparkVariable(
                    var_name,
                    upstream.select(*base, F.col(col).alias("value")),
                    2,
                    b1._timeseries,
                    b1._mesh,
                )
            )
        wide = upstream.select(*base, "sb1", "sb2")
        mask_in = upstream.select(*base, "psi", "jys")
    else:
        # (2) Gaussian smoothing, registered as *_smooth (:352-369)
        smooth = {}
        for name, v in ((b1_name, b1), (b2_name, b2)):
            sdf = _smooth_gaussian(v, sig[1], sig[2])
            sv = SparkVariable(
                f"{name}_smooth", sdf, 2, v._timeseries, v._mesh
            )
            ds.add_var(sv)
            smooth[name] = sv

        # (3) flux function — reuse if present, with the reference's
        # stale-cache warning (:371-376)
        if "flux_fn" not in ds.variables:
            calc_fluxfn(ds, b1_name, b2_name)
        else:
            print(
                "using previously computed flux_fn; recompute if inputs changed"
            )
        flux = ds.variables["flux_fn"]
        # ψ feeds the masks kernel AND callers reading flux_fn (the
        # contract's range) — without its own cache the two chained
        # cumsum windows execute twice per invocation (round-6
        # profile). Registered for the end-of-query release: every
        # cached frame is recorded on the dataset so callers can
        # unpersist once their outputs are materialized — repeated
        # pipeline invocations in one session (bench cold+warm passes)
        # otherwise accumulate block-manager entries until GC pressure
        # degrades the whole JVM
        flux_cached = flux.df.cache()
        ds.scratch_cached = getattr(ds, "scratch_cached", []) + [flux_cached]

        # the smoothed pair, one row per cell: the nulls kernel's input
        # (and the lazily-evaluated Hessian variable's)
        wide = (
            smooth[b1_name]
            .df.withColumnRenamed("value", "sb1")
            .join(
                smooth[b2_name].df.select(
                    "t", "i0", "i1", F.col("value").alias("sb2")
                ),
                on=["t", "i0", "i1"],
            )
        )
        mask_in = None

    m0 = mesh0.copy()
    m1 = mesh1.copy()

    def densify_all(pdf: pd.DataFrame, cols: list[str]) -> tuple:
        """Rank-compact the group's indices ONCE (tile_kernel.tile_ranks
        — round-9 review: the per-column form redid unique+searchsorted
        for every field) and scatter each value column with the shared
        ranks."""
        shape, r0, r1 = tile_ranks(
            pdf["i0"].to_numpy(), pdf["i1"].to_numpy()
        )
        tiles = [
            scatter_tile(shape, r0, r1, pdf[c].to_numpy()) for c in cols
        ]
        return tiles, r0, r1

    def hess_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        (sb1, sb2), r0, r1 = densify_all(pdf, ["sb1", "sb2"])
        out = pdf[["t", "i0", "i1", "c0", "c1"]].copy()
        out["value"] = hessian_det(sb1, sb2, m0, m1)[r0, r1]
        return out

    # (4) Hessian determinant of ψ (:378-380), registered as a lazy
    # variable for API parity — no step below reads it: the nulls
    # kernel derives the same determinant from the tiles it already
    # densifies
    hess_df = wide.groupBy("t").applyInPandas(
        hess_kernel, schema="t double, i0 long, i1 long, c0 double, c1 double, value double"
    )
    hess = SparkVariable(
        "fluxfn_hessian_det", hess_df, 2, b1._timeseries, b1._mesh
    )
    ds.add_var(hess)

    # (5-7) nulls: contour intersections of the smoothed fields,
    # classified by Hessian-det sign — one kernel emitting points
    def nulls_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        (sb1, sb2), r0, r1 = densify_all(pdf, ["sb1", "sb2"])
        # scattered back through the group's own cells, so a cell the
        # group lacks stays NaN exactly as a densified hess column was
        hs = scatter_tile(
            sb1.shape, r0, r1, hessian_det(sb1, sb2, m0, m1)[r0, r1]
        )
        nulls = find_nulls(sb2, sb1)  # b2=0 contours × b1=0 contours
        xpts, opts = classify_nulls(hs, nulls)
        t = pdf["t"].iloc[0]
        rows = [("x", t, p[0], p[1]) for p in xpts] + [
            ("o", t, p[0], p[1]) for p in opts
        ]
        return pd.DataFrame(rows, columns=["kind", "t", "r", "c"])

    pts = (
        wide.select("t", "i0", "i1", "sb1", "sb2")
        .groupBy("t")
        .applyInPandas(nulls_kernel, schema="kind string, t double, r double, c double")
        .collect()
    )
    # fractional grid index → physical coordinates (uniform mesh)
    def to_phys(r, c):
        return [float(m0[0] + r * d0), float(m1[0] + c * d1)]

    # null points keyed per timestep — the masks kernel for timestep t
    # must only see t's X points (identical to the flat layout when
    # there is one timestep)
    x_idx_by_t: dict[float, list] = {}
    o_idx_by_t: dict[float, list] = {}
    for p in pts:
        tgt = x_idx_by_t if p["kind"] == "x" else o_idx_by_t
        tgt.setdefault(float(p["t"]), []).append([p["r"], p["c"]])
    x_idx_by_t = {
        t: np.array(v).reshape(-1, 2) for t, v in x_idx_by_t.items()
    }
    o_idx_by_t = {
        t: np.array(v).reshape(-1, 2) for t, v in o_idx_by_t.items()
    }
    if multi_t:
        ds.add_param(
            "x_coords",
            {t: [to_phys(r, c) for r, c in v] for t, v in x_idx_by_t.items()},
        )
        ds.add_param(
            "o_coords",
            {t: [to_phys(r, c) for r, c in v] for t, v in o_idx_by_t.items()},
        )
    else:
        x_idx = next(iter(x_idx_by_t.values()), np.zeros((0, 2)))
        o_idx = next(iter(o_idx_by_t.values()), np.zeros((0, 2)))
        ds.add_param("x_coords", [to_phys(r, c) for r, c in x_idx])
        ds.add_param("o_coords", [to_phys(r, c) for r, c in o_idx])

    # (8-9) separatrices / O-structures / current sheets — mask kernel.
    # jy is the reference's hardcoded input name (:482)
    if "jy" not in ds.variables:
        raise KeyError("find_structures requires a 'jy' variable (vpicdataset.py:482)")
    jy = ds.variables["jy"]
    if mask_in is None:
        jys_df = _smooth_gaussian(jy, sig[1], sig[2])
        mask_in = flux_cached.withColumnRenamed("value", "psi").join(
            jys_df.select("t", "i0", "i1", F.col("value").alias("jys")),
            on=["t", "i0", "i1"],
        )
    x_idx_local = {t: v.copy() for t, v in x_idx_by_t.items()}

    def masks_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        (psi, jys), r0, r1 = densify_all(pdf, ["psi", "jys"])
        t_key = float(pdf["t"].iloc[0])
        x_idx_t = x_idx_local.get(t_key, np.zeros((0, 2)))
        sep, o_mask = separatrices_and_o_structures(
            psi, x_idx_t, d_per_de, de_tol
        )
        cs = current_sheets(jys, cs_limit)
        out = pdf[["t", "i0", "i1", "c0", "c1"]].copy()
        out["separatrices"] = sep[r0, r1].astype(float)
        out["o_structures"] = o_mask[r0, r1].astype(float)
        out["current_sheets"] = cs[r0, r1].astype(float)
        return out

    masks = mask_in.groupBy("t").applyInPandas(
        masks_kernel,
        schema=(
            "t double, i0 long, i1 long, c0 double, c1 double, "
            "separatrices double, o_structures double, current_sheets double"
        ),
    ).cache()  # three output variables slice this one kernel result
    ds.scratch_cached = getattr(ds, "scratch_cached", []) + [masks]
    # the combined kernel frame, for callers that aggregate across all
    # three outputs — one job over the cache instead of three
    ds.masks_df = masks
    base = ["t", "i0", "i1", "c0", "c1"]
    for out_name in ("separatrices", "o_structures", "current_sheets"):
        vdf = masks.select(*base, F.col(out_name).alias("value"))
        ds.add_var(SparkVariable(out_name, vdf, 2, b1._timeseries, b1._mesh))
    return ds


# --- the shared island-chain family upstream (r13 verdict ask 4) -----------
#
# The three registry structures queries all run the SAME island-chain
# construction (ψ = ln cosh z + ε·cos kx on the identical 120×64 mesh,
# identical b2 and jy, smoothing=1) at phase offsets drawn from ONE
# 8-member family 0.35·p, p = 0..7: multi8 uses all eight, island uses
# p ∈ {0, 2} (0.35·2.0 doubles EXACTLY to the 0.7 double island's t=1
# states literally — exponent increment, no rounding), the contract
# uses p = 0 (x − 0.0 is bitwise x). The family's smoothing → flux →
# smoothed-jy upstream is therefore derived ONCE per session over all
# eight phases (family t = phase index) and session-cached via
# ann.cached_route as a COMPOSITION route (the exact_l2_k5 pattern:
# the build is not any standalone query's own plan, so no bench
# eviction applies); each query slices its phases, remaps t to its own
# timestep values, and runs its OWN nulls / masks kernels and
# extraction jobs on the slice.
#
# The family is a deterministic synthetic artifact, so it is built in
# ONE worker pass: a mapInPandas over spark.range(ISLAND_FAMILY_NT)
# constructs each phase's dense fields in the worker (the same
# _island_family_arrays the Spark-side dataset is made from), smooths
# them with the same kernels.ndimage.gaussian_filter the tile runner
# applies, and takes ψ from flux_fn_dense, which folds its prefix sums
# exactly as calc_fluxfn's window sums do. No exchange, window or join:
# the parquet write is the build's only job. Bitwise parity with the
# Spark-primitive derivation (tile_apply smoothing, calc_fluxfn
# windows) is pinned by tests/test_round14.py, both on the whole
# family frame and end to end against the standalone find_structures
# path; the unchanged contract literals pin it too.

ISLAND_FAMILY_NT = 8
ISLAND_FAMILY_SMOOTHING = 1


def island_jy(zz: np.ndarray, xx: np.ndarray, k: float = 1.0) -> np.ndarray:
    """The island-chain fixture's out-of-plane current, shared by
    every island construction (the 3 plan sites and the family-parity
    test must stay bit-identical): the modulated z=0 band + ripple
    lattice, PLUS two localized Gaussian blobs (r16) — one positive
    at (z=3, x=4), one negative at (z=-4, x=6.5) — sized so the
    verbatim current-sheet thresholds genuinely FIRE on this field
    (pos/neg sheet cells ≈ 59/56 at 120×64). Without them the broad
    band never beats the filtered-array 3σ rule and the driver-hashed
    current-sheet census pins 0, leaving the sheets kernel outside
    the correctness gate."""
    return (
        8.0 / np.cosh(zz) ** 2 * (1 + 0.3 * np.cos(k * xx))
        + 0.5 * np.cos(4.7 * zz) * np.cos(4.5 * xx)
        + 20.0 * np.exp(-(((zz - 3.0) ** 2) + (xx - 4.0) ** 2) / 0.5)
        - 12.0 * np.exp(-(((zz + 4.0) ** 2) + (xx - 6.5) ** 2) / 0.5)
    )


def _island_family_arrays() -> tuple:
    """The canonical 8-phase island-chain construction as dense arrays
    (ts, z, x, b1_t[t], b2, jy): t = phase index, b1 phase-shifted by
    0.35·t — the multi8 construction verbatim. The one construction
    both the Spark-side dataset and the family build start from."""
    k, eps = 1.0, 0.3
    z = np.linspace(-8.0, 8.0, 120)
    x = np.linspace(-np.pi / 2, 2.5 * np.pi, 64)
    zz, xx = np.meshgrid(z, x, indexing="ij")
    ts = np.arange(ISLAND_FAMILY_NT, dtype=float)
    b1_t = np.stack([eps * k * np.sin(k * xx - 0.35 * t) for t in ts])
    return ts, z, x, b1_t, np.tanh(zz), island_jy(zz, xx, k)


def _island_family_dataset(spark) -> SparkDataset:
    """The canonical 8-phase island-chain dataset (t = phase index)."""
    ts, z, x, b1_t, b2, jy = _island_family_arrays()
    n_t = len(ts)
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, [z, x], b1_t))
    ds.add_var(
        SparkVariable.from_numpy(spark, "b2", ts, [z, x], np.stack([b2] * n_t))
    )
    ds.add_var(
        SparkVariable.from_numpy(spark, "jy", ts, [z, x], np.stack([jy] * n_t))
    )
    return ds


_ISLAND_FAMILY_SCHEMA = (
    "t double, i0 long, i1 long, c0 double, c1 double, "
    "sb1 double, sb2 double, psi double, jys double"
)


def _island_family_phase(p: int) -> pd.DataFrame:
    """One family phase's (t, i0, i1, c0, c1, sb1, sb2, psi, jys) rows,
    derived from dense arrays: smoothing as _smooth_gaussian's tile
    kernel computes it, ψ as calc_fluxfn does (flux_fn_dense)."""
    ts, z, x, b1_t, b2, jy = _island_family_arrays()
    sig = tuple(_norm_smoothing(ISLAND_FAMILY_SMOOTHING)[1:])
    b1 = b1_t[p]
    i0, i1 = np.indices(b2.shape).reshape(2, -1)
    fields = {
        "sb1": gaussian_filter(b1, sig),
        "sb2": gaussian_filter(b2, sig),
        "psi": flux_fn_dense(
            b1, b2, float(z[1] - z[0]), float(x[1] - x[0])
        ),
        "jys": gaussian_filter(jy, sig),
    }
    return pd.DataFrame(
        {
            "t": np.full(i0.shape, ts[p]),
            "i0": i0.astype(np.int64),
            "i1": i1.astype(np.int64),
            "c0": z[i0],
            "c1": x[i1],
            **{name: f.reshape(-1) for name, f in fields.items()},
        }
    )


def _build_island_family_fields(spark) -> DataFrame:
    """Steps (2)-(3) + the masks stage's jy smoothing for all 8 family
    phases as one (t, i0, i1, c0, c1, sb1, sb2, psi, jys) frame
    (t = phase index), in one shuffle-free worker pass: a single task
    emits every phase's rows (_island_family_phase), bit-identical to
    a standalone run's per-phase fields. One task, not one per phase:
    a phase is a few milliseconds of numpy, less than a task's
    start-up, and one parquet file is also the smallest (measured on
    4 cores: 0.27 s and 496 KB as one task, 0.61 s and 835 KB as
    eight)."""

    def phases(batches):
        for pdf in batches:
            for p in pdf["id"]:
                yield _island_family_phase(int(p))

    return spark.range(0, ISLAND_FAMILY_NT, 1, 1).mapInPandas(
        phases, schema=_ISLAND_FAMILY_SCHEMA
    )


#: Bump on any family-construction or upstream-derivation change —
#: the cross-session parquet cache keys on it.
ISLAND_FAMILY_FMT = 2


def island_family_upstream(
    spark, sf_dir: str, tmap: list[tuple[float, int]]
) -> DataFrame:
    """The session-cached family upstream sliced to `tmap`'s
    [(query_t, phase_index)] pairs, with family t (= phase index)
    remapped to the query's own timestep values.

    The derived frame additionally persists to parquet ACROSS
    sessions (r14, the persistent-index-cache convention): the family
    is a deterministic synthetic artifact, so a fresh session reloads
    the 8×7680-row parquet instead of re-running the build job.
    binary64 roundtrips parquet exactly, and every kernel
    groups by t, so row order is immaterial — bitwise outputs either
    way (the slice-vs-standalone test covers the reloaded route for
    every session after the first)."""
    from data_framework_spark.kernels import ndimage as ndimage_mod
    from data_framework_spark.similarity.ann import cached_route
    from data_framework_spark.sources.formats import (
        build_source_fp,
        persistent_index_dir,
    )

    def _materialize(path: str) -> None:
        _build_island_family_fields(spark).write.mode("overwrite").parquet(
            f"{path}/fields"
        )

    fam_dir = persistent_index_dir(
        sf_dir,
        "island_family_",
        _materialize,
        params={
            "fmt": ISLAND_FAMILY_FMT,
            "nt": ISLAND_FAMILY_NT,
            "smoothing": ISLAND_FAMILY_SMOOTHING,
            "grid": "120x64",
            # the smoothing kernel the build composes lives outside
            # the auto-folded defining module
            "dep_src": build_source_fp(ndimage_mod),
        },
    )
    fam = cached_route(
        spark,
        sf_dir,
        "island_family_fields",
        lambda: read_parquet(spark, f"{fam_dir}/fields"),
    )
    remap = F.create_map(
        *[F.lit(v) for qt, p in tmap for v in (float(p), float(qt))]
    )
    return fam.filter(
        F.col("t").isin([float(p) for _, p in tmap])
    ).withColumn("t", remap[F.col("t")])


# --- driver-checkable end-to-end query (rows-only, oracle=None) ------------


def q_find_structures_island(spark, sf_dir: str):
    """Full find_structures pipeline in MULTI-TIMESTEP mode on the
    deterministic island-chain field (ψ = ln cosh z + ε·cos kx; same
    construction as the golden test, tests/test_structures.py), run
    over two timesteps with a phase-shifted island chain at t=1 so the
    per-timestep isolation is observable (different null positions per
    t). Ignores sf_dir — the input is synthetic by design, with
    analytically known X/O nulls.

    Rows-only driver check (the 10-step pipeline is not
    SQL-expressible): emits per-timestep X/O null physical coordinates
    plus per-timestep nonzero-cell counts of each output mask, so the
    driver record proves the whole pipeline executes per timestep and
    produces structures.
    """
    k, eps, phase = 1.0, 0.3, 0.7
    z = np.linspace(-8.0, 8.0, 120)
    x = np.linspace(-np.pi / 2, 2.5 * np.pi, 64)
    zz, xx = np.meshgrid(z, x, indexing="ij")
    b2 = np.tanh(zz)
    jy = island_jy(zz, xx, k)
    b1_t = np.stack(
        [eps * k * np.sin(k * xx), eps * k * np.sin(k * xx - phase)]
    )
    b2_t = np.stack([b2, b2])
    jy_t = np.stack([jy, jy])
    ts = np.array([0.0, 1.0])
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, [z, x], b1_t))
    ds.add_var(SparkVariable.from_numpy(spark, "b2", ts, [z, x], b2_t))
    ds.add_var(SparkVariable.from_numpy(spark, "jy", ts, [z, x], jy_t))
    # t=0 is family phase 0, t=1 (phase 0.7) is family phase index 2
    up = island_family_upstream(spark, sf_dir, [(0.0, 0), (1.0, 2)])
    find_structures(ds, "b1", "b2", smoothing=1, multi_t=True, upstream=up)

    rows = []
    for t in ts:
        t = float(t)
        rows += [
            (f"x_point_t{t:g}", round(float(r), 4), round(float(c), 4))
            for r, c in ds.params["x_coords"].get(t, [])
        ] + [
            (f"o_point_t{t:g}", round(float(r), 4), round(float(c), 4))
            for r, c in ds.params["o_coords"].get(t, [])
        ]
    # one pass over the cached kernel frame for all three outputs'
    # nonzero-cell counts (was three separate jobs — round-6 profile)
    names = ("separatrices", "o_structures", "current_sheets")
    counts = {
        (r["t"], name): r[name]
        for r in ds.masks_df.groupBy("t")
        .agg(
            *[
                F.count(F.when(F.col(n) != 0.0, F.lit(1))).alias(n)
                for n in names
            ]
        )
        .collect()
        for name in names
    }
    for name in names:
        for t in ts:
            rows.append(
                (
                    f"{name}_cells_t{float(t):g}",
                    float(counts.get((float(t), name), 0)),
                    0.0,
                )
            )
    # all outputs are collected into `rows` — release the pipeline's
    # cached intermediates so repeated invocations don't accumulate
    for df in getattr(ds, "scratch_cached", []):
        df.unpersist()
    return local_rows(spark, rows, "kind string, a double, b double")


def _island_field_t0(spark) -> SparkDataset:
    """Single-timestep island-chain field — the t=0 slice of
    q_find_structures_island's construction (ψ = ln cosh z + ε·cos kx;
    analytically known X points at sin(kx)=0, tanh(z)=0)."""
    k, eps = 1.0, 0.3
    z = np.linspace(-8.0, 8.0, 120)
    x = np.linspace(-np.pi / 2, 2.5 * np.pi, 64)
    zz, xx = np.meshgrid(z, x, indexing="ij")
    b1 = (eps * k * np.sin(k * xx))[np.newaxis]
    b2 = np.tanh(zz)[np.newaxis]
    jy = island_jy(zz, xx, k)[np.newaxis]
    ts = np.array([0.0])
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", ts, [z, x], b1))
    ds.add_var(SparkVariable.from_numpy(spark, "b2", ts, [z, x], b2))
    ds.add_var(SparkVariable.from_numpy(spark, "jy", ts, [z, x], jy))
    return ds


def q_find_structures_contract(spark, sf_dir: str):
    """HASH-CHECKED contract for the flagship find_structures pipeline
    (the registry's only rows-only entry otherwise): runs the full
    10-step pipeline on the deterministic single-timestep island-chain
    field and emits its SQL-expressible invariants — X/O point counts,
    every null's physical coordinates (4 dp), per-output-variable
    nonzero-cell counts, and the flux-function range (4 dp) — as
    (metric, value) rows the DuckDB oracle states as literal VALUES
    (same pattern as ann_recall_contract). A regression anywhere in
    smoothing → flux → Hessian → null classification → masks moves at
    least one metric and goes driver-red. Ignores sf_dir (synthetic
    input by design).
    """
    ds = _island_field_t0(spark)
    up = island_family_upstream(spark, sf_dir, [(0.0, 0)])
    find_structures(ds, "b1", "b2", smoothing=1, upstream=up)

    rows: list[tuple[str, float]] = []
    xpts = sorted(ds.params["x_coords"], key=lambda p: (p[1], p[0]))
    opts = sorted(ds.params["o_coords"], key=lambda p: (p[1], p[0]))
    rows.append(("n_x_points", float(len(xpts))))
    rows.append(("n_o_points", float(len(opts))))
    # + 0.0 collapses IEEE negative zero so the literal oracle can
    # state 0.0 without relying on the digest's -0.0 handling
    for i, (pz, px) in enumerate(xpts):
        rows.append((f"x{i}_z", round(float(pz), 4) + 0.0))
        rows.append((f"x{i}_x", round(float(px), 4) + 0.0))
    for i, (pz, px) in enumerate(opts):
        rows.append((f"o{i}_z", round(float(pz), 4) + 0.0))
        rows.append((f"o{i}_x", round(float(px), 4) + 0.0))
    # ONE action for all three mask counts AND the flux range: the
    # two 1-row aggregates are crossJoined (the repo's one-row-stats
    # crossJoin convention) so the driver pays one job round-trip,
    # not two (r14 profile: the contract was the family's most
    # expensive warm query on driver-side job count)
    names = ("separatrices", "o_structures", "current_sheets")
    crow = (
        ds.masks_df.agg(
            *[
                F.count(F.when(F.col(n) != 0.0, F.lit(1))).alias(n)
                for n in names
            ]
        )
        .crossJoin(
            ds.variables["flux_fn"].df.agg(
                F.round(F.min("value"), 4).alias("lo"),
                F.round(F.max("value"), 4).alias("hi"),
            )
        )
        .collect()[0]
    )
    for name in names:
        rows.append((f"{name}_cells", float(crow[name])))
    rows.append(("fluxfn_min", float(crow["lo"])))
    rows.append(("fluxfn_max", float(crow["hi"])))
    for df in getattr(ds, "scratch_cached", []):
        df.unpersist()
    return local_rows(spark, rows, "metric string, value double")


# Literal expected values, pinned from the golden island-chain run
# (regenerate by printing q_find_structures_contract's rows after an
# INTENDED semantics change; any unintended drift goes driver-red).
# Analytic cross-check: X points at sin(kx)=0 ∧ tanh(z)=0 → (z=0, x=0)
# and (z=0, x=2π=6.2832); O point at (z=0, x=π=3.1416).
# Re-pinned r16 after the reference-fidelity corrections (verbatim
# gap_fill, per-X-point separatrix decomposition, d_per_de 1/spacing,
# verbatim current-sheet thresholds): separatrices 140→257,
# o_structures 425→383. current_sheets went 692→0 under the verbatim
# thresholds (the broad island band never beats the filtered-array 3σ
# rule), which would have left the sheets kernel OUTSIDE the driver's
# correctness gate — so the fixture's jy gained two localized blobs
# (island_jy, r16) sized to make both polarities fire: 115 cells
# (59 positive at z=3,x=4 / 56 negative at z=-4,x=6.5), cross-checked
# against the verbatim reference formula by
# tests/test_reference_formulas.py::test_current_sheets_match_reference.
Q_FIND_STRUCTURES_CONTRACT_SQL = """
SELECT * FROM (VALUES
  ('n_x_points', 2.0::DOUBLE),
  ('n_o_points', 1.0::DOUBLE),
  ('x0_z', 0.0::DOUBLE),
  ('x0_x', 0.0::DOUBLE),
  ('x1_z', 0.0::DOUBLE),
  ('x1_x', 6.2832::DOUBLE),
  ('o0_z', 0.0::DOUBLE),
  ('o0_x', 3.1416::DOUBLE),
  ('separatrices_cells', 257.0::DOUBLE),
  ('o_structures_cells', 383.0::DOUBLE),
  ('current_sheets_cells', 115.0::DOUBLE),
  ('fluxfn_min', -7.6527::DOUBLE),
  ('fluxfn_max', 0.3227::DOUBLE)
) AS t(metric, value)
"""


def q_find_structures_multi8(spark, sf_dir: str):
    """find_structures in multi-timestep mode over EIGHT phase-shifted
    island-chain timesteps — the timestep-parallel execution the
    reference's TODO wanted (vpicdataset.py:323-325) at bench scale:
    every applyInPandas kernel and smoothing tile partitions by `t`,
    so the plan runs 8 concurrent per-timestep tasks end-to-end.
    Ignores sf_dir (synthetic field). Emits per-timestep X/O counts
    and X-point coordinates (4 dp) as (metric, value) rows; the
    DuckDB oracle states the pinned literals
    (find_structures_contract pattern)."""
    ds = _island_family_dataset(spark)
    ts = np.arange(ISLAND_FAMILY_NT, dtype=float)
    # query timesteps ARE the family phase indices — identity remap
    up = island_family_upstream(
        spark, sf_dir, [(float(t), int(t)) for t in ts]
    )
    find_structures(ds, "b1", "b2", smoothing=1, multi_t=True, upstream=up)

    rows: list[tuple[str, float]] = []
    for t in ts:
        t = float(t)
        xpts = sorted(ds.params["x_coords"].get(t, []), key=lambda p: (p[1], p[0]))
        opts = ds.params["o_coords"].get(t, [])
        rows.append((f"t{t:g}_n_x", float(len(xpts))))
        rows.append((f"t{t:g}_n_o", float(len(opts))))
        for i, (pz, px) in enumerate(xpts):
            rows.append((f"t{t:g}_x{i}_z", round(float(pz), 4) + 0.0))
            rows.append((f"t{t:g}_x{i}_x", round(float(px), 4) + 0.0))
    for df in getattr(ds, "scratch_cached", []):
        df.unpersist()
    return local_rows(spark, rows, "metric string, value double")


# Pinned from the deterministic 8-timestep island field (identical
# across repeated runs; regenerate after an INTENDED semantics
# change). The X-point drift of 0.35/timestep is the analytic phase
# velocity of the construction; the second X point exits the domain at
# t=5, flipping the X/O census — a strong per-timestep-isolation probe.
Q_FIND_STRUCTURES_MULTI8_SQL = """
SELECT * FROM (VALUES
  ('t0_n_x', 2.0::DOUBLE), ('t0_n_o', 1.0::DOUBLE),
  ('t0_x0_z', 0.0::DOUBLE), ('t0_x0_x', 0.0::DOUBLE),
  ('t0_x1_z', 0.0::DOUBLE), ('t0_x1_x', 6.2832::DOUBLE),
  ('t1_n_x', 2.0::DOUBLE), ('t1_n_o', 1.0::DOUBLE),
  ('t1_x0_z', 0.0::DOUBLE), ('t1_x0_x', 0.3499::DOUBLE),
  ('t1_x1_z', 0.0::DOUBLE), ('t1_x1_x', 6.6331::DOUBLE),
  ('t2_n_x', 2.0::DOUBLE), ('t2_n_o', 1.0::DOUBLE),
  ('t2_x0_z', 0.0::DOUBLE), ('t2_x0_x', 0.7001::DOUBLE),
  ('t2_x1_z', 0.0::DOUBLE), ('t2_x1_x', 6.9832::DOUBLE),
  ('t3_n_x', 2.0::DOUBLE), ('t3_n_o', 1.0::DOUBLE),
  ('t3_x0_z', 0.0::DOUBLE), ('t3_x0_x', 1.05::DOUBLE),
  ('t3_x1_z', 0.0::DOUBLE), ('t3_x1_x', 7.3332::DOUBLE),
  ('t4_n_x', 2.0::DOUBLE), ('t4_n_o', 1.0::DOUBLE),
  ('t4_x0_z', 0.0::DOUBLE), ('t4_x0_x', 1.4::DOUBLE),
  ('t4_x1_z', 0.0::DOUBLE), ('t4_x1_x', 7.6924::DOUBLE),
  ('t5_n_x', 1.0::DOUBLE), ('t5_n_o', 2.0::DOUBLE),
  ('t5_x0_z', 0.0::DOUBLE), ('t5_x0_x', 1.7501::DOUBLE),
  ('t6_n_x', 1.0::DOUBLE), ('t6_n_o', 2.0::DOUBLE),
  ('t6_x0_z', 0.0::DOUBLE), ('t6_x0_x', 2.1::DOUBLE),
  ('t7_n_x', 1.0::DOUBLE), ('t7_n_o', 2.0::DOUBLE),
  ('t7_x0_z', 0.0::DOUBLE), ('t7_x0_x', 2.45::DOUBLE)
) AS t(metric, value)
"""
