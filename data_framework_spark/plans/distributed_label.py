"""Distributed connected-component labeling — the documented escape
for the single-tile flood/label ceiling (SURVEY §2.9; r11 verdict ask
5). Reference semantics: kernels/ndimage.label (cross connectivity,
scan-order numbering), itself pinned against the reference's
scipy/skimage usage (/root/reference/src/datasets/vpicdataset.py:470,
:510, :518).

The r11 raster table located the single-tile `applyInPandas` ceiling
at ~4M cells per timestep (0.8 GB/group pandas + parallelism
collapse), so a 4096² grid (16.8M cells) is over it. This module is
the standard tile-stitch CCL that removes the ceiling:

1. partition the set-pixel rows into TILE×TILE tiles (bounded
   per-task memory, the halo-Gaussian precedent);
2. label each tile locally with the SAME run-based kernel
   (`ndimage.label`), then canonicalize each local component to its
   minimum global scan-order pixel index (pid = i0·width + i1) — a
   globally unique, order-meaningful id;
3. stitch: set pixels on tile edges equi-join their cross-boundary
   neighbors (two joins, one per axis) into a component-equivalence
   edge list — BOUNDARY-sized, not grid-sized;
4. merge equivalences with dedup/clusters.connected_components (min
   vertex id per component == global min pid — the shared distributed
   min-label machinery, union-find fast path under 2M edges);
5. dense-rank the component roots ascending.

Numbering equality, not just partition equality: `ndimage.label`
numbers components by scan-order first encounter, and a component's
first-encountered pixel IS its minimum pid — so ranking roots (= min
pids) ascending reproduces the single-tile labels EXACTLY on any
grid where both routes run (pinned in tests/test_round12.py; the
oversized 4096² run is digest-verified against driver-side numpy in
SURVEY.md §8, round-12 changelog).

Cost shape at 100 TB: one grid-sized shuffle onto tile keys, one
bounded kernel pass per tile, boundary-sized stitching, and a
components-count dense-rank (a single-partition window over the
component ROOTS — structures, not pixels; if components themselves
explode past driver scale the rank becomes a sort-based zipWithIndex,
noted, not needed here)."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from data_framework_spark.kernels import ndimage

DEFAULT_TILE = 1024  # 1M cells/task densified (8 MB) — well under the
#                      measured ~4M single-tile ceiling


def label_cells(
    cells: DataFrame, width: int, tile: int = DEFAULT_TILE
) -> DataFrame:
    """(i0, i1) SET-pixel rows → (i0, i1, label): cross-connectivity
    connected components with labels identical to
    `kernels.ndimage.label` run on the dense mask (1-based,
    scan-order numbering). `width` bounds i1 (pid = i0·width + i1
    must be collision-free)."""
    pid = (F.col("i0") * width + F.col("i1")).cast("long")
    # integral `div` (exact bigint division, never a double round-trip):
    # coordinates are non-negative by contract (enforced executor-side in
    # local_label, r12 advisory), so div == floor-div and the tile key is
    # exact for any representable coordinate (r13 advisory: F.floor over
    # float division could in principle round across an integer boundary
    # near 2^40+ for non-power-of-2 tiles)
    px = cells.select(
        F.col("i0").cast("long").alias("i0"),
        F.col("i1").cast("long").alias("i1"),
        pid.alias("pid"),
        F.expr(f"CAST(i0 AS BIGINT) div {int(tile)}").alias("t0"),
        F.expr(f"CAST(i1 AS BIGINT) div {int(tile)}").alias("t1"),
    )

    def local_label(pdf: pd.DataFrame) -> pd.DataFrame:
        i0 = pdf["i0"].to_numpy()
        i1 = pdf["i1"].to_numpy()
        pids = pdf["pid"].to_numpy()
        if len(i0) and (i0.min() < 0 or i1.min() < 0):
            raise ValueError(
                "label_cells requires non-negative (i0, i1) coordinates"
            )
        if len(i1) and i1.max() >= width:
            raise ValueError(
                f"label_cells: i1={i1.max()} >= width={width}; "
                "pid = i0*width + i1 would collide"
            )
        if len(pids) != len(np.unique(pids)):
            raise ValueError(
                "label_cells requires distinct (i0, i1) pixels"
            )
        r = i0 - (i0.min() // tile) * tile
        c = i1 - (i1.min() // tile) * tile
        m = np.zeros((tile, tile), dtype=bool)
        m[r, c] = True
        lbl, n = ndimage.label(m)
        loc = lbl[r, c]  # 1..n per input pixel
        mins = np.full(n + 1, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(mins, loc, pids)
        return pd.DataFrame({"i0": i0, "i1": i1, "cid": mins[loc]})

    # the per-tile labeling feeds THREE plan branches (two boundary
    # joins + the rooting join); an eager localCheckpoint runs the
    # applyInPandas once instead of per-branch (the
    # connected_components pattern — exchange reuse alone would still
    # re-run the kernel on the reused shuffle output)
    labeled = (
        px.groupBy("t0", "t1")
        .applyInPandas(local_label, schema="i0 long, i1 long, cid long")
        .localCheckpoint(eager=True)
    )
    # boundary-sized equivalence edges: a set pixel whose cross-tile
    # neighbor is set joins it on exact coordinates
    a = labeled.alias("a")
    b = labeled.alias("b")
    edges_h = (
        a.filter((F.col("a.i1") + 1) % tile == 0)
        .join(
            b,
            (F.col("a.i0") == F.col("b.i0"))
            & (F.col("b.i1") == F.col("a.i1") + 1),
        )
        .select(F.col("a.cid").alias("ca"), F.col("b.cid").alias("cb"))
    )
    edges_v = (
        a.filter((F.col("a.i0") + 1) % tile == 0)
        .join(
            b,
            (F.col("b.i0") == F.col("a.i0") + 1)
            & (F.col("a.i1") == F.col("b.i1")),
        )
        .select(F.col("a.cid").alias("ca"), F.col("b.cid").alias("cb"))
    )
    edges = edges_h.union(edges_v).filter(F.col("ca") != F.col("cb"))

    from data_framework_spark.dedup.clusters import connected_components

    cc = connected_components(edges, "ca", "cb").select(
        F.col("vertex").alias("cid"), F.col("component").alias("root")
    )
    # cc is component-sized (not pixel-sized); AQE broadcasts it when
    # small enough, else it shuffles on cid — both fine
    rooted = labeled.join(cc, "cid", "left").select(
        "i0",
        "i1",
        F.coalesce(F.col("root"), F.col("cid")).alias("root"),
    )
    ranks = (
        rooted.select("root")
        .distinct()
        .withColumn("label", F.row_number().over(W.orderBy("root")))
    )
    return rooted.join(ranks, "root").select("i0", "i1", "label")


CONTRACT_SIDE = 384  # 3×3 tiles of 128 — the stitch path, cheaply
CONTRACT_TILE = 128


def q_distributed_label_contract(spark, sf_dir: str) -> DataFrame:
    """HASH-CHECKED contract for the tile-stitch CCL route (r12
    verdict ask 5 — the 4096² digest run recorded in SURVEY.md §8,
    round-12 changelog, proved the route standalone;
    this puts a driver row on it every window it rotates through).

    Input: a deterministic procedural 384×384 mask — set where
    (i0·1103515245 + i1·12345 + i0·i1·7919) mod 97 < 42 — generated
    distributively from spark.range (no driver-side grid). The
    bilinear-mod predicate is deliberately STRUCTURED: density 0.439
    yields one giant component (32,631 px) spanning all nine
    128×128 tiles plus 12,325 small ones, so the boundary-equivalence
    stitch and the shared connected-components merge both do real
    work (a giant component is the worst case for label propagation).
    Runs `label_cells` with tile=128 < side=384 — the plan provably
    takes the distributed path (9 applyInPandas tile groups + two
    boundary joins), never a single-tile kernel call.

    Output: SQL-expressible invariants as (metric, value) rows — set
    pixel count, component count, largest/scan-order-first component
    sizes, sum of labels, and a modular label·pid checksum — stated
    by the DuckDB oracle as pinned literals (the
    find_structures_contract pattern; regenerate by printing this
    query's rows after an INTENDED semantics change). The same grid
    is digest-verified against the single-tile numpy kernel in
    tests/test_round13.py. Ignores sf_dir (synthetic input by
    design)."""
    side, tile = CONTRACT_SIDE, CONTRACT_TILE
    base = spark.range(side * side).select(
        (F.col("id") / side).cast("long").alias("i0"),
        F.pmod(F.col("id"), side).cast("long").alias("i1"),
    )
    cells = base.filter(
        F.pmod(
            F.col("i0") * F.lit(1103515245)
            + F.col("i1") * F.lit(12345)
            + F.col("i0") * F.col("i1") * F.lit(7919),
            F.lit(97),
        )
        < 42
    )
    labeled = label_cells(cells, width=side, tile=tile).localCheckpoint(
        eager=True  # feeds the pixel-level and component-level aggs
    )
    pix = labeled.agg(
        F.count(F.lit(1)).alias("n_pixels"),
        F.sum("label").alias("sum_labels"),
        F.sum(
            F.pmod(
                F.col("label") * (F.col("i0") * side + F.col("i1")),
                F.lit(1000003),
            )
        ).alias("checksum_mod"),
    ).collect()[0]
    sizes = labeled.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    comp = sizes.agg(
        F.count(F.lit(1)).alias("n_components"),
        F.max("sz").alias("largest_size"),
    ).collect()[0]
    first3 = {
        r["label"]: r["sz"]
        for r in sizes.filter(F.col("label") <= 3).collect()
    }
    rows = [
        ("n_pixels", float(pix["n_pixels"])),
        ("n_components", float(comp["n_components"])),
        ("largest_size", float(comp["largest_size"])),
        ("label1_size", float(first3.get(1, 0))),
        ("label2_size", float(first3.get(2, 0))),
        ("label3_size", float(first3.get(3, 0))),
        ("sum_labels", float(pix["sum_labels"])),
        ("checksum_mod", float(pix["checksum_mod"])),
    ]
    return spark.createDataFrame(rows, schema="metric string, value double")


# Literal expected values, pinned from the 384² contract grid
# (CONTRACT_SIDE = 384, tile = 128 → the 3×3 stitch path) and
# cross-checked against the single-tile numpy kernel on the dense
# mask (tests/test_round13.py). Every value is an exact integer far
# inside double precision (max ~3e10 < 2^53).
Q_DISTRIBUTED_LABEL_CONTRACT_SQL = """
SELECT * FROM (VALUES
  ('n_pixels',        64728.0::DOUBLE),
  ('n_components',    12326.0::DOUBLE),
  ('largest_size',    32631.0::DOUBLE),
  ('label1_size',         2.0::DOUBLE),
  ('label2_size',        18.0::DOUBLE),
  ('label3_size',         1.0::DOUBLE),
  ('sum_labels',  199439958.0::DOUBLE),
  ('checksum_mod', 29977730886.0::DOUBLE)
) AS t(metric, value)
"""


def flood_cells(
    cells: DataFrame, width: int, seed: tuple[int, int], tile: int = DEFAULT_TILE
) -> DataFrame:
    """(i0, i1) rows of the region connected to `seed` — the
    distributed face of `kernels.ndimage.flood` over an already-
    equality-masked pixel set (the caller applies `value == value at
    seed`, exactly how the single-tile queries build their masks)."""
    # the labeled frame is consumed twice (seed lookup + region
    # filter); checkpoint so the CCL runs once
    lab = label_cells(cells, width, tile).localCheckpoint(eager=True)
    seed_lbl = lab.filter(
        (F.col("i0") == seed[0]) & (F.col("i1") == seed[1])
    ).select(F.col("label").alias("seed_label"))
    return (
        lab.join(F.broadcast(seed_lbl), F.col("label") == F.col("seed_label"))
        .select("i0", "i1")
    )
