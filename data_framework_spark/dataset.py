"""SparkDataset — named collection of variables + free-form params.

Re-expresses the reference's `Dataset` (src/datasets/dataset.py:8-247):
`params` (free metadata dict, dataset.py:56), `variables` (label →
variable, :57), default `timeseries`/`default_mesh` (:58-59) — over
lazy long-format DataFrames (SURVEY.md §1.3). The user-facing API
keeps the reference's eager feel; execution is deferred to Spark
actions.

Surface parity:
- `add_var` / `add_param` upserts (dataset.py:100-150; the reference
  prints a confirmation on param add, :98 — we return self instead);
- `ndslice(timelims, zooms, set_pts, interp, **overrides)` applies the
  same slice to every variable (:227-235), stores `unit_vec` /
  `zero_pt` params for line slices (:240-243), merges params
  (:244), and returns a NEW dataset of the same class (:245-246);
- `bounds` combines per-variable bounds with the DOCUMENTED intent
  (most-inclusive limits, :153) — min of mins / max of maxes — not
  the np.minimum-on-both-columns bug at dataset.py:178-179 (deviation
  recorded in SURVEY.md §2.4);
- `export` / `restore` implement the reference's own TODO (hdf5 file
  support "not yet supported", dataset.py:66-70, :183-193) as
  partitioned parquet + a JSON params sidecar.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

import numpy as np

from pyspark.sql import SparkSession

from data_framework_spark.sources.tables import read_parquet
from data_framework_spark.variable import SparkVariable


class SparkDataset:
    def __init__(
        self,
        variables: dict[str, SparkVariable] | None = None,
        params: dict | None = None,
        timeseries: np.ndarray | None = None,
        default_mesh: list[np.ndarray] | None = None,
    ):
        self.variables = dict(variables or {})
        self.params = dict(params or {})
        self.timeseries = timeseries
        self.default_mesh = default_mesh

    # -- inserts (dataset.py:100-150) --------------------------------------

    def add_var(self, var: SparkVariable) -> "SparkDataset":
        self.variables[var.label] = var
        if self.timeseries is None:
            self.timeseries = var._timeseries
        if self.default_mesh is None:
            self.default_mesh = var._mesh
        return self

    def add_param(self, key: str, value) -> "SparkDataset":
        self.params[key] = value
        return self

    # -- variable selection -------------------------------------------------

    def get_vars(self, patterns: Sequence[str]) -> dict[str, SparkVariable]:
        """Case-sensitive substring selection, first match wins per
        pattern (vpicdataset.py:206-213)."""
        out: dict[str, SparkVariable] = {}
        for pat in patterns:
            for label, v in self.variables.items():
                if pat in label:
                    out[label] = v
                    break
        return out

    # -- slicing (dataset.py:195-247) ---------------------------------------

    def ndslice(
        self,
        timelims=None,
        zooms=None,
        set_pts=None,
        interp: str = "linear",
        **kwargs,
    ) -> "SparkDataset":
        new_vars = {
            label: v.ndslice(timelims, zooms, set_pts, interp, **kwargs)
            for label, v in self.variables.items()
        }
        slice_params = {}
        if set_pts is not None:
            pts = np.asarray(set_pts, dtype=float)
            diff = pts[1] - pts[0]
            slice_params["unit_vec"] = (diff / np.linalg.norm(diff)).tolist()
            slice_params["zero_pt"] = pts[0].tolist()
        first = next(iter(new_vars.values()), None)
        return SparkDataset(
            new_vars,
            {**self.params, **slice_params},  # merge (dataset.py:244)
            first._timeseries if first is not None else self.timeseries,
            first._mesh if first is not None else self.default_mesh,
        )

    # -- aggregates (dataset.py:152-181) ------------------------------------

    def bounds(self, time: bool = True, space: bool = True) -> list[list[float]]:
        per_var = [v.bounds(time, space) for v in self.variables.values()]
        if not per_var:
            return []
        # positional min/max WITHOUT np.array: variables of different
        # ndim (legitimate after per-grid ingest) return bound lists of
        # different lengths, and a ragged np.array raises on numpy
        # >= 1.24 (round-9 review); shorter variables simply don't
        # constrain the higher axes
        n = max(len(b) for b in per_var)
        return [
            [
                min(b[i][0] for b in per_var if i < len(b)),
                max(b[i][1] for b in per_var if i < len(b)),
            ]
            for i in range(n)
        ]

    # -- persistence (reference TODO: dataset.py:69, :191-193) ---------------

    def export(self, path: str) -> None:
        from urllib.parse import quote

        meta = {"params": self.params, "variables": {}}
        for label, v in self.variables.items():
            # percent-encode: an injective, filesystem-safe mapping.
            # The old replace('/', '_') collided distinct labels (e.g.
            # 'a/b' and 'a_b') onto one directory, silently
            # overwriting one variable's data with the other's
            # (round-9 review); restore() reads the dir name from the
            # json either way.
            safe = quote(label, safe="")
            v.df.write.mode("overwrite").parquet(os.path.join(path, f"var_{safe}"))
            meta["variables"][label] = {"ndim": v.ndim, "dir": f"var_{safe}"}
        with open(os.path.join(path, "_dataset.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def restore(cls, spark: SparkSession, path: str) -> "SparkDataset":
        with open(os.path.join(path, "_dataset.json")) as f:
            meta = json.load(f)
        variables = {}
        for label, info in meta["variables"].items():
            df = read_parquet(spark, os.path.join(path, info["dir"]))
            variables[label] = SparkVariable(label, df, info["ndim"])
        return cls(variables, meta["params"])
