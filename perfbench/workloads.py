"""The benchmark's workloads: which registry queries run on which inputs.

Row counts are those of the test data at `sf` (sf0.01: 60,000
lineitem rows, 10,000 events, 500 documents, 500 embeddings);
`corpus_scale` multiplies the documents and embeddings only.
"""

from __future__ import annotations

from dataclasses import dataclass

#: the seed the committed goldens were recorded at
DEFAULT_SEED = 1

#: layers: top-level package of `Query.fn.__module__`, except that
#: `operators.raster_queries` (NumPy tiles in Python workers) counts as
#: `kernels`
LAYERS = ("sources", "operators", "kernels", "plans", "streaming",
          "dedup", "functions", "similarity")


def layer_of(fn) -> str:
    module = fn.__module__.removeprefix("data_framework_spark.")
    if module == "operators.raster_queries":
        return "kernels"
    return module.split(".")[0]


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sf: float = 0.01
    corpus_scale: int = 1
    #: the bucketed layout is part of set-up only where a query reads it
    needs_layout: bool = False
    #: the Python worker pool is warmed in set-up only where a query
    #: runs Python workers
    needs_pyworkers: bool = True
    #: warm rounds every run makes; --seconds adds rounds only when these
    #: take less time than it
    rounds: int = 1
    #: queries whose DuckDB oracle is too slow to run on every seed;
    #: they are checked against goldens: in full at DEFAULT_SEED, by row
    #: count and column names on other seeds
    heavy_oracles: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        # JVM-bound, fixed per-query cost: the reference's mesh
        # operators, TPC-H shapes over the bucketed layout, and a write
        # round trip through `sources`. No Python workers.
        Workload(
            "mesh_tpch_sf01",
            (
                "tumbling_window_events",
                "tpch_q3",
                "bucketed_join_lineitem",
                "format_roundtrip",
            ),
            needs_layout=True,
            needs_pyworkers=False,
            # a round is cheap here, and one sample per query spread by
            # more than a quarter between seeds
            rounds=2,
        ),
        # Python-worker- and driver-bound: PQ codebooks and the
        # find_structures family frame are built and written to the index
        # cache on the cold pass and reused on warm ones; NumPy-tile
        # UDFs.
        Workload(
            "corpus_10x",
            (
                "pq_codes",
                "dedup_exact",
                "tfidf_top_terms",
                "gaussian_smooth_grid",
                "find_structures_contract",
            ),
            corpus_scale=10,
            # DuckDB takes a minute to assign 5,000 embeddings to codebooks
            heavy_oracles=("pq_codes",),
        ),
    )
}
