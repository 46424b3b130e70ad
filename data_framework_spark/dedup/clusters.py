"""Dedup clustering: connected components over the near-dup pair graph.

Pair generators (minhash/simhash/ngram/embedding) emit edges; the
pipeline step that actually SHRINKS a corpus is grouping those edges
into components and keeping one representative per cluster. Components
are computed by iterative min-label propagation (the standard
distributed CC algorithm, cf. GraphX/Pregel): every vertex starts as
its own label, each round adopts the minimum label in its closed
neighborhood, and the loop stops when a round changes nothing. Rounds
needed = graph diameter (near-dup clusters are dense and shallow —
a handful of rounds); each round is one join + one aggregate on the
edge list, both partitioned by vertex — no driver-side graph.

The driver-checked query runs CC over the MinHash-LSH near-dup pairs
of the documents table; the oracle computes the same components in
DuckDB with a recursive transitive-closure CTE (fine at oracle scale;
the Spark path is the one that scales).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_framework_spark.session import scoped_conf

logger = logging.getLogger(__name__)

# one shuffle task per this many directed edges during the label-
# propagation rounds; floor/cap bound scheduling overhead on tiny
# graphs and task-count blow-up on huge ones
_EDGES_PER_PARTITION = 500_000
_MIN_PARTITIONS = 8
_MAX_PARTITIONS = 2048

# below this many distinct directed edges the component computation
# runs driver-side (union-find over one bounded collect, ~16 B/edge →
# ~32 MB at the threshold) instead of paying 3-5 Spark jobs of
# fixed overhead per propagation round. Same bounded-collect pattern
# as the IVF centroid sample (similarity/ivf.py); the distributed
# label-propagation path is unchanged and remains the route for
# every graph above the threshold.
SMALL_GRAPH_EDGES = 2_000_000


def connected_components(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 50,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """(vertex, component) for every vertex appearing in `edges`;
    component = min vertex id reachable. Iterates label propagation to
    a fixpoint (checked per round with a cheap count of changed
    labels); logs a warning if max_rounds expires before the fixpoint
    (diameter > max_rounds), in which case labels are upper bounds on
    the true component minima. Graphs with fewer than
    `small_graph_edges` distinct directed edges short-circuit to a
    driver-side union-find (identical min-label result — pinned by
    tests/test_property_parity.py — without per-round job overhead);
    pass small_graph_edges=0 to force the distributed path."""
    df, _ = connected_components_routed(
        edges, a, b, max_rounds, small_graph_edges
    )
    return df


def connected_components_routed(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 50,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> tuple[DataFrame, bool]:
    """connected_components plus an EXPLICIT `driver_side` flag (r18,
    r17 advisory): callers wanting the local finish previously probed
    `cc.isLocal()`, which is true only because _cc_driver_side's
    createDataFrame-from-pandas happens to yield a LocalRelation in
    this PySpark version — an implementation detail that could
    silently turn the optimization off. The route decision is made
    HERE, so it is returned here."""
    # eager localCheckpoint: iterative plans grow lineage every round —
    # without truncation each action re-analyzes (and can re-execute)
    # the whole chain back to the edge producer. Checkpointing the
    # edge list once and the labels each round keeps every round's
    # plan two joins deep (measured ~40x on the near-dup graph).
    # The rounds run on shuffle partitions sized from |E|: the label
    # table is vertex-sized, so per-round cost on a small graph is task
    # scheduling, not data — the partition count scales with the graph,
    # not the cluster default.
    spark = edges.sparkSession
    sym = (
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = sym.count()  # cheap: scans the checkpoint, not the producer
    if n_edges < small_graph_edges:
        return _cc_driver_side(sym), True
    parts = max(
        _MIN_PARTITIONS,
        min(_MAX_PARTITIONS, -(-n_edges // _EDGES_PER_PARTITION)),
    )
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(parts)}):
        return _cc_rounds(sym, max_rounds), False


def _cc_driver_side(sym: DataFrame) -> DataFrame:
    """Union-find with min-root merging over a bounded Arrow fetch —
    the representative of each component is its minimum vertex id,
    identical to the distributed algorithm's fixpoint.

    The edge list arrives as two numpy columns (toPandas → Arrow), not
    PySpark Rows, so memory at the threshold really is ~16 B/edge
    rather than hundreds of bytes per Row object; vertex ids are
    code-compressed through np.unique (sorted, so min code == min
    vertex) and the parent table is a flat int list, not a dict of
    Python objects. The output schema mirrors the input vertex type,
    so non-long (e.g. string) vertex ids behave exactly like the
    distributed path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    pdf = sym.toPandas()
    vals, codes = np.unique(
        np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()]),
        return_inverse=True,
    )
    n = len(pdf)
    parent = list(range(len(vals)))

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(codes[:n].tolist(), codes[n:].tolist()):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs  # attach larger root under smaller: min-label
    roots = np.fromiter(
        (find(i) for i in range(len(vals))), dtype=np.int64, count=len(vals)
    )
    vtype = sym.schema["src"].dataType
    return sym.sparkSession.createDataFrame(
        pd.DataFrame({"vertex": vals, "component": vals[roots]}),
        StructType(
            [StructField("vertex", vtype), StructField("component", vtype)]
        ),
    )


def _cc_rounds(sym: DataFrame, max_rounds: int) -> DataFrame:
    labels = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_rounds):
        # min label over the closed neighborhood: own label ∪ neighbors'
        neighbor_min = (
            sym.join(labels, sym.dst == labels.v)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # carry a changed flag instead of re-joining against the old
        # labels: the fixpoint check is then a filter on the (already
        # checkpointed) new frame
        new_labels = (
            labels.join(neighbor_min, labels.v == neighbor_min.src, "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("new_label") != F.col("old_label")
        ).count()
        labels = new_labels.select(
            "v", F.col("new_label").alias("label")
        )
        if changed == 0:
            break
    if changed != 0:
        logger.warning(
            "connected_components: fixpoint NOT reached after %d rounds "
            "(%d labels still changing last round) — graph diameter "
            "exceeds max_rounds; returned labels are not guaranteed "
            "component minima. Raise max_rounds.",
            max_rounds,
            changed,
        )
    return labels.select(F.col("v").alias("vertex"), F.col("label").alias("component"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the MinHash-LSH near-dup graph on
    `documents`: (doc_id, cluster representative = min doc_id in the
    component), plus each cluster's size — the keep-one-per-cluster
    step of corpus dedup. Oracle: recursive transitive closure over
    the same edge list (the pair query is itself oracle-verified, so
    both engines see identical edges)."""
    from data_framework_spark.dedup.minhash import q_minhash_near_dups

    pairs = q_minhash_near_dups(spark, sf_dir).select("a", "b")
    cc, cc_driver_side = connected_components_routed(pairs)
    # r17 (guide §1.2 / the pagerank small-route rationale): when the
    # small-graph gate routed the components driver-side, `cc` is a
    # LOCAL relation — finishing with a distributed groupBy + join +
    # sort over it paid 3 more shuffle jobs for rows already in driver
    # memory. A local frame finishes in pandas (exact integer counts,
    # same rows); the distributed tail below is unchanged for the
    # label-propagation route. The route flag comes from
    # connected_components_routed itself (r18, r17 advisory — no more
    # cc.isLocal() plan-shape probing).
    if cc_driver_side:
        import pandas as pd

        pdf = cc.toPandas()
        pdf["cluster_size"] = pdf.groupby("component")[
            "component"
        ].transform("size").astype("int64")
        out = (
            pdf.rename(
                columns={"vertex": "doc_id", "component": "cluster_rep"}
            )
            .sort_values("doc_id", kind="stable")
            .reset_index(drop=True)
        )
        return spark.createDataFrame(
            out, "doc_id long, cluster_rep long, cluster_size long"
        )
    # no broadcast hint: sizes has one row per component, which at
    # corpus scale is itself huge; both sides are already partitioned
    # by component, so the sort-merge/AQE choice is the safe one.
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("cluster_rep"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def _clusters_sql(pairs_sql: str) -> str:
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
walk AS (
  SELECT src, src AS reach FROM edges
  UNION
  SELECT e.src, w.reach
  FROM edges e JOIN walk w ON e.dst = w.src
),
cc AS (
  SELECT src AS doc_id, min(reach) AS cluster_rep FROM walk GROUP BY src
),
sizes AS (
  SELECT cluster_rep AS c, count(*) AS cluster_size FROM cc GROUP BY 1
)
SELECT cc.doc_id, cc.cluster_rep, sizes.cluster_size
FROM cc JOIN sizes ON cc.cluster_rep = sizes.c
ORDER BY cc.doc_id
"""


def clusters_sql() -> str:
    from data_framework_spark.dedup.minhash import Q_MINHASH_NEAR_DUPS_SQL

    inner = Q_MINHASH_NEAR_DUPS_SQL
    return _clusters_sql(f"SELECT a, b FROM ({inner})")
