"""Round-17 (optimization round 1) guards.

Every change this round is an EXECUTION-ROUTE or PLAN-SHAPE change
that must leave each query's result identical; these tests pin the
equivalences the optimizations rely on.
"""

from __future__ import annotations

import pytest

import data_framework_spark.operators.graph as G

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.mark.slow  # r18: sf0.01 double-run pin; slow lane
class TestDedupClustersLocalFinish:
    def test_local_finish_matches_distributed_tail(self, spark):
        """When the CC small-graph gate routes driver-side,
        q_dedup_clusters finishes the size/representative accounting
        in pandas; forcing the distributed label-propagation route
        (and its groupBy+join tail) must give identical rows."""
        import data_framework_spark.dedup.clusters as C

        a = C.q_dedup_clusters(spark, SF01).collect()
        # r18: the query now routes via connected_components_routed
        # (explicit driver_side flag) — patch THAT to force the
        # distributed label-propagation route
        real_cc = C.connected_components_routed
        C.connected_components_routed = lambda pairs, **kw: real_cc(
            pairs, small_graph_edges=0
        )
        try:
            b = C.q_dedup_clusters(spark, SF01).collect()
        finally:
            C.connected_components_routed = real_cc
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.mark.slow  # r18: sf0.01 double-run pin; slow lane
class TestFunnelOnePass:
    def test_one_pass_funnel_matches_stagewise(self, spark):
        """The r17 one-pass funnel (per-user stage arrays + HOF
        recurrence) must reproduce the former stage-by-stage
        persist/count form exactly."""
        from pyspark.sql import functions as F

        from data_framework_spark.operators.analytics import (
            FUNNEL_STAGES,
            q_funnel_stages,
        )
        from data_framework_spark.sources.tables import load_table

        for sf in (SF001, SF01):
            new = q_funnel_stages(spark, sf).collect()
            # the pre-r17 stagewise reference, verbatim
            ev = load_table(spark, sf, "events").select(
                "user_id", "ts", "event_type"
            )
            stage = (
                ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
            counts = [stage.count()]
            for ev_type in FUNNEL_STAGES[1:]:
                stage = (
                    ev.filter(F.col("event_type") == ev_type)
                    .join(stage, "user_id")
                    .filter(F.col("ts") > F.col("t"))
                    .groupBy("user_id")
                    .agg(F.min("ts").alias("t"))
                )
                counts.append(stage.count())
            assert [new[0][c] for c in (
                "n_signup", "n_view", "n_click", "n_purchase"
            )] == counts


class TestPagerankSmallGraphRoute:
    # sf0.01 is slow-lane (it forces the distributed route over the
    # larger graph); sf0.001 stays in the default lane
    @pytest.mark.parametrize(
        "sf", [SF001, pytest.param(SF01, marks=pytest.mark.slow)]
    )
    def test_driver_route_equals_distributed_route(self, spark, sf):
        """The r17 driver-side rank iteration (PR_SMALL_GRAPH_EDGES
        bounded collect) must return EXACTLY the distributed
        iteration's rows — same nodes, same degrees, same 6dp-rounded
        ranks, same top-50 order. Pinned at sf0.001 AND sf0.01 (r18,
        r17 advisory: the np.add.at vs Spark partial-sum agreement
        after 6dp rounding deserves the pin at every driver-verified
        SF where the small route fires)."""
        a = G.q_pagerank_neardup(spark, sf).collect()
        orig = G.PR_SMALL_GRAPH_EDGES
        G.PR_SMALL_GRAPH_EDGES = 0  # force the distributed route
        try:
            b = G.q_pagerank_neardup(spark, sf).collect()
        finally:
            G.PR_SMALL_GRAPH_EDGES = orig
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_small_route_used_below_threshold(self, spark):
        """At the shipped SFs the near-dup graph is far below the
        2M-directed-edge budget, so the small route must be taken
        (the distributed path would show its ~34-job signature)."""
        sc = spark.sparkContext
        st = sc.statusTracker()
        before = max(st.getJobIdsForGroup() or [-1])
        G.q_pagerank_neardup(spark, SF001).collect()
        after = max(st.getJobIdsForGroup() or [-1])
        # pairs GEMM + counts + final join: well under the
        # distributed route's per-iteration job fan-out
        assert after - before < 20

    def test_driver_side_kernel_matches_reference_arithmetic(self):
        """The numpy kernel reproduces the synchronous-PageRank
        recurrence exactly on a hand-checked 3-node path graph."""
        import pandas as pd

        # undirected path 1-2, 2-3 (symmetric edges built inside)
        pairs = pd.DataFrame({"a": [1, 2], "b": [2, 3]})
        n = 3.0
        d = 0.85
        vals, deg, r = G._pagerank_driver_side(pairs, n, d, 1)
        assert list(vals) == [1, 2, 3]
        assert list(deg) == [1, 2, 1]
        r0 = 1.0 / 3.0
        base = (1.0 - d) / n  # same float path as the kernel
        # node 1 <- 2/deg2 ; node 2 <- 1/deg1 + 3/deg3 ; node 3 <- 2/deg2
        assert r[0] == base + d * (r0 / 2)
        assert r[1] == base + d * (r0 / 1 + r0 / 1)
        assert r[2] == base + d * (r0 / 2)
