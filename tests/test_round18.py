"""Round-18 (optimization round 2) guards.

Every change this round is an EXECUTION-ROUTE or PLAN-SHAPE change
that must leave each query's result identical; these tests pin the
equivalences the optimizations rely on.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_r18_verify_window_arithmetic():
    """The driver verifies the FIRST 50 registry entries. Round 18's
    rotation (the r17 verdict's top ask — r17 did not rotate):
    (a) the FULL 16-query last-green-r13 cohort; (b) the 18
    r17-rewritten paths without an r17 driver row; (c) 6 slots for
    the paths r18 itself touches (streaming ×4, benchmark_decontam,
    tpch_q2); (d) the first 10 of the remaining r14 cohort. Cohort
    membership is re-derived from the committed CORRECTNESS files so
    the pin fails if the list drifts from the actual staleness
    record."""
    import json
    import os

    from data_framework_spark.registry import QUERIES, _VERIFY_FIRST

    here = os.path.dirname(__file__)
    root = os.path.join(here, "..")

    def load(n):
        with open(os.path.join(root, f"CORRECTNESS_r{n:02d}.json")) as f:
            return set(json.load(f))

    last = {}
    for n in range(1, 18):
        p = os.path.join(root, f"CORRECTNESS_r{n:02d}.json")
        if os.path.exists(p):
            for q in load(n):
                last[q] = n

    assert len(_VERIFY_FIRST) == 50
    assert len(set(_VERIFY_FIRST)) == 50
    assert set(_VERIFY_FIRST) <= set(QUERIES)
    assert list(QUERIES)[:50] == _VERIFY_FIRST  # hoisting applied

    a, b, c, d = (
        _VERIFY_FIRST[:16],
        _VERIFY_FIRST[16:34],
        _VERIFY_FIRST[34:40],
        _VERIFY_FIRST[40:50],
    )
    # (a) == the ENTIRE last-green-r13 cohort (5 rounds stale at r18)
    cohort13 = {q for q in QUERIES if last.get(q) == 13}
    assert set(a) == cohort13 and len(a) == 16
    # (b) r17-rewritten paths lacking an r17 driver row — all from
    # the r14/r15 cohorts (the four r13-cohort rewrites sit in (a))
    assert all(last.get(q) in (14, 15) for q in b), [
        (q, last.get(q)) for q in b
    ]
    assert set(b) >= {
        "minhash_near_dup_pairs", "dedup_clusters", "halo_smooth_multi_t",
        "ivfpq_persist_topk", "ivfpq_nprobe_curve", "sketch_accuracy_events",
        "hll_union_contract_events", "pq_codes", "pq_adc_topk",
        "pagerank_neardup_lsh", "semantic_dedup_scaled", "pq_train_gain",
    }
    # (c) the r18 planned-touch reservations
    assert c == [
        "stateful_user_totals_live", "streaming_dedup_events",
        "streaming_interval_join", "streaming_heavy_hitters",
        "benchmark_decontam", "tpch_q2_min_cost_supplier",
    ]
    # (d) oldest r14 rows with the returned slots
    assert all(last.get(q) == 14 for q in d), [(q, last.get(q)) for q in d]


class TestChunkedDedupCounts:
    def test_chunked_equals_full_matrix(self):
        """_count_removed's row-block chunking must count exactly the
        members the one-shot n×n matrix counted — the r17 advisory's
        memory fix may not move a single value. The reference below IS
        the former implementation (full matrix + strict lower
        triangle)."""
        from data_framework_spark.similarity.semantic import (
            DUP_COS,
            _count_removed,
            _pair_cosines,
            _round6,
        )

        rng = np.random.default_rng(7)
        for n, dim in ((2, 4), (37, 8), (500, 16), (3000, 4)):
            X = rng.normal(size=(n, dim))
            nrm = np.sqrt((X * X).sum(axis=1))
            r6 = _round6(_pair_cosines(X, nrm, X, nrm))
            hit = (r6 >= DUP_COS) & np.tri(n, k=-1, dtype=bool)
            expected = int(hit.any(axis=1).sum())
            # small blk_elems forces many blocks even at n=37
            assert _count_removed(X, blk_elems=n * 7) == expected
            assert _count_removed(X) == expected

    def test_single_block_path(self):
        from data_framework_spark.similarity.semantic import _count_removed

        X = np.eye(3)  # orthogonal — nothing is a duplicate
        assert _count_removed(X) == 0
        X = np.ones((4, 3))  # identical — all but the first removable
        assert _count_removed(X) == 3


class TestTpchQ2WindowMin:
    def test_window_form_equals_join_form(self, spark):
        """The r18 window-min rewrite must return exactly the former
        groupBy + broadcast-join-back rows (ties at the per-part min
        all survive both forms)."""
        from data_framework_spark.operators import relational_final as R
        from data_framework_spark.sources.tables import load_table

        new = [tuple(r) for r in R.tpch_q2_min_cost_supplier(spark, SF001).collect()]

        ps = R._derived_partsupp(spark, SF001)
        part = load_table(spark, SF001, "part").filter(
            (F.col("p_size") == 25) | (F.col("p_size") == 30)
        )
        supp = load_table(spark, SF001, "supplier")
        nation = load_table(spark, SF001, "nation")
        region = load_table(spark, SF001, "region").filter(
            F.col("r_name") == "AMERICA"
        )
        rsupp = (
            supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        )
        rps = ps.join(F.broadcast(rsupp), ps.ps_suppkey == rsupp.s_suppkey).join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            ps.ps_partkey == F.col("p_partkey"),
        )
        min_cost = rps.groupBy(F.col("ps_partkey").alias("__mc_pk")).agg(
            F.min("ps_supplycost").alias("__min_cost")
        )
        old = [
            tuple(r)
            for r in rps.join(
                F.broadcast(min_cost),
                (F.col("ps_partkey") == F.col("__mc_pk"))
                & (F.col("ps_supplycost") == F.col("__min_cost")),
            )
            .select(
                F.round("s_acctbal", 2).alias("s_acctbal"),
                "s_name",
                "n_name",
                F.col("ps_partkey").alias("p_partkey"),
                "p_brand",
                "ps_supplycost",
            )
            .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
            .limit(100)
            .collect()
        ]
        assert new == old


class TestFunnelRestructure:
    def test_window_election_equals_join_back(self, spark):
        """The r18 funnel restructure (window-min rep election with
        doc-unique salt for non-clean rows, checkpointed slim frame,
        broadcast contam join-back) must produce the former
        stage-by-stage rows exactly."""
        from data_framework_spark.dedup.minhash import K as MH_K
        from data_framework_spark.functions import corpus as C

        base = C._funnel_base_cached(spark, SF001)
        new = [tuple(r) for r in C._funnel_from_base(spark, base).collect()]

        # the pre-r18 form, verbatim
        train = base.filter(~F.col("b")).drop("b")
        flags = train.withColumn(
            "rep_ratio", C.top_token_ratio(F.col("toks"))
        ).withColumn(
            "q_ok",
            F.col("n_tok").between(C.QF_MIN_TOKENS, C.QF_MAX_TOKENS)
            & F.col("mean_len").between(C.QF_MIN_MEAN_LEN, C.QF_MAX_MEAN_LEN)
            & (F.col("stop_frac") >= C.QF_MIN_STOPWORD_FRAC),
        )
        flags = flags.withColumn(
            "clean_ok",
            F.col("q_ok")
            & (F.col("rep_ratio") <= C.REP_THRESHOLD)
            & (F.col("dup_frac") <= C.DUPNG_FLAG),
        )

        def _component(k: int):
            tag = F.lit(f"#{k}")
            return lambda s: F.md5(F.concat(s, tag))

        sig = flags.filter("clean_ok").select(
            F.col("doc_id").alias("doc"),
            *[
                F.array_min(
                    F.transform(F.array_distinct("toks"), _component(k))
                ).alias(f"h{k}")
                for k in range(MH_K)
            ],
        )
        keepers = (
            sig.groupBy(*[f"h{k}" for k in range(MH_K)])
            .agg(F.min("doc").alias("doc_id"))
            .select("doc_id", F.lit(True).alias("is_rep"))
        )
        flags = flags.join(keepers, "doc_id", "left").withColumn(
            "uniq_ok", F.col("clean_ok") & F.coalesce("is_rep", F.lit(False))
        )
        bench_h = base.filter("b").select(F.explode("g").alias("h")).distinct()
        contam = (
            flags.filter("uniq_ok")
            .select("doc_id", F.explode("g").alias("h"))
            .join(F.broadcast(bench_h), "h")
            .select("doc_id")
            .distinct()
            .withColumn("is_contam", F.lit(True))
        )
        flags = flags.join(contam, "doc_id", "left").withColumn(
            "kept_ok",
            F.col("uniq_ok") & ~F.coalesce(F.col("is_contam"), F.lit(False)),
        )
        shard = F.floor(C.hash_fraction(F.col("doc_id")) * C.N_SHARDS)
        old = [
            tuple(r)
            for r in flags.withColumn("shard", shard)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("q_ok").cast("long")).alias("n_quality"),
                F.sum(F.col("clean_ok").cast("long")).alias("n_clean"),
                F.sum(F.col("uniq_ok").cast("long")).alias("n_unique"),
                F.sum(F.col("kept_ok").cast("long")).alias("n_kept"),
                F.countDistinct(
                    F.when(F.col("kept_ok"), F.col("shard"))
                ).alias("n_shards_used"),
                F.coalesce(
                    F.sum(F.when(F.col("kept_ok"), F.col("n_tok"))), F.lit(0)
                ).alias("kept_tokens"),
            )
            .orderBy("source")
            .collect()
        ]
        assert new == old


class TestClustersRoutedFlag:
    def test_flag_matches_route(self, spark):
        """connected_components_routed must report driver_side=True
        exactly when the small-graph gate fires."""
        from data_framework_spark.dedup.clusters import (
            connected_components_routed,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "a long, b long"
        )
        cc, driver_side = connected_components_routed(edges)
        assert driver_side is True
        got = {(r["vertex"], r["component"]) for r in cc.collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

        cc2, driver2 = connected_components_routed(
            edges, small_graph_edges=0
        )
        assert driver2 is False
        got2 = {(r["vertex"], r["component"]) for r in cc2.collect()}
        assert got2 == got
