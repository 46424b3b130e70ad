"""Round-8 hardening: property tests against obviously-correct pure
references for the span extractor, build-determinism for the IVF-PQ
index, and the repeated-digest stress (the round-7 convention) for
the three new oracle queries."""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


# --- duplicate-span extraction vs a pure-Python reference -------------------


def _spans_reference(texts: dict[int, str], k: int) -> set[tuple[int, int, int]]:
    """Obviously-correct O(total_tokens) reference: count k-grams,
    mark positions whose gram occurs >1 time corpus-wide, merge
    per-doc intervals [i, i+k-1] that overlap or touch (gap == 1)."""
    from collections import Counter

    toks = {d: t.split(" ") for d, t in texts.items()}
    counts: Counter = Counter()
    for ts in toks.values():
        for i in range(len(ts) - k + 1):
            counts[tuple(ts[i : i + k])] += 1
    out = set()
    for d, ts in toks.items():
        ivs = [
            (i, i + k - 1)
            for i in range(len(ts) - k + 1)
            if counts[tuple(ts[i : i + k])] > 1
        ]
        cur = None
        for s, e in ivs:
            if cur is None:
                cur = [s, e]
            elif s <= cur[1] + 1:
                cur[1] = max(cur[1], e)
            else:
                out.add((d, cur[0], cur[1]))
                cur = [s, e]
        if cur is not None:
            out.add((d, cur[0], cur[1]))
    return out


@given(st.data())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dup_spans_match_reference(spark, data):
    """Random corpora over a 3-word alphabet (duplicate-dense, tie
    storms, whole-doc spans, empty results all reachable) must match
    the pure-Python gram-count + interval-merge reference exactly."""
    from data_framework_spark.dedup.spans import (
        SPAN_K,
        duplicated_positions,
        merge_spans,
    )

    n_docs = data.draw(st.integers(2, 6), label="n_docs")
    texts = {
        d: " ".join(
            data.draw(
                st.lists(
                    st.sampled_from(["aa", "bb", "cc"]),
                    min_size=1,
                    max_size=18,
                ),
                label=f"doc{d}",
            )
        )
        for d in range(n_docs)
    }
    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    iv = duplicated_positions(docs).select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + (SPAN_K - 1)).alias("e"),
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in merge_spans(iv).collect()
    }
    assert got == _spans_reference(texts, SPAN_K)


# --- widen_scan adaptive contract -------------------------------------------


def test_widen_scan_widens_small_and_leaves_wide_alone(spark):
    """widen_scan repartitions a below-core-count scan up to
    defaultParallelism and is a STRUCTURAL NO-OP (same plan object)
    on input that is already wide — the property that keeps the
    shuffle-free per-doc passes exchange-free at scale."""
    from data_framework_spark.sources.tables import load_table, widen_scan

    n = spark.sparkContext.defaultParallelism
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert docs.rdd.getNumPartitions() < n  # single row group
    widened = widen_scan(docs)
    assert widened.rdd.getNumPartitions() == n
    assert widened.count() == docs.count()
    already_wide = docs.repartition(n)
    assert widen_scan(already_wide) is already_wide


# --- ngram Jaccard: Arrow kernel equals the JVM route -----------------------


def test_ngram_jaccard_arrow_route_equals_jvm(spark):
    """The round-8 Arrow membership-matrix kernel must return the
    EXACT same (a, b, jaccard) set — same rounded doubles — as the
    JVM array_intersect route it replaced in the hot path."""
    from data_framework_spark.dedup.ngram import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_arrow,
    )
    from data_framework_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    probe = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("doc")
    )
    jvm = {
        (r.a, r.b, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", 0.5, probe
        ).collect()
    }
    arrow = {
        (r.a, r.b, r.jaccard)
        for r in ngram_jaccard_pairs_arrow(
            docs, "doc_id", "text", 0.5, probe
        ).collect()
    }
    assert jvm == arrow and len(arrow) > 0


def test_ngram_jaccard_arrow_short_texts_and_empty_probe(spark):
    """Edge cases through the Arrow kernel: sub-trigram texts (the
    greatest() pad) and an empty probe set (no collected gram sets —
    the kernel must yield an empty frame, not crash)."""
    from data_framework_spark.dedup.ngram import ngram_jaccard_pairs_arrow

    docs = spark.createDataFrame(
        [(1, "ab"), (2, "ab"), (3, "xy")], "doc_id long, text string"
    )
    probe = docs.filter(F.col("doc_id") <= 1).select(
        F.col("doc_id").alias("doc")
    )
    got = {
        (r.a, r.b, r.jaccard)
        for r in ngram_jaccard_pairs_arrow(
            docs, "doc_id", "text", 0.5, probe
        ).collect()
    }
    assert got == {(1, 2, 1.0)}
    empty_probe = docs.filter(F.col("doc_id") < 0).select(
        F.col("doc_id").alias("doc")
    )
    assert (
        ngram_jaccard_pairs_arrow(
            docs, "doc_id", "text", 0.5, empty_probe
        ).count()
        == 0
    )


# --- IVF-PQ build determinism ----------------------------------------------


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_ivfpq_two_independent_builds_agree(spark, tmp_path):
    """Two from-scratch builds of the same corpus into different
    directories must produce byte-identical code tables and identical
    search results — Arrow batching, mapInPandas partition order, and
    parquet write order must not leak into the index (the determinism
    the oracle hash relies on)."""
    from data_framework_spark.similarity.ivfpq import (
        ivfpq_index_write,
        ivfpq_topk_from_index,
    )

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [
            (vid, [float(x) for x in rng.normal(size=64)])
            for vid in range(150)
        ],
        "vec_id long, embedding array<float>",
    )
    pa, pb = os.path.join(str(tmp_path), "a"), os.path.join(str(tmp_path), "b")
    ivfpq_index_write(emb, pa)
    ivfpq_index_write(emb, pb)
    codes_a = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{pa}/codes").collect()
    )
    codes_b = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{pb}/codes").collect()
    )
    assert codes_a == codes_b
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 20).orderBy("vec_id").collect()
    ]
    ra = [tuple(r) for r in ivfpq_topk_from_index(spark, pa, queries).collect()]
    rb = [tuple(r) for r in ivfpq_topk_from_index(spark, pb, queries).collect()]
    assert ra == rb


def test_ivfpq_neighbors_come_from_probed_cells(spark):
    """Structural invariant of the pruned search: every returned
    neighbor's assigned cell is one of its query's nprobe probed
    cells (recomputed independently from the persisted centroids)."""
    import pandas as pd

    from data_framework_spark.similarity.ivf import _rounded_centroid_cosines
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_INDEX_PREFIX,
        IVFPQ_NPROBE,
        q_ivfpq_persist_topk,
    )
    from data_framework_spark.sources.formats import get_index_dir
    from data_framework_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    got = q_ivfpq_persist_topk(spark, SF_SMALL).collect()
    path = get_index_dir(SF_SMALL, IVFPQ_INDEX_PREFIX)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    ]
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{path}/codes")
        .select("vec_id", "cell")
        .distinct()
        .collect()
    }
    emb = load_table(spark, SF_SMALL, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") < 20).orderBy("vec_id").collect()
    )
    cos = _rounded_centroid_cosines(cents)(
        pd.Series([
            np.asarray([float(x) for x in r["embedding"]]) for r in q_rows
        ])
    )
    cell_ids = np.arange(len(cents))
    probed = {
        r["vec_id"]: set(
            np.lexsort((cell_ids, -cos[i]))[:IVFPQ_NPROBE].tolist()
        )
        for i, r in enumerate(q_rows)
    }
    assert len(got) > 0
    for r in got:
        assert cell_of[r.neighbor_id] in probed[r.query_id], (
            r.query_id,
            r.neighbor_id,
        )


# --- repeated-digest stress for the round-8 queries -------------------------


@pytest.mark.parametrize(
    "name",
    [
        # new round-8 queries
        "ivfpq_persist_topk",
        "ivfpq_recall_contract",
        "bpe_detok_roundtrip",
        # round-8 kernel swaps (float-bearing): the Arrow Jaccard
        # kernel rounds in numpy (half-away) instead of the JVM —
        # digest stress guards the rounding-parity claim
        "ngram_jaccard_pairs",
        "dup_span_extract",
        "benchmark_decontam",
        "bigram_topk",
        "minhash_near_dup_pairs",
    ],
)
@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_round8_query_digest_stable_across_duckdb_runs(spark, sf_dir, name):
    """The round-7 convention for new and kernel-changed float-bearing
    queries: 5 fresh DuckDB connections against one fixed Spark digest
    catch engine-order float flakes before the driver does."""
    from data_framework_spark.oracle import _digest, duckdb_connection
    from data_framework_spark.registry import QUERIES

    q = QUERIES[name]
    sdf = q.fn(spark, sf_dir)
    sdig = _digest([tuple(r) for r in sdf.collect()], list(sdf.columns))
    for _ in range(5):
        con = duckdb_connection(sf_dir)
        res = con.execute(q.oracle)
        dcols = [d[0] for d in res.description]
        assert _digest(res.fetchall(), dcols) == sdig
        con.close()
