"""Round-9 changes: widen_scan positive-allowlist guard, the
shuffle-free _shingles form, and the written-order ADC fold.
"""

from __future__ import annotations

import pytest

import time

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


# --- widen_scan: positive allowlist guard -----------------------------------


def test_widen_scan_noops_on_dedup_and_distinct(spark):
    """The round-8 substring blocklist let Deduplicate/Distinct frames
    through to the df.rdd probe (silent eager-execution hazard under
    AQE); the round-9 positive allowlist must return ANY frame whose
    plan is not pure Project/Filter/scan unchanged."""
    from data_framework_spark.sources.tables import load_table, widen_scan

    docs = load_table(spark, SF_SMALL, "documents")
    dd = docs.dropDuplicates(["source"])
    assert widen_scan(dd) is dd
    di = docs.select("source").distinct()
    assert widen_scan(di) is di
    # the r8 contract still holds for scan/filter/project frames
    n = spark.sparkContext.defaultParallelism
    fp = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    assert widen_scan(fp).rdd.getNumPartitions() == n


# --- _shingles: shuffle-free form -------------------------------------------


def test_shingles_plan_is_exchange_free(spark):
    """The round-9 _shingles (explode over array_distinct inside
    codegen) must add ZERO exchanges — the structural property that
    keeps the multi-consumer pair/cluster paths from paying one
    (doc, shingle) shuffle per consumer at 100 TB."""
    from data_framework_spark.dedup.minhash import _shingles
    from data_framework_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    sh = _shingles(docs, "doc_id", "text")
    plan = sh._jdf.queryExecution().executedPlan().toString()
    # widen_scan MAY add one round-robin repartition on the small test
    # scan (structural no-op at scale); no shuffle beyond that
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 1, plan
    assert "hashpartitioning" not in plan, plan
    # semantics: per-doc distinct shingles
    rows = sh.filter(F.col("doc") == 0).collect()
    vals = [r["shingle"] for r in rows]
    assert len(vals) == len(set(vals))


# --- BM25: ad-hoc term sets reuse the persisted postings index ---------------


def test_bm25_adhoc_reuses_postings_index(spark):
    """The round-9 ad-hoc query (different 4-term set) must answer
    from the SAME persisted index the fixed-term route built — zero
    rebuilds within a session (the whole point of materializing the
    postings)."""
    from data_framework_spark.functions.retrieval import (
        BM25_INDEX_PREFIX,
        q_bm25_adhoc_topk,
        q_bm25_postings_topk,
    )
    from data_framework_spark.sources.formats import get_index_dir

    q_bm25_postings_topk(spark, SF_SMALL).collect()
    p1 = get_index_dir(SF_SMALL, BM25_INDEX_PREFIX)
    assert p1 is not None
    rows = q_bm25_adhoc_topk(spark, SF_SMALL).collect()
    assert get_index_dir(SF_SMALL, BM25_INDEX_PREFIX) == p1
    assert rows and all(r["bm25"] > 0 for r in rows)
    # descending score, doc_id tiebreak — the index route's contract
    scores = [(r["bm25"], r["doc_id"]) for r in rows]
    assert scores == sorted(scores, key=lambda s: (-s[0], s[1]))


# --- minhash verify: Arrow route equals the JVM join route -------------------


def test_minhash_verify_arrow_route_equals_jvm(spark):
    """The Arrow membership-matrix verify must return the EXACT same
    (a, b, jaccard) set — same rounded doubles — as the two-join JVM
    route it replaced in the hot path (the dedup/ngram.py precedent,
    applied to the minhash pair verify)."""
    from data_framework_spark.dedup.minhash import (
        verified_near_dups,
        verified_near_dups_arrow,
    )
    from data_framework_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    probe = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("doc")
    )
    jvm = {
        (r["a"], r["b"], r["jaccard"])
        for r in verified_near_dups(
            docs, "doc_id", "text", 0.9, probe
        ).collect()
    }
    arr = {
        (r["a"], r["b"], r["jaccard"])
        for r in verified_near_dups_arrow(
            docs, "doc_id", "text", 0.9, probe
        ).collect()
    }
    assert jvm == arr and len(jvm) > 0


# --- shared membership kernel: property parity vs pure Python ----------------


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_membership_kernel_property_parity(spark):
    """membership_jaccard_pairs vs a pure-Python set-Jaccard reference
    on randomized tiny corpora (hypothesis): same pairs, same 6dp
    half-away values, for every probe subset."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_framework_spark.dedup.ngram import membership_jaccard_pairs

    @given(st.data())
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def run(data):
        n_docs = data.draw(st.integers(2, 8))
        grams = {
            d: data.draw(
                st.lists(
                    st.integers(-5, 5), min_size=1, max_size=6, unique=True
                )
            )
            for d in range(n_docs)
        }
        n_probe = data.draw(st.integers(1, n_docs))
        threshold = data.draw(st.sampled_from([0.0, 0.2, 0.5, 1.0]))
        probe_ids = list(range(n_probe))
        gram_df = spark.createDataFrame(
            [(d, g) for d, g in grams.items()], "doc long, grams array<long>"
        )
        probe_rows = [
            {"doc": d, "grams": grams[d]} for d in probe_ids
        ]
        got = {
            (r["a"], r["b"], r["jaccard"])
            for r in membership_jaccard_pairs(
                gram_df, probe_rows, threshold
            ).collect()
        }
        want = set()
        for p in probe_ids:
            for d in range(n_docs):
                if d == p:
                    continue
                inter = len(set(grams[p]) & set(grams[d]))
                union = len(set(grams[p]) | set(grams[d]))
                j = math.floor(inter / union * 1e6 + 0.5) / 1e6
                if j >= threshold:
                    want.add((min(p, d), max(p, d), j))
        assert got == want, (grams, probe_ids, threshold)

    run()


# --- bucketed_topk: multi-probe radius contract ------------------------------


def test_bucketed_topk_probe_radius_contract(spark):
    """probe_hamming=r must probe EVERY bucket within Hamming distance
    r (review finding: r>1 silently degraded to the radius-1 probe
    set). Pinned structurally: candidate coverage grows monotonically
    with the radius, radius=n_planes probes the whole hypercube (every
    corpus vector is a candidate for every query), and out-of-range
    radii raise instead of silently clamping."""
    import numpy as np
    import pytest as _pytest

    from data_framework_spark.similarity.ann import bucketed_topk

    rng = np.random.RandomState(7)
    n, dim, n_planes = 60, 8, 4
    rows = [
        (int(i), [float(x) for x in rng.randn(dim)]) for i in range(n)
    ]
    corpus = spark.createDataFrame(rows, "vid long, vec array<double>")
    queries = corpus.filter(F.col("vid") < 3)

    def cands(r):
        out = bucketed_topk(
            corpus, queries, "vid", "vec",
            k=n, n_planes=n_planes, dim=dim, probe_hamming=r,
        )
        return {
            (x["query_id"], x["neighbor_id"]) for x in out.collect()
        }

    c0, c1, c2, c_all = cands(0), cands(1), cands(2), cands(n_planes)
    assert c0 <= c1 <= c2 <= c_all
    # full-radius probing covers the entire hypercube: all (q, c) pairs
    assert len(c_all) == 3 * (n - 1)
    # with 60 random vectors over 16 buckets, radius 2 must genuinely
    # widen coverage beyond radius 1 (C(4,2)=6 extra buckets/query)
    assert c1 < c2

    with _pytest.raises(ValueError):
        cands(n_planes + 1)
    with _pytest.raises(ValueError):
        cands(-1)


# --- learned-merge session cache: reuse + fingerprint invalidation ----------


# --- kernels/plans review fixes: reflect radius, zoomed flux boundary -------


def test_gaussian_reflect_handles_radius_beyond_axis():
    """sigma=3 -> kernel radius 12: on a <=6-cell axis the old
    single-bounce reflect indexing raised IndexError, and on 7-12-cell
    axes it silently wrapped (numpy negative indexing) instead of
    re-reflecting. Pin scipy-'reflect' semantics via the
    np.pad(mode='symmetric') reference, which applies repeated
    reflection natively."""
    import numpy as np

    from data_framework_spark.kernels.ndimage import (
        _gauss_kernel1d,
        extrema_filter,
        gaussian_filter,
    )

    def ref_gauss(a, sig):
        out = a.astype(float)
        for ax, s in enumerate(
            np.broadcast_to(np.asarray(sig, float), (a.ndim,))
        ):
            if s <= 0:
                continue
            k = _gauss_kernel1d(s)
            r = (len(k) - 1) // 2
            m = np.moveaxis(out, ax, -1)
            n = m.shape[-1]
            padded, pw = m, r
            while pw > 0:  # np.pad symmetric pads at most n per bounce
                step = min(pw, padded.shape[-1])
                padded = np.pad(
                    padded,
                    [(0, 0)] * (padded.ndim - 1) + [(step, step)],
                    mode="symmetric",
                )
                pw -= step
            res = np.zeros_like(m)
            for i, kv in enumerate(k):
                res += kv * padded[..., i : i + n]
            out = np.moveaxis(res, -1, ax)
        return out

    rng = np.random.RandomState(0)
    for shape, sig in [
        ((5, 5), (0, 3.0)),    # radius 12 >= 2n: used to crash
        ((9, 9), (3.0, 3.0)),  # n <= radius < 2n: used to wrap silently
        ((2, 4), (5.0, 5.0)),  # extreme: radius 20 on tiny axes
        ((16, 16), (3.0, 3.0)),  # regression: in-range case unchanged
    ]:
        a = rng.randn(*shape)
        got = gaussian_filter(a, sig)
        want = ref_gauss(a, sig)
        assert np.array_equal(got, want), (shape, sig)

    # extrema window larger than the tile: every cell sees the whole
    # (reflected) tile, so the max filter returns the global max
    a = rng.randn(3, 3)
    assert np.allclose(extrema_filter(a, (10, 10), "max"), a.max())


def test_fluxfn_boundary_follows_zoomed_origin(spark):
    """calc_fluxfn on a ZOOMED variable whose i1 range no longer
    includes 0 must integrate from the slice's first column (min i1),
    not silently return an empty flux function (the old literal
    `i1 == 0` filter matched nothing after a zoom)."""
    import numpy as np

    from data_framework_spark.dataset import SparkDataset
    from data_framework_spark.plans.structures import calc_fluxfn
    from data_framework_spark.variable import SparkVariable

    z = np.linspace(0.0, 7.0, 8)
    x = np.linspace(0.0, 11.0, 12)
    rng = np.random.RandomState(3)
    b1 = rng.randn(1, 8, 12)
    b2 = rng.randn(1, 8, 12)
    ds = SparkDataset()
    ds.add_var(SparkVariable.from_numpy(spark, "b1", np.array([0.0]), [z, x], b1))
    ds.add_var(SparkVariable.from_numpy(spark, "b2", np.array([0.0]), [z, x], b2))

    # zoom dim-1 to coordinates [4, 9] -> original i1 in 4..9 (6 cols)
    sliced = ds.ndslice(zooms=[[0.0, 7.0], [4.0, 9.0]])
    calc_fluxfn(sliced, "b1", "b2")
    flux = sliced.variables["flux_fn"].to_numpy()[0]
    assert flux.shape == (8, 6)
    assert np.isfinite(flux).all()

    # reference: psi[i, j] = cumsum_i(b2[:, FIRST]) * d0
    #                        - cumsum_j(b1[i, :]) * d1 over the slice
    sl1, sl2 = b1[0][:, 4:10], b2[0][:, 4:10]
    d0 = z[1] - z[0]
    d1 = x[1] - x[0]
    want = np.cumsum(sl2[:, 0] * d0)[:, None] - np.cumsum(sl1 * d1, axis=1)
    assert np.allclose(flux, want)


# --- per-row fold rewrites: property parity + boundary pins ------------------


def test_top_token_ratio_matches_counter_reference(spark):
    """The sorted-run fold must equal Counter-based max-count/total on
    arbitrary token arrays (including leading empty strings, ties, and
    single-token docs) — it replaced the relational groupBy form in
    the funnel and repetition filter."""
    import random
    from collections import Counter

    from data_framework_spark.functions.corpus import top_token_ratio

    rng = random.Random(11)
    vocab = ["", "a", "b", "ab", "ba", "aa", "token"]
    rows = []
    for i in range(60):
        n = rng.randint(1, 30)
        rows.append((i, [rng.choice(vocab) for _ in range(n)]))
    df = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    got = {
        r["doc_id"]: r["ratio"]
        for r in df.select(
            "doc_id", top_token_ratio(F.col("toks")).alias("ratio")
        ).collect()
    }
    for doc_id, toks in rows:
        want = max(Counter(toks).values()) / len(toks)
        assert got[doc_id] == want, (doc_id, toks)


def test_session_window_merges_exact_gap_boundary(spark):
    """Two events exactly the session gap apart form ONE Spark
    session_window session — the behavior the oracle's strictly-
    greater-than split rule (streaming/windows.py round-9 fix)
    encodes. If a Spark release ever flips this to half-open, this
    test fails before the oracle silently diverges."""
    from data_framework_spark.streaming.windows import session_window_agg

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:30:00", 2.0),  # exactly the 30-min gap
            (1, "2024-01-01 01:00:01", 3.0),  # 1 s past the gap
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = session_window_agg(df, "30 minutes").collect()
    assert len(out) == 2
    by_n = sorted(r["n_events"] for r in out)
    assert by_n == [1, 2]
