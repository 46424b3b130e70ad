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


# --- IVFADC refine: shares the index, recall dominates plain ADC -------------


def test_ivfpq_refine_shares_index_and_beats_adc(spark):
    """The refine stage must (a) reuse the persisted IVFADC index —
    no rebuild — and (b) never lose to the plain ADC route on recall:
    it re-ranks a SUPERSET of the ADC top-k with the exact metric."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_INDEX_PREFIX,
        q_ivfpq_persist_topk,
        q_ivfpq_recall_contract,
        q_ivfpq_refine_recall,
    )
    from data_framework_spark.sources.formats import get_index_dir

    q_ivfpq_persist_topk(spark, SF_SMALL).collect()
    p1 = get_index_dir(SF_SMALL, IVFPQ_INDEX_PREFIX)
    assert p1 is not None
    refined = q_ivfpq_refine_recall(spark, SF_SMALL).collect()[0]
    assert get_index_dir(SF_SMALL, IVFPQ_INDEX_PREFIX) == p1
    plain = q_ivfpq_recall_contract(spark, SF_SMALL).collect()[0]
    assert refined["recall"] >= plain["recall"]
    assert refined["meets_floor"]


# --- ADC written-order fold: Spark == oracle under permuted input ------------


def test_adc_fold_is_subspace_ordered(spark):
    """The PQ/IVFPQ ADC aggregation folds the 8 subspace lookups in
    subspace order regardless of row arrival order — the property
    F.sum does NOT guarantee (round-8 advisory)."""
    rows = [(1, 7, 0.3), (1, 0, 0.1), (1, 3, 0.2)]
    df = spark.createDataFrame(rows, "neighbor_id int, subspace int, dlook double")
    folded = df.groupBy("neighbor_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("subspace"), F.col("dlook")))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["dlook"],
            ),
            6,
        ).alias("adc_dist")
    )
    assert folded.collect()[0]["adc_dist"] == round(0.0 + 0.1 + 0.2 + 0.3, 6)


# --- BPE held-out coverage: independent hand recomputation -------------------


def test_bpe_heldout_matches_pure_python_reference(spark, tmp_path):
    """q_bpe_heldout_coverage vs an INDEPENDENT pure-Python BPE on a
    hand corpus: same greedy merge learning (train slice only), same
    left-to-right non-overlapping merge application to the held-out
    words, same coverage/fertility arithmetic."""
    import hashlib

    from data_framework_spark.functions.bpe import (
        BPE_HELDOUT_FRAC,
        BPE_MERGES,
        q_bpe_heldout_coverage,
    )

    texts = [
        "banana bandana cabana apple grapple dapple zebra quartz",
        "banana banana bandana apple apple quartz jazzy",
        "cabana dapple zebra zebra jazzy fizzy banana",
    ]
    sf = str(tmp_path / "sfh")
    spark.createDataFrame(
        [(i, "hand", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    ).coalesce(1).write.parquet(sf + "/documents.parquet")

    # --- independent reference ---
    freq: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            freq[w] = freq.get(w, 0) + 1

    def hf(word: str) -> float:
        return int(hashlib.md5(word.encode()).hexdigest()[:8], 16) / 2**32

    train = {w: f for w, f in freq.items() if hf(w) >= BPE_HELDOUT_FRAC}
    held = {w: f for w, f in freq.items() if hf(w) < BPE_HELDOUT_FRAC}
    assert held and train  # the split must exercise both slices

    def merge_once(syms, left, right):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    tsyms = {w: list(w) for w in train}
    merges = []
    for _ in range(BPE_MERGES):
        counts: dict[tuple, int] = {}
        for w, syms in tsyms.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + train[w]
        if not counts:
            break
        (left, right), _c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right))
        tsyms = {w: merge_once(s, left, right) for w, s in tsyms.items()}
    # the real BPE vocab: train initial characters ∪ merge outputs —
    # NOT just post-merge surviving train symbols (a symbol consumed
    # by a later merge everywhere it occurs in train is still vocab)
    vocab = {c for w in train for c in w} | {l + r for l, r in merges}
    hsyms = {w: list(w) for w in held}
    for left, right in merges:
        hsyms = {w: merge_once(s, left, right) for w, s in hsyms.items()}
    occ = sum(held.values())
    cov = sum(
        f for w, f in held.items() if all(s in vocab for s in hsyms[w])
    )
    chars = sum(f * len(w) for w, f in held.items())
    toks = sum(f * len(hsyms[w]) for w, f in held.items())

    row = q_bpe_heldout_coverage(spark, sf).collect()[0]
    assert row["n_heldout_words"] == len(held)
    assert row["heldout_occurrences"] == occ
    assert row["covered_occurrences"] == cov
    assert row["coverage"] == round(cov / occ, 6)
    assert row["chars_total"] == chars
    assert row["tokens_total"] == toks
    assert row["fertility"] == round(chars / toks, 6)


# --- nprobe curve: recall bounded by the coverage ceiling --------------------


def test_nprobe_curve_recall_bounded_by_coverage(spark):
    """Per swept nprobe, ADC recall can never exceed the coverage
    ceiling (a true neighbor outside every probed cell cannot be
    returned), and coverage is non-decreasing in nprobe (probed sets
    are nested)."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_NPROBE_SWEEP,
        q_ivfpq_nprobe_curve,
    )

    rows = q_ivfpq_nprobe_curve(spark, SF_SMALL).collect()
    assert [r["nprobe"] for r in rows] == list(IVFPQ_NPROBE_SWEEP)
    for r in rows:
        assert r["recall"] <= r["coverage"] + 1e-9, r
    covs = [r["coverage"] for r in rows]
    assert covs == sorted(covs)


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


# --- BPE oracles survive early merge exhaustion ------------------------------


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_bpe_oracles_match_spark_when_merges_exhaust_early(spark, tmp_path):
    """A corpus whose pair supply runs out before BPE_MERGES merges:
    Spark's learner breaks early; the SQL chain must ride the no-op
    sentinel (tt{i}) through the remaining steps instead of
    annihilating the word table via an empty CROSS JOIN (round-9
    review). Parity checked for merges, tokenize, detok, and the
    held-out coverage oracle on the same tiny corpus."""
    import duckdb

    from data_framework_spark.functions.bpe import (
        Q_BPE_DETOK_ROUNDTRIP_SQL,
        Q_BPE_HELDOUT_COVERAGE_SQL,
        Q_BPE_MERGES_SQL,
        Q_BPE_TOKENIZE_SQL,
        q_bpe_detok_roundtrip,
        q_bpe_heldout_coverage,
        q_bpe_merges,
        q_bpe_tokenize,
    )

    # "ab" supports exactly ONE merge (a,b) -> single symbol; the
    # single-char words supply none. 1 < BPE_MERGES=6.
    texts = ["ab ab a b c", "ab a b", "c c ab"]
    sf = str(tmp_path / "sfe")
    spark.createDataFrame(
        [(i, "hand", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    ).coalesce(1).write.parquet(sf + "/documents.parquet")
    con = duckdb.connect()
    # Spark writes the table as a directory of part files
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )

    for fn, sql in (
        (q_bpe_merges, Q_BPE_MERGES_SQL),
        (q_bpe_tokenize, Q_BPE_TOKENIZE_SQL),
        (q_bpe_detok_roundtrip, Q_BPE_DETOK_ROUNDTRIP_SQL),
        (q_bpe_heldout_coverage, Q_BPE_HELDOUT_COVERAGE_SQL),
    ):
        srows = sorted(tuple(r) for r in fn(spark, sf).collect())
        drows = sorted(tuple(r) for r in con.execute(sql).fetchall())
        norm = lambda rows: [
            tuple(float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v for v in r)
            for r in rows
        ]
        assert norm(srows) == norm(drows), (fn.__name__, srows, drows)
    # sanity: the learner really did stop early on this corpus
    assert q_bpe_merges(spark, sf).count() < 6


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


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_bpe_merge_cache_reuses_and_invalidates(spark, tmp_path, monkeypatch):
    """The merge table is a train-once artifact: within a session the
    four BPE queries must share one training run per (corpus content,
    split), and a rewrite of the data under sf_dir must retrain (the
    same fingerprint-keyed contract as the persisted indexes)."""
    import os
    import time

    import data_framework_spark.functions.bpe as bpe
    from data_framework_spark.functions.bpe import q_bpe_merges

    sf = str(tmp_path / "sfc")

    def write(texts):
        spark.createDataFrame(
            [(i, "hand", t) for i, t in enumerate(texts)],
            "doc_id long, source string, text string",
        ).coalesce(1).write.mode("overwrite").parquet(
            sf + "/documents.parquet"
        )

    write(["banana bandana banana", "cabana banana apple"])

    calls = []
    real = bpe.learn_bpe_merges

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(bpe, "learn_bpe_merges", spy)

    m1 = [tuple(r) for r in q_bpe_merges(spark, sf).collect()]
    m2 = [tuple(r) for r in q_bpe_merges(spark, sf).collect()]
    assert len(calls) == 1, "second invocation must reuse the session cache"
    assert m1 == m2

    # rewrite the corpus: the fingerprint (mtime_ns/size) changes, so
    # the cache must retrain and reflect the new content
    time.sleep(0.05)  # ensure a distinct mtime_ns even on coarse clocks
    write(["zebra zebra quartz", "quartz zebra jazz"])
    m3 = [tuple(r) for r in q_bpe_merges(spark, sf).collect()]
    assert len(calls) == 2, "rewritten sf_dir must invalidate the cache"
    assert m3 != m1

    # distinct splits key separately even over identical content
    from data_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf, "documents")
    bpe.learned_merges(spark, sf, docs, split="train25")
    assert len(calls) == 3


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
