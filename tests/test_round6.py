"""Round-6 changes: vectorized Misra-Gries heavy-hitters pass,
shuffle-free lang_id second barrier, funnel scratch lifecycle +
materialized feature-table variant, and ANN route-cache bench
eviction."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


# --- heavy hitters: vectorized Misra-Gries ---------------------------------


def _run_mg(batches, k):
    from data_framework_spark.functions.heavy_hitters import _mg_partial

    out = list(_mg_partial(k)(iter(batches)))
    assert len(out) == 1
    pdf = out[0]
    n = int(pdf.loc[pdf["tok"].isna(), "c"].iloc[0])
    cands = set(pdf.loc[pdf["tok"].notna(), "tok"])
    return cands, n


def test_mg_superset_guarantee():
    """The per-partition summary must retain every token whose count
    exceeds n_part/k — the Misra-Gries guarantee the exact re-count
    pass relies on — including across batch boundaries (the merge-rule
    trim must not evict a true heavy hitter)."""
    k = 5
    # one dominant token spread across batches + unique filler
    toks = (["hot"] * 40) + [f"u{i}" for i in range(60)]
    batches = [
        pd.DataFrame({"tok": toks[i : i + 10]}) for i in range(0, 100, 10)
    ]
    cands, n = _run_mg(batches, k)
    assert n == 100
    assert "hot" in cands  # 40 > 100/5
    assert len(cands) <= k  # the k-counter bound held after trims


def test_mg_handles_empty_partition():
    cands, n = _run_mg([pd.DataFrame({"tok": pd.Series([], dtype=str)})], 5)
    assert n == 0 and cands == set()


def test_mg_trim_bound_many_batches():
    """Adversarial trim pressure: every batch introduces k+1 distinct
    tokens so the trim fires on every merge; the row-count marker and
    counter bound must survive."""
    k = 3
    batches = [
        pd.DataFrame({"tok": [f"b{b}_t{i}" for i in range(k + 1)]})
        for b in range(20)
    ]
    cands, n = _run_mg(batches, k)
    assert n == 20 * (k + 1)
    assert len(cands) <= k


# --- lang_id: one exchange, uncollapsed projections ------------------------


def test_lang_id_plan_single_exchange(spark, sf_dir):
    """The round-6 rework replaced the second repartition barrier with
    a value-preserving non-deterministic guard: the physical plan must
    contain exactly ONE exchange (the parallelism repartition) and the
    padded-text concat must appear exactly once (CollapseProject did
    NOT inline it into the 25-replace score chain)."""
    from data_framework_spark.functions.text import q_lang_id

    plan = (
        q_lang_id(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert plan.count("concat( , lower(") == 1, plan


def test_lang_id_nd_barrier_preserves_values(spark):
    """The rand()-guard barrier must be a value no-op."""
    from data_framework_spark.functions.text import _nd_barrier

    df = spark.range(100).select(
        F.col("id"), _nd_barrier(F.col("id") * 2).alias("v")
    )
    assert df.filter(F.col("v") != F.col("id") * 2).count() == 0


# --- curation funnel: scratch lifecycle + materialized variant -------------


def test_funnel_scratch_tracked_and_released(spark, sf_dir):
    from data_framework_spark import artifacts
    from data_framework_spark.functions.corpus import (
        _funnel_base_cached,
        q_curation_funnel,
    )

    q_curation_funnel(spark, sf_dir).collect()
    df = _funnel_base_cached(spark, sf_dir)
    assert _funnel_base_cached(spark, sf_dir) is df  # one tracked entry
    assert df.storageLevel.useMemory  # actually persisted
    artifacts.evict(spark, "funnel_base")
    assert not df.storageLevel.useMemory  # actually unpersisted
    assert _funnel_base_cached(spark, sf_dir) is not df  # entry dropped
    artifacts.evict(spark, "funnel_base")


def test_funnel_mat_matches_default(spark, sf_dir):
    from data_framework_spark.functions.corpus import (
        q_curation_funnel,
        q_curation_funnel_mat,
    )

    a = sorted(map(tuple, q_curation_funnel(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_curation_funnel_mat(spark, sf_dir).collect()))
    assert a == b


# --- ANN route cache: bench eviction ---------------------------------------


def test_evict_route_forces_reexecution(spark, sf_dir):
    from data_framework_spark.similarity.ann import evict_route, q_cosine_topk

    df1 = q_cosine_topk(spark, sf_dir)
    assert q_cosine_topk(spark, sf_dir) is df1  # served from the store
    assert df1.storageLevel.useMemory
    evict_route(spark, sf_dir, "cosine_topk")
    assert not df1.storageLevel.useMemory  # unpersisted on eviction
    df2 = q_cosine_topk(spark, sf_dir)
    assert df2 is not df1  # rebuilt, not a dict hit
    # evicting a key that is absent is a no-op, not an error
    evict_route(spark, sf_dir, "cosine_topk")
    evict_route(spark, sf_dir, "cosine_topk")


# --- round-6 new LLM-pipeline operators ------------------------------------


def test_chunk_count_formula(spark):
    """Chunk counts follow ceil((n - C)/S) + 1 with a single chunk for
    short docs, and the last chunk always ends exactly at the doc's
    final token (no token dropped, none fabricated)."""
    from data_framework_spark.functions.chunking import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        _chunks,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # < C -> 1 chunk
            (2, " ".join(f"t{i}" for i in range(32))),   # == C -> 1 chunk
            (3, " ".join(f"t{i}" for i in range(33))),   # C+1 -> 2 chunks
            (4, " ".join(f"t{i}" for i in range(80))),   # 3 chunks
        ],
        "doc_id long, text string",
    )
    rows = _chunks(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert {d: len(v) for d, v in by_doc.items()} == {1: 1, 2: 1, 3: 2, 4: 3}
    n_tokens = {1: 10, 2: 32, 3: 33, 4: 80}
    for d, chunks in by_doc.items():
        last = max(chunks, key=lambda r: r.chunk_idx)
        assert last.chunk_idx * CHUNK_STRIDE + last.n_tok == n_tokens[d]
        for c in chunks:
            assert c.n_tok <= CHUNK_TOKENS


def test_chunk_documents_single_shuffle(spark, sf_dir):
    """Chunking is a pure flatMap — no hash/aggregation exchange may
    appear; only the final presentation sort's range partitioning is
    allowed (counting range exchanges out keeps the assertion robust
    to AQE/partitioning config — round-6 advisory)."""
    from data_framework_spark.functions.chunking import q_chunk_documents

    plan = q_chunk_documents(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    non_range = plan.count("Exchange") - plan.count("Exchange rangepartitioning")
    assert non_range == 0, plan


def test_stratified_split_partitions_corpus(spark, sf_dir):
    """The three splits partition the corpus exactly (no doc dropped
    or double-assigned), and every split is non-empty."""
    from data_framework_spark.functions.chunking import q_stratified_split
    from data_framework_spark.sources.tables import load_table

    out = q_stratified_split(spark, sf_dir).collect()
    total = sum(r.n_docs for r in out)
    assert total == load_table(spark, sf_dir, "documents").count()
    assert {r.split for r in out} == {"train", "val", "test"}
    for r in out:
        assert 0 <= r.n_leaked <= r.n_docs


def test_unigram_logprob_bounds(spark, sf_dir):
    """Every doc's mean log-prob sits inside [ln p_min, ln p_max] of
    the corpus unigram distribution (an average of per-token values
    cannot escape the per-token range)."""
    import math

    from data_framework_spark.functions.lm import _vocab_counts
    from data_framework_spark.functions.lm import q_unigram_logprob
    from data_framework_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vocab = _vocab_counts(docs).collect()
    total = sum(r.c for r in vocab)
    lo = math.log(min(r.c for r in vocab) / total)
    hi = math.log(max(r.c for r in vocab) / total)
    for r in q_unigram_logprob(spark, sf_dir).collect():
        assert lo - 1e-4 <= r.avg_logprob <= hi + 1e-4


def test_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    """The vocabulary join must be a broadcast hash join — the LM
    table is vocabulary-sized, never corpus-sized."""
    from data_framework_spark.functions.lm import q_unigram_logprob

    plan = q_unigram_logprob(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_zipf_fit_shape(spark, sf_dir):
    """One row; slope is negative (frequency falls with rank) and R²
    is a valid fraction."""
    from data_framework_spark.functions.lm import q_zipf_fit

    [r] = q_zipf_fit(spark, sf_dir).collect()
    assert r.slope < 0
    assert 0.0 <= r.r2 <= 1.0
    assert r.n_terms <= 100 and r.vocab_size >= r.n_terms


def test_semantic_dedup_accounting(spark, sf_dir):
    """Cluster memberships partition the embedding corpus; removals
    never exceed members-1 (each cluster keeps >= 1 representative)."""
    from data_framework_spark.similarity.semantic import q_semantic_dedup
    from data_framework_spark.sources.tables import load_table

    out = q_semantic_dedup(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in out) == n_emb
    for r in out:
        assert 0 <= r.n_removed <= r.n_members - 1


def test_domain_mix_temperature_flattens(spark, sf_dir):
    """Weights sum to 1 and the α<1 temperature moves every domain's
    weight TOWARD uniform: large domains shrink (w < p), small domains
    grow (w > p)."""
    from data_framework_spark.functions.sampling import q_domain_mix

    out = q_domain_mix(spark, sf_dir).collect()
    assert abs(sum(r.w_temp for r in out) - 1.0) < 1e-3
    mean_p = 1.0 / len(out)
    for r in out:
        if r.p_raw > mean_p + 1e-6:
            assert r.w_temp < r.p_raw
        elif r.p_raw < mean_p - 1e-6:
            assert r.w_temp > r.p_raw


def test_ks_drift_bounds(spark, sf_dir):
    """KS is a sup of |ECDF differences| — always within [0, 1]; the
    per-source doc counts partition the corpus."""
    from data_framework_spark.functions.drift import q_ks_drift
    from data_framework_spark.sources.tables import load_table

    out = q_ks_drift(spark, sf_dir).collect()
    assert sum(r.n_docs for r in out) == load_table(
        spark, sf_dir, "documents"
    ).count()
    for r in out:
        assert 0.0 <= r.ks <= 1.0


def test_ks_drift_detects_shift(spark, tmp_path):
    """A source whose lengths are shifted far from the others must
    show near-total drift (ks -> 1), and identically-distributed
    sources must show small drift — the monitor actually monitors."""
    import pandas as pd

    rows = []
    for i in range(300):
        src = f"s{i % 3}"
        n_chars = 100 + (i % 50)          # same distribution for s0-s2
        rows.append((i, "x", src, n_chars))
    for i in range(300, 400):
        rows.append((i, "x", "shifted", 5000 + (i % 50)))  # far away
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source", "n_chars"])
    d = tmp_path / "kscase"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet", index=False)

    from data_framework_spark.functions.drift import q_ks_drift

    out = {r.source: r.ks for r in q_ks_drift(spark, str(d)).collect()}
    assert out["shifted"] == 1.0
    for s in ("s0", "s1", "s2"):
        assert out[s] < 0.4


def test_cluster_purity_accounting(spark, sf_dir):
    """Purity is a valid fraction, members partition the corpus, and
    the majority label is drawn from the label domain."""
    from data_framework_spark.similarity.semantic import q_cluster_purity
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    labels = {r.label for r in emb.select("label").distinct().collect()}
    out = q_cluster_purity(spark, sf_dir).collect()
    assert sum(r.n_members for r in out) == emb.count()
    for r in out:
        assert 0.0 < r.purity <= 1.0
        assert r.majority_label in labels


def test_cdc_chunks_edit_resistance(spark):
    """The CDC property: inserting one token near the head of a
    document must leave the chunks after the edit region intact
    (boundaries depend only on local trigrams), unlike fixed windows
    where everything downstream shifts. We chunk the original and the
    edited corpus and require most chunk hashes to survive."""
    import data_framework_spark.functions.chunking as ch

    base_tokens = [f"w{(i * 7919) % 97}" for i in range(400)]
    orig = " ".join(base_tokens)
    edited = " ".join(base_tokens[:5] + ["INS"] + base_tokens[5:])

    def chunk_hashes(text):
        # drive the SHIPPED chunker (shared frame helper), not a copy
        docs = spark.createDataFrame(
            [(1, "s", text)], "doc_id long, source string, text string"
        )
        return {
            r.chunk_hash for r in ch._cdc_chunk_frame(docs).collect()
        }

    h_orig = chunk_hashes(orig)
    h_edit = chunk_hashes(edited)
    shared = len(h_orig & h_edit)
    # all but the chunk(s) containing the edit must survive
    assert shared >= len(h_orig) - 2, (len(h_orig), len(h_edit), shared)


def test_snapshot_diff_conservation(spark, sf_dir):
    """Diff counters must conserve: removed + changed + unchanged
    equals |A| (every original doc is accounted), and added equals the
    number of template docs in the top hash band."""
    from data_framework_spark.functions.sampling import hash_fraction
    from data_framework_spark.sources.formats import (
        SNAP_ADD_GE,
        q_snapshot_diff,
    )
    from data_framework_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    out = q_snapshot_diff(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_a = docs.count()
    assert sum(r.n_removed + r.n_changed + r.n_unchanged for r in out) == n_a
    n_templates = docs.filter(
        hash_fraction(F.col("doc_id")) >= SNAP_ADD_GE
    ).count()
    assert sum(r.n_added for r in out) == n_templates
    assert sum(r.n_removed for r in out) > 0
    assert sum(r.n_changed for r in out) > 0


def test_heaps_fit_shape(spark, sf_dir):
    """One row; vocabulary growth exponent in (0, 1] (sub-linear) and
    the full-corpus totals agree with direct counts."""
    from data_framework_spark.functions.lm import q_heaps_fit
    from data_framework_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    [r] = q_heaps_fit(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .distinct()
        .count()
    )
    total = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("n")
    ).collect()[0].n
    assert r.vocab_full == vocab
    assert r.tokens_full == total
    # the synthetic corpus has a tiny fixed vocabulary that saturates
    # in the first prefix band, so beta ~ 0 — exactly the
    # template-corpus signal the diagnostic exists to flag; natural
    # text would land around 0.4-0.6
    assert 0.0 <= r.beta <= 1.0
    assert r.v_first <= r.vocab_full


def test_k_anonymity_accounting(spark, sf_dir):
    """Docs-at-risk never exceeds small_groups * (K_ANON - 1), and
    min_k is positive."""
    from data_framework_spark.functions.corpus import K_ANON, q_k_anonymity

    for r in q_k_anonymity(spark, sf_dir).collect():
        assert r.n_small_groups <= r.n_groups
        assert r.n_docs_at_risk <= r.n_small_groups * (K_ANON - 1)
        assert r.min_k >= 1


def test_streaming_mg_state_survives_batches():
    """Cross-micro-batch MG survival: a key whose occurrences are
    split across many folds (as the streaming state kernel sees them)
    must remain in the summary when its total exceeds n/(k+1), even
    under heavy distractor churn — the superset guarantee the
    streaming read-out's exact re-count relies on."""
    import pandas as pd

    from data_framework_spark.functions.heavy_hitters import mg_fold

    k = 8
    counters, n = None, 0
    # 10 folds: 5 occurrences of the heavy key + 20 unique distractors
    for fold in range(10):
        vals = [777] * 5 + [fold * 1000 + i for i in range(20)]
        vc = pd.Series(vals, dtype="int64").value_counts()
        n += len(vals)
        counters = mg_fold(counters, vc, k)
    assert len(counters) <= k  # bounded state
    assert n == 250
    assert 777 in counters.index  # 50 > 250/(8+1)


def test_embed_assets_null_payload_and_determinism(spark):
    """The encode kernel must handle NULL payloads (empty-bytes
    convention, same as extract_features) and be deterministic."""
    from data_framework_spark.multimodal.binary_ops import (
        EMBED_DIM,
        embed_assets,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"hello")), (2, None)],
        "asset_id long, payload binary",
    )
    a = {r.asset_id: r.vec for r in embed_assets(df).collect()}
    b = {r.asset_id: r.vec for r in embed_assets(df).collect()}
    assert a == b
    assert len(a[1]) == EMBED_DIM and len(a[2]) == EMBED_DIM
    assert all(-0.5 <= v < 0.5 for v in a[1])
    assert a[1] != a[2]


def test_merge_states_disjoint_groups(spark):
    """Partial-state merge must handle groups present on only one
    side (full-outer semantics) and merge min/max/count/sum exactly."""
    from data_framework_spark.operators.incremental import (
        merge_states,
        partial_state,
    )

    a = spark.createDataFrame(
        [("s1", 100, 1), ("s1", 200, 2), ("s2", 50, 3)],
        "source string, n_chars long, doc_id long",
    )
    b = spark.createDataFrame(
        [("s2", 500, 4), ("s3", 10, 5)],
        "source string, n_chars long, doc_id long",
    )
    merged = {
        r.source: r
        for r in merge_states(partial_state(a), partial_state(b)).collect()
    }
    full = {
        r.source: r
        for r in partial_state(a.unionByName(b)).collect()
    }
    assert set(merged) == set(full) == {"s1", "s2", "s3"}
    for s in full:
        for c in ["n_docs", "sum_chars", "min_chars", "max_chars"]:
            assert getattr(merged[s], c) == getattr(full[s], c), (s, c)


def test_funnel_strict_ordering(spark, tmp_path):
    """Hand-built log: user 1 completes the funnel in order; user 2
    has all four events but purchase BEFORE click (must not count);
    user 3 signs up only. Strict ordering must hold."""
    import datetime as dt

    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    rows = []
    seq1 = [("signup", 0), ("view", 1), ("click", 2), ("purchase", 3)]
    seq2 = [("signup", 0), ("purchase", 1), ("view", 2), ("click", 3)]
    for i, (t, off) in enumerate(seq1):
        rows.append((i, base + dt.timedelta(minutes=off), 1, t, 1.0, "{}"))
    for i, (t, off) in enumerate(seq2):
        rows.append(
            (10 + i, base + dt.timedelta(minutes=off), 2, t, 1.0, "{}")
        )
    rows.append((20, base, 3, "signup", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = tmp_path / "funnelcase"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet", index=False)

    from data_framework_spark.operators.analytics import q_funnel_stages

    [r] = q_funnel_stages(spark, str(d)).collect()
    assert (r.n_signup, r.n_view, r.n_click, r.n_purchase) == (3, 2, 2, 1)


def test_rolling_zscore_detects_spike(spark, tmp_path):
    """A flat series with one huge spike after enough history must be
    flagged exactly once; a constant series yields zero scored rows
    (sd = 0 excluded)."""
    import datetime as dt

    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: mild noise then a spike at event 30
    for i in range(40):
        v = 10.0 + (0.1 if i % 2 else -0.1)
        if i == 30:
            v = 1000.0
        rows.append((i, base + dt.timedelta(minutes=i), 1, "view", v, "{}"))
    # user 2: perfectly constant (never scored: sd == 0)
    for i in range(40):
        rows.append(
            (100 + i, base + dt.timedelta(minutes=i), 2, "view", 5.0, "{}")
        )
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = tmp_path / "zscase"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet", index=False)

    from data_framework_spark.operators.analytics import q_rolling_zscore

    out = {r.event_type: r for r in q_rolling_zscore(spark, str(d)).collect()}
    assert out["view"].n_anomalies == 1
