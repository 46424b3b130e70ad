"""Product quantization (similarity/pq.py): codebook seeds, code
assignment, ADC search, and where trained codebooks are kept — one
`artifacts` entry per (corpus file, plan) in a session, one
`formats.persistent_index_dir` tree per (corpus file, plan) across
sessions."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _corpus_copy(tmp_path, name: str) -> str:
    """A private copy of the small embeddings file, so a test can
    rewrite it and own every cache entry built over it."""
    d = tmp_path / name
    d.mkdir()
    shutil.copyfile(f"{SF_SMALL}/embeddings.parquet", d / "embeddings.parquet")
    return str(d)


def _books_tree(emb, sf: str) -> str | None:
    """The index-cache tree holding `emb`'s persisted codebooks."""
    from data_framework_spark.similarity import pq
    from data_framework_spark.sources import formats

    prefix = f"{pq.PQ_BOOKS_PREFIX}{pq._stable_plan_fp(emb)[:10]}_"
    return formats.get_index_dir(f"{sf}/embeddings.parquet", prefix)


def _books_trees(cache_root: str) -> list[str]:
    from data_framework_spark.similarity import pq

    names = os.listdir(cache_root) if os.path.isdir(cache_root) else []
    return sorted(d for d in names if d.startswith(pq.PQ_BOOKS_PREFIX))


@pytest.fixture()
def trainings(spark, cache_root, monkeypatch):
    """Replace the Lloyd trainer with one that returns its seeds and
    records each call: the tests using it pin where codebooks are kept
    and when they are retrained, not how they are trained. The session
    entries are dropped before and after, so no stand-in codebook
    outlives the test."""
    from data_framework_spark import artifacts
    from data_framework_spark.similarity import train

    calls = []

    def fake(df, vec_col, books):
        calls.append(books.shape)
        return books

    monkeypatch.setattr(train, "lloyd_subspace_books", fake)
    artifacts.evict(spark, "pq_books")
    yield calls
    artifacts.evict(spark, "pq_books")


# --- codes and ADC ----------------------------------------------------------


def test_pq_codebook_vectors_quantize_to_themselves(spark, sf_dir):
    """Exactness anchor: each codebook vector (vec_id < PQ_K) must be
    assigned its OWN code in every subspace with zero quantization
    error (self-distance 0 is the unique minimum on a random-float
    corpus), and every corpus vector gets exactly PQ_M codes."""
    from data_framework_spark.similarity.pq import (
        PQ_K,
        PQ_M,
        _codebooks,
        assign_pq_codes,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = _codebooks(emb)
    codes = assign_pq_codes(emb, books)
    self_rows = codes.filter(F.col("vec_id") < PQ_K).collect()
    assert len(self_rows) == PQ_K * PQ_M
    for r in self_rows:
        assert r["code"] == r["vec_id"] and r["err"] == 0.0
    n = emb.count()
    assert codes.count() == n * PQ_M


def test_pq_adc_retrieves_clusters_on_clustered_corpus(spark):
    """On data with actual cluster structure (the regime PQ is built
    for — the isotropic bench corpus is its structural worst case and
    the measured recall there is documented in pq.py), ADC must
    retrieve same-cluster members: PQ_K tight clusters of 4 around
    the PQ_K codebook seeds (vec_ids 0..PQ_K-1 are the seeds
    themselves); every vector must quantize to its own cluster's full
    code word in all 8 subspaces (hence ADC distance 0 to
    cluster-mates — exact retrieval)."""
    from data_framework_spark.similarity.pq import (
        PQ_K,
        _codebooks,
        assign_pq_codes,
    )

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(PQ_K, 64)) * 10
    rows = []
    vid = 0
    for rep in range(4):  # vec_ids 0..PQ_K-1 are the seeds themselves
        for c in range(PQ_K):
            v = centers[c] + (rng.normal(size=64) * 0.01 if rep else 0.0)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = _codebooks(emb)
    codes = assign_pq_codes(emb, books).collect()
    # every member of cluster c must share all 8 codes with seed c
    by_vec = {}
    for r in codes:
        by_vec.setdefault(r["vec_id"], {})[r["subspace"]] = r["code"]
    for v, sub_codes in by_vec.items():
        assert sub_codes == by_vec[v % PQ_K], f"vec {v} left its cluster"


def test_pq_adc_lut_join_is_broadcast(spark, sf_dir):
    """The ADC scoring join must broadcast the bounded lookup-table
    side (|Q|·M·K rows) — a shuffled join here would move the whole
    code table for a 2560-row build side."""
    from data_framework_spark.similarity.pq import q_pq_adc_topk

    plan = (
        q_pq_adc_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


# --- trained codebooks: session entry ---------------------------------------


def test_trained_codebooks_cache_isolates_derived_frames(
    spark, tmp_path, cache_root
):
    """inputFiles() is identical for any frame derived from the same
    single file, so a (app, path, stamp)-only key would serve — or
    poison — FULL-corpus codebooks for trained_codebooks(emb.filter(...))
    (round-10 advisory). The semanticHash key term must keep them
    distinct entries while identical plans still share one run."""
    from data_framework_spark.similarity.pq import trained_codebooks
    from data_framework_spark.sources.tables import load_table

    work = _corpus_copy(tmp_path, "sf")
    full = load_table(spark, work, "embeddings")
    b_full = trained_codebooks(full)
    # identical plan, rebuilt: still one training run (dict identity)
    assert trained_codebooks(load_table(spark, work, "embeddings")) is b_full
    # a filtered view of the SAME file must NOT alias the corpus entry
    half = full.filter("vec_id < 250")
    b_half = trained_codebooks(half)
    assert b_half is not b_full
    assert not np.array_equal(b_half, b_full)  # genuinely retrained
    # and the cached corpus entry is unpoisoned
    assert trained_codebooks(load_table(spark, work, "embeddings")) is b_full


# --- trained codebooks: the index-cache tree --------------------------------


def test_pq_books_persist_and_reload_bitwise(spark, cache_root):
    """trained_codebooks persisted by one 'session' must be reloaded
    BITWISE by the next (cleared session cache), and a filtered view
    must never be served the full-corpus books (the round-10 advisory,
    held across sessions by the stripped-plan fingerprint)."""
    from data_framework_spark import artifacts
    from data_framework_spark.similarity import pq
    from data_framework_spark.sources.tables import load_table

    artifacts.evict(spark, "pq_books")
    emb = load_table(spark, SF_SMALL, "embeddings")
    b1 = pq.trained_codebooks(emb)
    tree = _books_tree(emb, SF_SMALL)
    assert _books_trees(cache_root) == [os.path.basename(tree)]
    assert np.array_equal(np.load(f"{tree}/books.npy"), b1)
    artifacts.evict(spark, "pq_books")
    t0 = time.perf_counter()
    b2 = pq.trained_codebooks(emb)
    reload_s = time.perf_counter() - t0
    assert np.array_equal(b1, b2)
    assert reload_s < 2.0  # reload, not retrain (train is >>2 s)
    # distinct plan -> distinct digest -> no cross-serving
    filt = emb.filter("vec_id < 300")
    assert pq._stable_plan_fp(filt) != pq._stable_plan_fp(emb)
    artifacts.evict(spark, "pq_books")


def test_pq_books_fmt_bump_diverges(spark, cache_root, monkeypatch, trainings):
    """A PQ_BOOKS_FMT bump makes the next session retrain into a new
    tree, and the superseded tree of the same (file, plan) goes."""
    from data_framework_spark import artifacts
    from data_framework_spark.similarity import pq
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    pq.trained_codebooks(emb)
    trees = _books_trees(cache_root)
    assert len(trees) == 1
    artifacts.evict(spark, "pq_books")
    monkeypatch.setattr(pq, "PQ_BOOKS_FMT", pq.PQ_BOOKS_FMT + 1)
    pq.trained_codebooks(emb)
    trees2 = _books_trees(cache_root)
    # same prefix and file -> superseded tree evicted, one live tree
    assert len(trees2) == 1 and trees2 != trees
    assert len(trainings) == 2


def test_build_source_change_retrains_into_new_tree(
    spark, cache_root, monkeypatch, trainings
):
    """The build code's source hash is part of the tree's digest: a
    session whose `build_source_fp` differs retrains instead of
    reloading, into a new tree that replaces the old one."""
    from data_framework_spark import artifacts
    from data_framework_spark.similarity import pq
    from data_framework_spark.sources import formats
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    pq.trained_codebooks(emb)
    old = _books_tree(emb, SF_SMALL)
    artifacts.evict(spark, "pq_books")
    pq.trained_codebooks(emb)
    assert len(trainings) == 1  # same code: reloaded
    artifacts.evict(spark, "pq_books")
    monkeypatch.setattr(
        formats, "build_source_fp", lambda *objs: "ffffffffffff"
    )
    pq.trained_codebooks(emb)
    assert len(trainings) == 2  # changed code: retrained
    new = _books_tree(emb, SF_SMALL)
    assert new is not None and new != old
    assert not os.path.exists(old)


def test_pq_books_trees_are_per_file_and_plan(
    spark, tmp_path, cache_root, trainings
):
    """Each (corpus file, plan) has its own tree: a filtered view over
    a file gets a tree of its own and leaves the full-corpus tree in
    place, and rewriting one file replaces only that file's tree of
    the plan that is retrained."""
    from data_framework_spark import artifacts
    from data_framework_spark.similarity import pq
    from data_framework_spark.sources.tables import load_table

    a, b = _corpus_copy(tmp_path, "a"), _corpus_copy(tmp_path, "b")
    full_a = load_table(spark, a, "embeddings")
    books = pq.trained_codebooks(full_a)
    tree_a = _books_tree(full_a, a)
    assert os.path.isfile(f"{tree_a}/manifest.json")
    assert np.array_equal(np.load(f"{tree_a}/books.npy"), books)

    half_a = full_a.filter("vec_id < 250")
    pq.trained_codebooks(half_a)
    tree_half = _books_tree(half_a, a)
    assert tree_half is not None and tree_half != tree_a
    assert os.path.isdir(tree_a)  # the full-corpus tree survives

    full_b = load_table(spark, b, "embeddings")
    pq.trained_codebooks(full_b)
    tree_b = _books_tree(full_b, b)
    assert tree_b not in (None, tree_a)
    assert len(_books_trees(cache_root)) == 3
    assert len(trainings) == 3

    # a rewrite of a's file changes its stamp
    st = os.stat(f"{a}/embeddings.parquet")
    os.utime(
        f"{a}/embeddings.parquet",
        ns=(st.st_atime_ns, st.st_mtime_ns + 10**9),
    )
    artifacts.evict(spark, "pq_books")
    full_a = load_table(spark, a, "embeddings")
    pq.trained_codebooks(full_a)
    assert len(trainings) == 4
    new_a = _books_tree(full_a, a)
    assert new_a is not None and new_a != tree_a
    assert not os.path.exists(tree_a)
    assert os.path.isdir(tree_b) and os.path.isdir(tree_half)
    assert len(_books_trees(cache_root)) == 3


def test_unreadable_books_file_is_retrained(spark, cache_root, trainings):
    """A tree whose books.npy cannot be loaded is never served: the
    caller retrains and replaces the tree, so the next session
    reloads the retrained books instead of training again."""
    from data_framework_spark import artifacts
    from data_framework_spark.similarity import pq
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    books = pq.trained_codebooks(emb)
    with open(f"{_books_tree(emb, SF_SMALL)}/books.npy", "wb") as fh:
        fh.write(b"not a numpy file")
    artifacts.evict(spark, "pq_books")
    assert np.array_equal(pq.trained_codebooks(emb), books)
    assert len(trainings) == 2
    artifacts.evict(spark, "pq_books")
    assert np.array_equal(pq.trained_codebooks(emb), books)
    assert len(trainings) == 2  # reloaded from the replaced tree


def test_plan_fp_failure_degrades_to_retrain_only(
    spark, cache_root, monkeypatch, trainings
):
    """When _stable_plan_fp returns None (py4j hiccup),
    trained_codebooks must neither LOAD nor PERSIST a cross-session
    codebook — retrain-only, so two different frames over the same
    file can never cross-serve through a shared fallback key."""
    from data_framework_spark import artifacts
    from data_framework_spark.similarity import pq
    from data_framework_spark.sources.tables import load_table

    monkeypatch.setattr(pq, "_stable_plan_fp", lambda df: None)
    emb = load_table(spark, SF_SMALL, "embeddings")
    assert pq.trained_codebooks(emb) is not None
    artifacts.evict(spark, "pq_books")
    pq.trained_codebooks(emb)
    assert len(trainings) == 2  # nothing to reload
    assert _books_trees(cache_root) == []  # nothing persisted
