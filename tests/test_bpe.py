"""BPE tokenizer pins: both trainers against the pure-Python
full-recount reference, the apply-side queries on hand corpora, the
oracle SQL on a corpus whose merges run out early, the session merge
cache, and query construction that persists nothing and, once the
merges are learned, starts no Spark job."""

from __future__ import annotations

import hashlib
import time
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_framework_spark.functions import bpe
from data_framework_spark.functions.bpe import (
    _CS,
    _OS,
    BPE_HELDOUT_FRAC,
    BPE_MERGES,
    _apply_merges,
    _wrapped_words,
    learn_bpe_merges,
    learn_bpe_merges_batched,
    q_bpe_batched_merges,
    q_bpe_detok_roundtrip,
    q_bpe_heldout_coverage,
    q_bpe_merges,
    q_bpe_tokenize,
)
from data_framework_spark.sources.tables import load_table


def _merge_once(syms: list[str], left: str, right: str) -> list[str]:
    out, j = [], 0
    while j < len(syms):
        if j + 1 < len(syms) and syms[j] == left and syms[j + 1] == right:
            out.append(left + right)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return out


def _bpe_reference(word_freqs: dict[str, int], n_merges: int):
    """Obviously-correct classic BPE: FULL pair recount per merge,
    count-desc / lexicographic winner, non-overlapping left-to-right
    application — the spec the trainers implement."""
    words = [(list(w), f) for w, f in word_freqs.items()]
    merges = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        left, right = min(counts, key=lambda p: (-counts[p], p))
        merges.append((rank, left, right, counts[(left, right)]))
        words = [(_merge_once(syms, left, right), f) for syms, f in words]
    return merges


def _docs(spark, text: str):
    return spark.createDataFrame([(1, text)], "doc_id long, text string")


def _write_docs(spark, sf: str, texts: list[str]) -> None:
    spark.createDataFrame(
        [(i, "hand", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")


# --- trainers -----------------------------------------------------------------


def test_bpe_merges_hand_corpus(spark):
    """Hand-verifiable BPE run: 'abab abab cd' → words abab(×2),
    cd(×1). Pair counts: (a,b)=4, (b,a)=2, (c,d)=1 → merge 1 is
    (a,b,4); after applying, abab = (ab)(ab) → merge 2 is (ab,ab,2)
    — the iterative property: merge 2 consumes merge 1's symbol —
    then (c,d,1), then no pairs remain (early stop before
    n_merges)."""
    merges = learn_bpe_merges(_docs(spark, "abab abab cd"), n_merges=6)
    assert merges == [
        (1, "a", "b", 4),
        (2, "ab", "ab", 2),
        (3, "c", "d", 1),
    ]


def test_bpe_greedy_overlap_left_to_right(spark):
    """Pair (a,a) on 'aaa' must merge greedily left-to-right into
    (aa)(a) — so the second merge sees pair (aa, a), not (a, aa)."""
    merges = learn_bpe_merges(_docs(spark, "aaa"), n_merges=2)
    assert merges == [(1, "a", "a", 2), (2, "aa", "a", 1)]


def test_bpe_trainer_matches_reference_hand_corpora(spark):
    """'abab abab cd': a merge created BY merge 1 wins merge 2, then
    early stop. 'aaaa aaa': (a,a) counts 5 (overlaps counted) but
    merges non-overlapping left-to-right. 'xy xz yz x y z': count
    ties broken lexicographically. The incremental recount must give
    the full recount's sequence element-wise, counts included."""
    for text in ("abab abab cd", "aaaa aaa", "xy xz yz x y z"):
        got = learn_bpe_merges(_docs(spark, text), n_merges=8)
        want = _bpe_reference(Counter(text.split(" ")), 8)
        assert got == want, (text, got, want)


def test_bpe_trainer_matches_reference_shipped_corpus(spark, sf_dir):
    """12 merges over the shipped documents corpus — twice the driver
    contract's depth, covering merges that consume earlier merges'
    symbols on real text — element-wise equal to the reference over
    word counts taken in Python from the raw text."""
    docs = load_table(spark, sf_dir, "documents")
    freqs = Counter(
        w for r in docs.select("text").collect() for w in r["text"].split(" ")
    )
    assert learn_bpe_merges(docs, n_merges=12) == _bpe_reference(freqs, 12)


def test_bpe_trainer_matches_reference_random_corpora(spark):
    """Trainer vs the reference over randomized small-alphabet
    corpora — tiny alphabets maximize ties, overlapping pairs ((a,a)
    on 'aaa'), and merges that consume earlier merges' symbols, the
    cases where a stale-index or delta-accounting bug would first
    show."""

    @given(
        st.dictionaries(
            st.text(alphabet="abc", min_size=1, max_size=6),
            st.integers(1, 5),
            min_size=1,
            max_size=8,
        ),
        st.integers(1, 10),
    )
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(word_freqs, n_merges):
        rows = [
            (w, "".join(f"{_OS}{c}{_CS}" for c in w), f)
            for w, f in word_freqs.items()
        ]
        words = spark.createDataFrame(
            rows, "word string, w string, freq long"
        )
        got = learn_bpe_merges(None, n_merges, words=words)
        assert got == _bpe_reference(word_freqs, n_merges), word_freqs

    run()


def test_bpe_batched_merges_properties(spark, sf_dir):
    """Within a pass: selected merges are pairwise symbol-disjoint,
    the first selection equals the reference's first merge, and
    applying the batch in any order yields the same word table
    (disjointness = order-independence)."""
    docs = load_table(spark, sf_dir, "documents")
    batched = learn_bpe_merges_batched(docs)
    assert batched, "trainer found no merges"
    for p in {b[0] for b in batched}:
        sel = [b for b in batched if b[0] == p]
        syms = [s for b in sel for s in (b[2], b[3])]
        assert len(set(syms)) == len(syms), f"pass {p} shares symbols"
    words = _wrapped_words(docs)
    freqs = {r["word"]: r["freq"] for r in words.collect()}
    first = _bpe_reference(freqs, 1)[0]
    assert tuple(batched[0][2:]) == first[1:]
    # order-independence of a disjoint batch
    pass1 = [(0, b[2], b[3], b[4]) for b in batched if b[0] == 1]
    fwd = sorted(
        (r["w"], r["freq"]) for r in _apply_merges(words, pass1).collect()
    )
    rev = sorted(
        (r["w"], r["freq"])
        for r in _apply_merges(words, list(reversed(pass1))).collect()
    )
    assert fwd == rev


def test_bpe_word_table_is_the_only_corpus_shuffle(spark, sf_dir):
    """The word-frequency table is the one corpus-sized aggregate:
    one corpus-keyed exchange (the word groupBy); the regex wrap is a
    projection on top, adding none."""
    docs = load_table(spark, sf_dir, "documents")
    plan = _wrapped_words(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


# --- apply-side queries -------------------------------------------------------


def test_bpe_tokenize_hand_corpus(spark, tmp_path):
    """Apply-side accounting on the hand corpus: after the 3
    learnable merges, 'abab'(×2) is one token and 'cd' one token —
    chars 10, tokens 3, fertility 10/3, induced vocab {abab, cd}.
    Content chars must be invariant under merging."""
    sf = str(tmp_path)
    _write_docs(spark, sf, ["abab abab cd"])
    row = q_bpe_tokenize(spark, sf).collect()[0]
    assert row["n_words"] == 2
    assert row["total_occurrences"] == 3
    assert row["chars_total"] == 10
    assert row["tokens_total"] == 3
    assert row["fertility"] == round(10 / 3, 6)
    assert row["vocab_symbols"] == 2


def test_bpe_detok_roundtrip_hand_corpus(spark, tmp_path):
    """'abab abab cd' corpus: after the merges (ab), (abab), (cd) the
    word abab is ONE token and cd is ONE token; detokenization must
    reproduce both words exactly (roundtrip_ok), with per-doc
    accounting (doc 0 = 'abab abab cd' -> 3 words, 3 BPE tokens;
    doc 1 = 'abab' -> 1 word, 1 token)."""
    sf = str(tmp_path)
    _write_docs(spark, sf, ["abab abab cd", "abab"])
    got = {
        r.doc_id: (r.n_words, r.bpe_tokens, r.roundtrip_ok)
        for r in q_bpe_detok_roundtrip(spark, sf).collect()
    }
    assert got == {0: (3, 3, True), 1: (1, 1, True)}


def test_bpe_heldout_matches_pure_python_reference(spark, tmp_path):
    """q_bpe_heldout_coverage vs an INDEPENDENT pure-Python BPE on a
    hand corpus: merges learned by the reference on the train slice
    only, the same left-to-right non-overlapping merge application to
    the held-out words, the same coverage/fertility arithmetic."""
    texts = [
        "banana bandana cabana apple grapple dapple zebra quartz",
        "banana banana bandana apple apple quartz jazzy",
        "cabana dapple zebra zebra jazzy fizzy banana",
    ]
    sf = str(tmp_path / "sfh")
    _write_docs(spark, sf, texts)

    freq = Counter(w for t in texts for w in t.split(" "))

    def hf(word: str) -> float:
        return int(hashlib.md5(word.encode()).hexdigest()[:8], 16) / 2**32

    train = {w: f for w, f in freq.items() if hf(w) >= BPE_HELDOUT_FRAC}
    held = {w: f for w, f in freq.items() if hf(w) < BPE_HELDOUT_FRAC}
    assert held and train  # the split must exercise both slices

    merges = [(m[1], m[2]) for m in _bpe_reference(train, BPE_MERGES)]
    # the real BPE vocab: train initial characters ∪ merge outputs —
    # NOT just post-merge surviving train symbols (a symbol consumed
    # by a later merge everywhere it occurs in train is still vocab)
    vocab = {c for w in train for c in w} | {l + r for l, r in merges}
    hsyms = {w: list(w) for w in held}
    for left, right in merges:
        hsyms = {w: _merge_once(s, left, right) for w, s in hsyms.items()}
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


# --- oracle SQL ---------------------------------------------------------------


def test_bpe_oracles_match_spark_when_merges_exhaust_early(spark, tmp_path):
    """A corpus whose pair supply runs out before BPE_MERGES merges:
    Spark's learner breaks early; the SQL chain must ride the no-op
    sentinel (tt{i}) through the remaining steps instead of
    annihilating the word table via an empty CROSS JOIN (round-9
    review). Parity checked for all five BPE queries on the same tiny
    corpus."""
    import duckdb

    from data_framework_spark.functions.bpe import (
        Q_BPE_BATCHED_MERGES_SQL,
        Q_BPE_DETOK_ROUNDTRIP_SQL,
        Q_BPE_HELDOUT_COVERAGE_SQL,
        Q_BPE_MERGES_SQL,
        Q_BPE_TOKENIZE_SQL,
    )

    # "ab" supports exactly ONE merge (a,b) -> single symbol; the
    # single-char words supply none. 1 < BPE_MERGES=6.
    sf = str(tmp_path / "sfe")
    _write_docs(spark, sf, ["ab ab a b c", "ab a b", "c c ab"])
    con = duckdb.connect()
    # Spark writes the table as a directory of part files
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )

    def norm(rows):
        return sorted(
            tuple(
                float(v)
                if isinstance(v, (int, float)) and not isinstance(v, bool)
                else v
                for v in r
            )
            for r in rows
        )

    for fn, sql in (
        (q_bpe_merges, Q_BPE_MERGES_SQL),
        (q_bpe_tokenize, Q_BPE_TOKENIZE_SQL),
        (q_bpe_detok_roundtrip, Q_BPE_DETOK_ROUNDTRIP_SQL),
        (q_bpe_heldout_coverage, Q_BPE_HELDOUT_COVERAGE_SQL),
        (q_bpe_batched_merges, Q_BPE_BATCHED_MERGES_SQL),
    ):
        srows = norm(tuple(r) for r in fn(spark, sf).collect())
        drows = norm(con.execute(sql).fetchall())
        assert srows == drows, (fn.__name__, srows, drows)
    # sanity: the learner really did stop early on this corpus
    assert q_bpe_merges(spark, sf).count() < 6


# --- session merge cache and lazy construction --------------------------------


def test_bpe_merge_cache_reuses_and_invalidates(spark, tmp_path, monkeypatch):
    """The merge table is a train-once artifact: within a session the
    four BPE queries must share one training run per (corpus content,
    split), and a rewrite of the data under sf_dir must retrain (the
    same fingerprint-keyed contract as the persisted indexes)."""
    sf = str(tmp_path / "sfc")
    _write_docs(spark, sf, ["banana bandana banana", "cabana banana apple"])

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
    _write_docs(spark, sf, ["zebra zebra quartz", "quartz zebra jazz"])
    m3 = [tuple(r) for r in q_bpe_merges(spark, sf).collect()]
    assert len(calls) == 2, "rewritten sf_dir must invalidate the cache"
    assert m3 != m1

    # distinct splits key separately even over identical content
    docs = load_table(spark, sf, "documents")
    bpe.learned_merges(spark, sf, docs, split="train25")
    assert len(calls) == 3


def test_bpe_queries_leave_nothing_persisted(spark, tmp_path):
    """No BPE query persists a frame: building and collecting each one
    leaves the session's persistent-RDD count unchanged and the word
    table uncached. A frame held for detok's lazy result would be
    uncached by the next BPE query that unpersists the same plan."""
    sf = str(tmp_path)
    _write_docs(spark, sf, ["abab abab cd", "abab"])
    docs = load_table(spark, sf, "documents")
    jsc = spark.sparkContext._jsc
    n_persisted = jsc.getPersistentRDDs().size()
    for fn in (
        q_bpe_detok_roundtrip,
        q_bpe_tokenize,
        q_bpe_heldout_coverage,
        q_bpe_merges,
        q_bpe_batched_merges,
    ):
        fn(spark, sf).collect()
        assert jsc.getPersistentRDDs().size() == n_persisted, fn.__name__
        assert not _wrapped_words(docs).storageLevel.useMemory, fn.__name__


def test_bpe_construction_jobs(spark, tmp_path, jobs_started):
    """Cold, q_bpe_merges starts no more jobs than one collect of the
    word table (the trainer's only Spark work). Warm, with the merges
    learned, tokenize, detok and held-out construction start none:
    their results are lazy plans."""
    sf = str(tmp_path)
    _write_docs(spark, sf, ["banana bandana banana", "cabana banana apple"])
    docs = load_table(spark, sf, "documents")
    n_collect = jobs_started(spark, lambda: _wrapped_words(docs).collect())
    assert jobs_started(spark, lambda: q_bpe_merges(spark, sf)) <= n_collect
    for fn in (q_bpe_tokenize, q_bpe_detok_roundtrip, q_bpe_heldout_coverage):
        fn(spark, sf)
        assert jobs_started(spark, lambda: fn(spark, sf)) == 0, fn.__name__
