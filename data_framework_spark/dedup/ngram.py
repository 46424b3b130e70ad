"""Character n-gram Jaccard similarity — the exact-set complement to
the hashed sketches in dedup/minhash.py and dedup/simhash.py.

Shingles are character trigrams (position-windowed substrings), which
catch near-dups that word-level shingles miss (small edits inside
words, whitespace/punctuation drift). The gram set is built with
JVM-side higher-order functions (`sequence` → `transform` →
`array_distinct` → `explode`) — no Python in the path.

Jaccard is computed exactly via the postings join: explode both sides
to (doc, gram), inner-join probe grams to corpus grams, count
intersections per pair, then |A∪B| = |A|+|B|−|A∩B|. With a probe set
the join cost is Σ_gram |probe postings|·|corpus postings| — linear
in the corpus for bounded probe sets, never the n² cross product.
At 100 TB the corpus postings list is the thing to pre-build and
reuse (it's a straight shuffle on gram); pathologically common grams
act like skewed join keys — cap or drop top-df grams upstream exactly
as web dedup pipelines drop stop-grams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_framework_spark.sources.tables import load_table

N = 3  # character trigrams


def char_ngrams(text_col: str, n: int = N) -> Column:
    """Distinct character n-grams of column `text_col` (1-based
    windows) — pure higher-order-function SQL, no Python."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}), {n}) - {n - 1}),"
            f" i -> substring({text_col}, i, {n}))"
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    probe: DataFrame,
) -> DataFrame:
    """(a, b, jaccard) for probe×corpus pairs with trigram-set Jaccard
    ≥ threshold (self-pairs excluded; a<b normalized).

    Shape: the probe docs' gram SETS broadcast as arrays; every corpus
    doc is compared against all of them with `array_intersect` — one
    corpus scan, |corpus|·|probe| bounded comparisons, zero shuffle.
    This beats the postings self-join decisively for small probe sets
    because common trigrams (' th', 'he ', …) appear in nearly every
    document: the postings join degenerates into a skewed
    near-cross-product on those grams (measured 20 s vs 2 s at sf0.1),
    while the array form's cost is flat per pair. For probe sets too
    large to broadcast, fall back to the postings join with stop-gram
    capping — the trade documented in the module docstring.
    """
    # the repartition is a materialization barrier: without it Catalyst
    # collapses this projection into the join output and re-evaluates
    # the O(len) gram-array expression once per PAIR instead of once
    # per doc (measured 13.5 s vs ~2 s at sf0.1). Grams are hashed to
    # longs AFTER the distinct — intersecting long arrays is ~2× faster
    # than UTF8 arrays, and a 64-bit collision inside one document
    # pair's trigram sets (≤ ~10^3 values) is ~1e-13 — far below any
    # float-rounding noise in the jaccard itself.
    gram_sets = docs.select(
        F.col(id_col).alias("doc"),
        F.transform(char_ngrams(text_col), lambda g: F.xxhash64(g)).alias("grams"),
    ).repartition(F.col("doc"))
    probe_sets = gram_sets.join(F.broadcast(probe), on="doc").select(
        F.col("doc").alias("p_doc"), F.col("grams").alias("p_grams")
    )
    inter = F.size(F.array_intersect(F.col("grams"), F.col("p_grams")))
    union = F.size("grams") + F.size("p_grams") - inter
    # exact-safe length prefilter: J(A,B) >= t implies
    # |A∩B| <= min(|A|,|B|) and |A∪B| >= max(|A|,|B|), so
    # min >= t·max — pairs failing the cheap size-ratio test cannot
    # reach the threshold and skip the O(|A|+|B|) intersect entirely
    sa, sb = F.size("grams"), F.size("p_grams")
    ratio_ok = F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb)
    return (
        gram_sets.crossJoin(F.broadcast(probe_sets))
        .filter((F.col("doc") != F.col("p_doc")) & ratio_ok)
        .select(
            F.least(F.col("doc"), F.col("p_doc")).alias("a"),
            F.greatest(F.col("doc"), F.col("p_doc")).alias("b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def ngram_jaccard_pairs_arrow(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    probe: DataFrame,
) -> DataFrame:
    """The Arrow-vectorized route to the exact same pairs — the
    round-8 rewrite of the hot path after the suite's slowest warm
    query stabilized at ~6.4 s on the JVM array_intersect form.

    Same exact semantics (identical gram hashes, identical 6dp
    half-away rounding — equality test-pinned against
    `ngram_jaccard_pairs`), different kernel: instead of one
    hash-set-allocating `array_intersect` call per (doc, probe) PAIR,
    each Arrow batch does ONE `searchsorted` of all its gram
    occurrences into the sorted union of probe grams, multiplies
    through a (|union| × |probe|) 0/1 membership matrix, and
    segment-sums per doc (`np.add.reduceat`) — intersection counts
    for every probe at once, C-speed, O(batch_grams · |probe|).
    Measured at sf0.1: 6.4-6.9 s → ~1 s wall (the JVM form's
    per-pair cost dominates; the matrix form amortizes it away).

    Bounded-probe assumption unchanged: the probe gram sets are
    collected driver-side (the same bound the JVM route's broadcast
    relies on); at 100 TB the batch work stays corpus-linear. Doc ids
    must be 64-bit integers (the kernel vectorizes them as int64);
    the generic-id caller falls back to `ngram_jaccard_pairs`."""
    # repartition BEFORE the gram transform: the documents file is one
    # small row group (one scan task), so building grams pre-exchange
    # runs the whole O(corpus chars) substring+hash work on a single
    # core (measured 1.9 s of the query's 2.7 s). Exchanging the raw
    # (id, text) rows first is cheap and the gram build then runs
    # n_parts-wide, pipelined into the Arrow kernel's input projection.
    # Unlike the JVM route there is NO re-evaluation hazard to
    # barrier against: mapInPandas consumes each input row exactly
    # once, whereas the crossJoin form re-evaluates un-materialized
    # projections per PAIR. The partition count is EXPLICIT because
    # AQE would coalesce this byte-small shuffle to one partition —
    # it sizes by bytes and can't see the downstream per-row compute.
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    gram_sets = docs.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col).alias("doc"),
        F.transform(char_ngrams(text_col), lambda g: F.xxhash64(g)).alias(
            "grams"
        ),
    )
    # probe sets: join the PROBE IDS to the raw docs FIRST, then hash —
    # collecting from gram_sets would run the full-corpus gram build as
    # a separate job just to keep |probe| rows, doubling the corpus-
    # side work (the main job recomputes gram_sets; cross-job plans
    # share no exchanges)
    probe_rows = (
        docs.join(F.broadcast(probe), docs[id_col] == probe["doc"])
        .select(
            probe["doc"],
            F.transform(
                char_ngrams(text_col), lambda g: F.xxhash64(g)
            ).alias("grams"),
        )
        .collect()
    )
    return membership_jaccard_pairs(gram_sets, probe_rows, threshold)


def membership_jaccard_pairs(
    gram_sets: DataFrame, probe_rows: list, threshold: float
) -> DataFrame:
    """The shared Arrow membership-matrix Jaccard kernel: exact set
    Jaccard of every `gram_sets` row (doc long, grams array<long>)
    against every collected probe row (same shape), thresholded and
    normalized to (a, b, jaccard) with a < b. Used by the char-ngram
    route above and dedup/minhash's pair verify — ONE copy of the
    searchsorted + membership-matrix + reduceat shape.

    Probe-probe pairs emit from both orientations; the final distinct
    collapses them (jaccard identical by construction)."""
    import numpy as np
    import pandas as pd

    from data_framework_spark.similarity.ann import _round6_half_away

    p_ids = np.array([r["doc"] for r in probe_rows], dtype=np.int64)
    sets = [np.sort(np.asarray(r["grams"], dtype=np.int64)) for r in probe_rows]
    union = np.unique(np.concatenate(sets)) if sets else np.empty(0, np.int64)
    member = np.zeros((len(union), len(sets)), dtype=np.int32)
    for j, s in enumerate(sets):
        member[np.searchsorted(union, s), j] = 1
    p_sizes = np.array([len(s) for s in sets], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            # len(union) == 0 alongside len(sets): the gram builders
            # always emit ≥1 gram today, but if that ever changes the
            # clipped searchsorted below would index an empty array and
            # crash the executor instead of degrading (round-8 advisory)
            if pdf.empty or len(sets) == 0 or len(union) == 0:
                continue
            lens = np.fromiter(
                (len(g) for g in pdf["grams"]), dtype=np.int64, count=len(pdf)
            )
            keep = lens > 0
            if not keep.any():
                continue
            docs_arr = pdf["doc"].to_numpy()[keep]
            glist = [
                np.asarray(g, dtype=np.int64)
                for g, k in zip(pdf["grams"], keep)
                if k
            ]
            lens = lens[keep]
            allg = np.concatenate(glist)
            idx = np.clip(np.searchsorted(union, allg), 0, len(union) - 1)
            contrib = member[idx] * (union[idx] == allg)[:, None]
            starts = np.r_[0, np.cumsum(lens)[:-1]]
            inter = np.add.reduceat(contrib, starts, axis=0)
            usz = lens[:, None] + p_sizes[None, :] - inter
            jac = _round6_half_away(inter / usz)
            ok = (jac >= threshold) & (docs_arr[:, None] != p_ids[None, :])
            di, pi = np.nonzero(ok)
            if len(di) == 0:
                continue
            yield pd.DataFrame(
                {
                    "a": np.minimum(docs_arr[di], p_ids[pi]),
                    "b": np.maximum(docs_arr[di], p_ids[pi]),
                    "jaccard": jac[di, pi],
                }
            )

    return gram_sets.mapInPandas(
        gen, schema="a long, b long, jaccard double"
    ).distinct()


# --- driver-checkable query instantiations ---------------------------------


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-Jaccard ≥ 0.5 pairs for probe docs (doc_id < 20) —
    served by the Arrow membership-matrix kernel (equality to the
    JVM array_intersect route is test-pinned; same oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") < 20).select(F.col("doc_id").alias("doc"))
    return ngram_jaccard_pairs_arrow(
        docs, "doc_id", "text", threshold=0.5, probe=probe
    )


Q_NGRAM_JACCARD_PAIRS_SQL = f"""
WITH grams AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(
           list_transform(range(1, greatest(length(text), {N}) - {N - 2}),
                          i -> substring(text, i, {N})))) AS gram
  FROM documents
),
sizes AS (SELECT doc, count(*) AS n FROM grams GROUP BY doc),
inter AS (
  SELECT least(l.doc, r.doc) AS a, greatest(l.doc, r.doc) AS b,
         count(DISTINCT l.gram) AS inter
  FROM grams l
  JOIN grams r ON l.gram = r.gram AND l.doc <> r.doc
  WHERE l.doc < 20
  GROUP BY least(l.doc, r.doc), greatest(l.doc, r.doc)
)
SELECT DISTINCT i.a, i.b,
       round(i.inter * 1.0 / (na.n + nb.n - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes na ON i.a = na.doc
JOIN sizes nb ON i.b = nb.doc
WHERE round(i.inter * 1.0 / (na.n + nb.n - i.inter), 6) >= 0.5
"""
