"""Product quantization (PQ): compress embeddings to m subspace codes
— the memory side of a production IVF-PQ vector index.

Extension layer (SURVEY.md §7 phase 5) — Jégou et al. 2011 ("Product
Quantization for Nearest Neighbor Search", §II): split each vector
into PQ_M contiguous subspaces, quantize each subspace against its
own PQ_K-centroid codebook, and store only the m code bytes (here
8 × 8 bits = 8 bytes vs 256 bytes of float32 — a 32× compression).
At 100 TB this is what makes a billion-vector index fit in memory;
search then proxies distances through per-subspace lookup tables.

Codebooks are Lloyd-TRAINED since round 10 (r9 verdict ask 3): seeds
are the first PQ_K vectors' sub-slices (the old deterministic
stand-in), refined by BOOK_ROUNDS of per-subspace k-means via
similarity/train.py — whose fixed-point integer-sum design keeps the
training bit-reproducible in the DuckDB oracle (the oracle re-derives
the trained codebooks from scratch, so a training drift flips the
hash). Measured mean quantization error at the round-12 K=256
operating point, sampled seeds → trained: 0.0222 → 0.0135 (sf0.001),
0.0223 → 0.0136 (sf0.01), 0.0399 → 0.0304 (sf0.1) — a 24-39% training
drop, on top of K=256 itself cutting the trained error ~60% vs the
K=16 books' 0.072-0.076; all 2048 (subspace, code) slots stay live on
this corpus (per-code stats in q_pq_codes; SURVEY §8 records the
deltas).

Assignment determinism (the ivf.assign_cells convention): squared L2
distances are rounded half-away-from-zero to 9 decimals (matching
SQL round()) before the argmin, ties to the smallest code id, so
numpy (sequential per-term accumulation) and DuckDB (list_sum fold)
agree bit-for-bit at the rounding granularity.

The query emits the per-(subspace, code) assignment counts and mean
quantization error — the codebook-health audit a PQ build ships with
(a dead code = wasted codebook capacity; a hot code = under-split
region), ≤ PQ_M·PQ_K (2048) bounded rows from one corpus-linear
Arrow-batched pass.
"""

from __future__ import annotations

import shutil
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_framework_spark import artifacts
from data_framework_spark.sources.tables import (
    _sf_fingerprint,
    collect_bounded,
    load_table,
)

PQ_M = 8  # subspaces
#: Codes per subspace. 16 (4 bits) through round 11; 256 (8 bits, the
#: standard faiss operating point) since round 12 — adopted on the
#: r11 ablation's evidence (SURVEY.md §8, r11 item 4): raw
#: ADC recall@5 0.18→0.37 at sf0.1 and 0.11→0.21 at 10×, residual
#: quantization error −60%, LUT still bounded (|Q|·M·K = 40,960
#: rows/query batch), at 2.5-8× one-time training cost. Deferred in
#: r11 purely for rotation-window economics; the r12 window hoists
#: all 8 re-hashed PQ/IVFPQ contracts.
PQ_K = 256
PQ_DIM = 64
_SUB = PQ_DIM // PQ_M


def _codebooks(emb: DataFrame) -> np.ndarray:
    """(PQ_M, PQ_K, _SUB) deterministic codebook SEEDS: the first PQ_K
    vectors' subspace slices — a bounded PQ_K-row collect, same as
    ivf._centroid_rows."""
    rows = collect_bounded(
        emb.filter(F.col("vec_id") < PQ_K).select("vec_id", "embedding"),
        PQ_K,
        "vec_id",
    )
    # A corpus smaller than PQ_K seeds a smaller codebook — the faiss
    # small-trainset convention, and exactly what the oracle's
    # `WHERE vec_id < PQ_K` yields on the same corpus (round 12, with
    # K=256 now above the hand-built test corpora sizes). The ids must
    # still be a CONTIGUOUS 0-based prefix so the numpy code POSITIONS
    # equal the oracle's cid values — a sparse id set would silently
    # renumber the codes on one engine only.
    if [int(r["vec_id"]) for r in rows] != list(range(len(rows))):
        raise ValueError(
            f"codebook seeds need a contiguous vec_id prefix 0..k-1 "
            f"(k ≤ {PQ_K}); got {len(rows)} rows"
        )
    if not rows:
        raise ValueError("empty corpus: no vec_id < PQ_K to seed codebooks")
    full = np.asarray(
        [[float(x) for x in r["embedding"]] for r in rows], dtype=np.float64
    )
    return np.stack(
        [full[:, s * _SUB : (s + 1) * _SUB] for s in range(PQ_M)]
    )


# Trained codebooks are built once per (corpus file, plan) and reused
# at two levels. In a session they are an `artifacts` entry shared by
# q_pq_codes, q_pq_adc_topk and q_pq_train_gain (the codebook is a
# build artifact, like the BPE merges). Across sessions they are a
# `formats.persistent_index_dir` tree holding `books.npy`, under a
# prefix that names the plan: the digest does not, so the prefix is
# what keeps two plans over one file from serving or evicting each
# other's tree, and a rewrite of the file replaces only the retrained
# plan's tree. The value is a driver-tiny (8, 256, 8) ndarray.

#: Prefix of the persisted codebook trees; the plan fingerprint follows.
PQ_BOOKS_PREFIX = "pq_codebooks_"

#: Bump on any training-semantics change the params below and the
#: build-source hashes don't capture, so a persisted pre-change
#: codebook is unreachable.
PQ_BOOKS_FMT = 1


def trained_codebooks(emb: DataFrame) -> np.ndarray:
    """Lloyd-trained codebooks: the sampled seeds refined by
    train.BOOK_ROUNDS of per-subspace fixed-point k-means over the raw
    corpus (bit-identical to the oracle's unrolled CTEs).

    Session-cached per (corpus file, analyzed-plan semantic hash):
    inputFiles() alone is identical for ANY frame derived from the
    same file, so a filtered/projected view would silently serve — or
    poison — full-corpus codebooks. The semanticHash term makes
    derived frames distinct entries while identical `load_table`
    plans share one training run. A session miss reloads the books a
    previous session persisted under `persistent_index_dir(file,
    PQ_BOOKS_PREFIX + <stable plan fp>, ...)`, or trains and persists
    them; a tree whose `books.npy` is unreadable or mis-shaped is
    never served: it is deleted and rebuilt with retrained books.
    Multi-file frames, non-file frames and a plan without a stable
    fingerprint retrain and persist nothing."""
    from urllib.parse import urlparse

    from data_framework_spark.similarity import train
    from data_framework_spark.sources.formats import (
        build_source_fp,
        persistent_index_dir,
    )

    def train_books() -> np.ndarray:
        return train.lloyd_subspace_books(emb, "embedding", _codebooks(emb))

    files = emb.inputFiles()
    if len(files) != 1:
        return train_books()
    local = urlparse(files[0]).path or files[0]
    if not _sf_fingerprint(local):
        return train_books()

    def build() -> np.ndarray:
        plan_fp = _stable_plan_fp(emb)
        if plan_fp is None:
            return train_books()

        def tree() -> str:
            return persistent_index_dir(
                local,
                f"{PQ_BOOKS_PREFIX}{plan_fp[:10]}_",
                lambda p: np.save(f"{p}/books.npy", train_books()),
                params={
                    "fmt": PQ_BOOKS_FMT,
                    "pq_m": int(PQ_M),
                    "pq_k": int(PQ_K),
                    "book_rounds": int(train.BOOK_ROUNDS),
                    # the digest folds in this module's source (the
                    # build lambda's); the Lloyd trainer is in train.py
                    "train_src": build_source_fp(train),
                },
            )

        d = tree()
        books = _load_books(d)
        if books is None:
            # the manifest still vouches for the tree: drop it so the
            # retrained books replace the bad file
            shutil.rmtree(d, ignore_errors=True)
            books = np.load(f"{tree()}/books.npy")
        return books

    key = (local, emb.semanticHash())
    return artifacts.get_or_build(
        emb.sparkSession, "pq_books", key, build, src=local
    )


def _load_books(d: str) -> np.ndarray | None:
    """The codebooks persisted in tree `d`, or None when its books.npy
    is unreadable or mis-shaped."""
    try:
        books = np.load(f"{d}/books.npy")
    except (OSError, ValueError):
        return None
    if books.ndim != 3 or (books.shape[0], books.shape[2]) != (PQ_M, _SUB):
        return None
    return books


def _stable_plan_fp(df: DataFrame) -> str | None:
    """Cross-SESSION plan fingerprint: the analyzed logical plan's
    string with exprIds (#NNN — fresh per session) stripped, hashed.
    semanticHash() serves the SESSION cache but embeds exprIds, so it
    differs across sessions for the identical plan; the stripped-plan
    hash keeps derived frames distinct (a filter or projection
    changes the plan TEXT) while being stable across sessions. A
    JVM/py4j hiccup returns None and the caller retrains without
    loading or persisting — a shared fallback token would let two
    DIFFERENT frames over the same source file cross-serve each
    other's books."""
    import hashlib
    import re

    try:
        s = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    return hashlib.sha256(re.sub(r"#\d+", "#", s).encode()).hexdigest()[:20]


def _round9(x: np.ndarray) -> np.ndarray:
    """Half-away-from-zero to 9 decimals (SQL round semantics)."""
    return np.sign(x) * np.floor(np.abs(x) * 1e9 + 0.5) / 1e9


def sq_l2_fold(Xs: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, sub) rows × (K, sub) entries → (n, K) squared L2 distances,
    accumulated SEQUENTIALLY over the sub dims in dim order (explicit
    left-to-right adds, not np.sum's pairwise tree) to mirror the
    oracle's list_sum fold. One (n, K) work buffer is reused in place
    for every term, so no (n, K, sub) temporary is built. Symmetric
    bit for bit: (c − q)² equals (q − c)², so a lookup table for one
    query is `sq_l2_fold(q[None, :], C)[0]`."""
    d = np.subtract(Xs[:, 0, None], C[None, :, 0])
    acc = d * d
    for j in range(1, Xs.shape[1]):
        np.subtract(Xs[:, j, None], C[None, :, j], out=d)
        np.multiply(d, d, out=d)
        acc += d
    return acc


def assign_pq_codes(emb: DataFrame, books: np.ndarray) -> DataFrame:
    """corpus → (vec_id, subspace, code, err): per-subspace argmin of
    the 9dp-rounded squared L2 distance to the PQ_K codebook entries,
    ties to the smallest code. One Arrow-batched pass; the distances
    come from sq_l2_fold, the sequential fold that mirrors the
    oracle's list_sum."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(X)
            out_sub = np.empty((n, PQ_M), dtype=np.int32)
            out_err = np.empty((n, PQ_M), dtype=np.float64)
            for s in range(PQ_M):
                Xs = X[:, s * _SUB : (s + 1) * _SUB]
                d = _round9(sq_l2_fold(Xs, books[s]))
                code = np.argmin(d, axis=1)  # first min → smallest code
                out_sub[:, s] = code
                out_err[:, s] = d[np.arange(n), code]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(), PQ_M
                    ),
                    "subspace": np.tile(np.arange(PQ_M), n),
                    "code": out_sub.reshape(-1),
                    "err": out_err.reshape(-1),
                }
            )

    # widen past the one-row-group test scan (tables.widen_scan is a
    # structural no-op at scale): the embeddings file ships as ONE
    # split, so this whole Arrow pass otherwise runs on a single core
    # (r17 optimization, guide §4.2/§6.1 — same fix the text/dedup
    # kernels got in r9; values are row-local, so parallelism cannot
    # change them)
    from data_framework_spark.sources.tables import widen_scan

    return widen_scan(emb.select("vec_id", "embedding")).mapInPandas(
        gen, schema="vec_id long, subspace int, code int, err double"
    )


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-health audit: per-(subspace, code) assignment count
    and mean quantization error over the embeddings corpus, computed
    against the TRAINED codebooks (the training is part of what the
    oracle hash certifies)."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = trained_codebooks(emb)
    return (
        assign_pq_codes(emb, books)
        .groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(F.avg("err"), 6).alias("avg_sq_err"),
        )
        .orderBy("subspace", "code")
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via asymmetric distance computation (ADC, Jégou et
    al. 2011 §III): approximate top-5 L2 neighbors for the first 20
    query vectors, scoring candidates ONLY through their PQ codes.

    The query-side lookup tables (per query × subspace × code:
    squared distance from the query's sub-vector to the codebook
    entry) are a bounded |Q|·PQ_M·PQ_K = 40,960-row frame computed
    driver-side from the two bounded inputs (20 queries, the
    codebook) and BROADCAST; the corpus side never touches floats —
    the scan reads the (vec_id, subspace, code) code table, the join
    is an equi-join on (subspace, code), and the per-candidate score
    is a sum of PQ_M looked-up cells. That is the production ADC
    plan: at scale the float corpus stays on disk and search runs
    entirely over the compressed codes.

    Per-cell distances use the 9dp assignment rounding; the summed
    score is rounded to 6dp with neighbor_id as the total-order
    tiebreak (the ann.py route convention).

    Recall honesty (measured, not assumed): on THIS corpus —
    isotropic random vectors, the structural worst case for PQ
    because pairwise distances concentrate and the quantization
    error swamps the tiny true-distance gaps — recall@5 vs exact L2
    at the round-12 trained 256×8 operating point is 0.33 (sf0.001) /
    0.49 (sf0.01) / 0.32 (sf0.1), roughly double the K=16 books'
    0.17-0.2. Published PQ recall (Jégou et al. Table II, ~0.9+)
    additionally assumes clustered real embeddings;
    tests/test_round7.py shows this same code hitting recall 1.0 on a
    clustered corpus. The oracle-checked contract here is the ADC
    *plan* (codes-only scan, broadcast LUTs), not a recall claim."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = trained_codebooks(emb)
    q_rows = collect_bounded(
        emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding"),
        20,
        "vec_id",
    )
    # vectorized assembly (numpy columns through Arrow), array form
    # since r13: one row per (query, subspace) carrying the K'-length
    # per-code distance array — |Q|·M = 160 rows broadcast instead of
    # |Q|·M·K = 40,960 (the ivfpq._adc_lut change applied here); the
    # consumer joins on subspace and element_at-indexes by code, the
    # same float at the same code — distance arithmetic unchanged
    kk = books.shape[1]  # K' ≤ PQ_K on small corpora
    qids, dmats = [], []
    for qr in q_rows:
        qv = np.asarray([float(x) for x in qr["embedding"]], dtype=np.float64)
        dmat = np.empty((PQ_M, kk), dtype=np.float64)
        for s in range(PQ_M):
            qs = qv[None, s * _SUB : (s + 1) * _SUB]
            dmat[s] = _round9(sq_l2_fold(qs, books[s])[0])
        qids.append(int(qr["vec_id"]))
        dmats.append(dmat)
    import pandas as _pd

    n_q = len(qids)
    lut_pdf = _pd.DataFrame(
        {
            "query_id": np.repeat(np.asarray(qids, np.int64), PQ_M),
            "subspace": np.tile(np.arange(PQ_M, dtype=np.int32), n_q),
            # .tolist(): plain Python floats — a vanilla (non-Arrow)
            # session cannot infer numpy ndarray cells
            "dlooks": [row.tolist() for d in dmats for row in d],
        }
    )
    lut_df = spark.createDataFrame(
        lut_pdf,
        schema="query_id long, subspace int, dlooks array<double>",
    )
    codes = assign_pq_codes(emb, books).select("vec_id", "subspace", "code")
    # written-order fold over the 8 subspace lookups (NOT F.sum —
    # undefined partial-agg order vs the oracle's fold; round-8
    # advisory, same convention as retrieval.bm25_topk_from_index)
    scored = (
        codes.join(F.broadcast(lut_df), ["subspace"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "subspace",
            F.element_at("dlooks", F.col("code") + 1).alias("dlook"),
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
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
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


def _pq_assign_ctes() -> str:
    """The shared CTE block: subspace split, TRAINED codebooks (the
    unrolled train.lloyd_books_cte rounds, seeded from the first PQ_K
    vectors' slices), and the per-(vec, subspace) code assignment."""
    from data_framework_spark.similarity.train import lloyd_books_cte

    seed = f"""  SELECT vec_id::INTEGER AS cid, subspace,
         list_transform(sub, x -> x::DOUBLE) AS csub
  FROM parts WHERE vec_id < {PQ_K}"""
    return f"""parts AS MATERIALIZED (
  SELECT vec_id, s.s::INTEGER AS subspace,
         list_slice(embedding, s.s * {_SUB} + 1,
                    s.s * {_SUB} + {_SUB}) AS sub
  FROM embeddings, range(0, {PQ_M}) s(s)
),
{lloyd_books_cte(seed, "parts", _SUB, out="cents")},
dist AS (
  SELECT p.vec_id, p.subspace, c.cid,
         round(list_sum(list_transform(range(1, {_SUB} + 1),
               i -> (p.sub[i]::DOUBLE - c.csub[i]::DOUBLE)
                    * (p.sub[i]::DOUBLE - c.csub[i]::DOUBLE))), 9) AS d
  FROM parts p JOIN cents c USING (subspace)
),
assigned AS (
  SELECT vec_id, subspace, cid AS code, d
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, subspace ORDER BY d ASC, cid ASC) AS rn
    FROM dist
  )
  WHERE rn = 1
)"""


_PQ_ASSIGN_CTES = _pq_assign_ctes()


def q_pq_train_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-gain CONTRACT: mean quantization error of the
    sampled SEED codebooks vs the Lloyd-TRAINED ones over the same
    corpus, plus the boolean that training actually helps — the
    round-10 headline claim as a permanent hash-pinned row pair
    instead of a changelog sentence. Two corpus-linear assignment
    passes (the trained books come from the session cache shared with
    q_pq_codes); the oracle re-derives BOTH regimes from scratch, so
    a silent training regression flips `beats_seed` and the hash.

    Mean error = avg over (vec, subspace) of the assigned (= minimum)
    9dp-rounded squared distance, rounded 6dp — the q_pq_codes
    convention; the 24% measured gap dwarfs fold-order ulps."""
    emb = load_table(spark, sf_dir, "embeddings")
    means = {}
    for regime, books in (
        ("seed", _codebooks(emb)),
        ("trained", trained_codebooks(emb)),
    ):
        val = (
            assign_pq_codes(emb, books)
            .agg(F.round(F.avg("err"), 6).alias("m"))
            .collect()[0]["m"]
        )
        means[regime] = float(val)
    beats = means["trained"] < means["seed"]
    return spark.createDataFrame(
        [
            ("seed", means["seed"], beats),
            ("trained", means["trained"], beats),
        ],
        "regime string, mean_sq_err double, beats_seed boolean",
    ).orderBy("regime")


Q_PQ_TRAIN_GAIN_SQL = f"""
WITH {_PQ_ASSIGN_CTES},
seed_dist AS (
  SELECT p.vec_id, p.subspace,
         round(list_sum(list_transform(range(1, {_SUB} + 1),
               i -> (p.sub[i]::DOUBLE - c.csub[i]::DOUBLE)
                    * (p.sub[i]::DOUBLE - c.csub[i]::DOUBLE))), 9) AS d
  FROM parts p JOIN tb0 c USING (subspace)
),
per_regime AS (
  SELECT 'seed' AS regime, round(avg(md), 6) AS mean_sq_err
  FROM (SELECT vec_id, subspace, min(d) AS md
        FROM seed_dist GROUP BY vec_id, subspace)
  UNION ALL
  SELECT 'trained' AS regime, round(avg(d), 6) AS mean_sq_err
  FROM assigned
),
gain AS (
  SELECT (SELECT mean_sq_err FROM per_regime WHERE regime = 'trained')
       < (SELECT mean_sq_err FROM per_regime WHERE regime = 'seed')
       AS beats_seed
)
SELECT regime, mean_sq_err, beats_seed
FROM per_regime CROSS JOIN gain
ORDER BY regime
"""


Q_PQ_ADC_TOPK_SQL = f"""
WITH {_PQ_ASSIGN_CTES},
lut AS (
  SELECT p.vec_id AS query_id, p.subspace, c.cid AS code,
         round(list_sum(list_transform(range(1, {_SUB} + 1),
               i -> (p.sub[i]::DOUBLE - c.csub[i]::DOUBLE)
                    * (p.sub[i]::DOUBLE - c.csub[i]::DOUBLE))), 9) AS dlook
  FROM parts p JOIN cents c USING (subspace)
  WHERE p.vec_id < 20
),
scored AS (
  -- written-order fold in subspace order, mirroring the Spark route's
  -- array_sort + aggregate (never bare sum(): partial-agg order)
  SELECT l.query_id, a.vec_id AS neighbor_id,
         round(list_reduce([0.0::DOUBLE] || list(l.dlook ORDER BY l.subspace),
                           (acc, x) -> acc + x), 6) AS adc_dist
  FROM assigned a
  JOIN lut l ON l.subspace = a.subspace AND l.code = a.code
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id
)
SELECT query_id, neighbor_id, adc_dist, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


Q_PQ_CODES_SQL = f"""
WITH {_PQ_ASSIGN_CTES}
SELECT subspace, code, count(*) AS n_assigned,
       round(avg(d), 6) AS avg_sq_err
FROM assigned
GROUP BY subspace, code
ORDER BY subspace, code
"""
