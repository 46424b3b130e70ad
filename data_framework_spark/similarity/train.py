"""Deterministic distributed Lloyd training for the coarse quantizer
and the PQ codebooks (k-means, Lloyd 1982; the IVFADC training recipe
of Jégou et al. 2011 §IV — train the coarse quantizer on the corpus,
then the product codebooks on the residuals).

Why this exists: the sampled stand-in quantizers were bit-reproducible
in the DuckDB oracle but left recall on the table — the round-9 nprobe
curve hash-pinned cell COVERAGE (how often a true neighbor's cell is
probed at all) as the binding constraint, and coverage is exactly what
Lloyd-refined centroids buy (cells shaped like the data instead of
like 16 arbitrary corpus vectors).

Cross-engine exactness strategy — FIXED-POINT INTEGER SUMS. The Lloyd
mean is the one step a naive port cannot reproduce across engines:
summing doubles is order-dependent, and neither Spark's partial
aggregation nor DuckDB's defines a fold order. Instead of forcing an
ordered fold (a per-group collect_list sort — unbounded group state,
wrong at scale), every coordinate is quantized half-away-from-zero to
a 2^20 fixed-point BIGINT and the cluster sums run over exact
integers: associative, commutative, shuffle-order-independent, and
identical in Spark (`sum(long)`) and DuckDB (`sum(BIGINT)`). The new
centroid coordinate is then ONE double division of exact integers —
`sum / (n · 2^20)` — which IEEE 754 rounds identically everywhere. No
lossy rounding is applied to the centroid itself; the established 9dp
rounding on cosines/distances (ivf.py conventions) absorbs the
remaining GEMM-vs-list_sum ulp noise exactly as it does for the
sampled quantizers. Quantizing the TRAINING inputs to 2^-20 granularity
perturbs the learned centroids by ~1e-6 — irrelevant to quality, and
both engines see the identical perturbation.

Scale shape: each Lloyd round is ONE Spark job over the corpus (two
where the scan is widened: the repartition's map stage, then the
result stage). Every task folds all of its Arrow batches into a
single int64 tensor of shape (M, K, w+1) — per subspace and code,
the w fixed-point coordinate sums plus the member count — and emits
it as one `binary` row; a task that saw no rows emits nothing. The
driver collects the P rows (one per task) and sums them exactly. No
corpus shuffle, no groupBy over partials, no unbounded group state:
rounds × one scan. The driver holds P partials of M·K·(w+1)·8 bytes —
147 KB per task for the PQ books at K=256 (M=8, w=8), 17 KB for a
32-cell coarse quantizer at dim 64; about 0.6 MB in total for the
10× corpus at 4 cores. Empty clusters keep their previous centroid
(the usual k-means convention, mirrored by a LEFT JOIN + coalesce in
the oracle CTEs).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

FP_SCALE = 1048576.0  # 2^20: exact in double; 64-dim sums stay << 2^53

#: Lloyd rounds for the coarse quantizer / the PQ codebooks. Two
#: rounds capture most of the k-means gain at these cell counts (the
#: measured coverage/recall deltas live in SURVEY §8); every extra
#: round costs one corpus pass AND one unrolled CTE block in every
#: consuming oracle, so the default stays small and explicit.
COARSE_ROUNDS = 2
BOOK_ROUNDS = 2


def _fixed_point(x: np.ndarray) -> np.ndarray:
    """Half-away-from-zero fixed-point quantization to int64 —
    bitwise `CAST(round(x * 1048576.0, 0) AS BIGINT)` in DuckDB."""
    xq = x * FP_SCALE
    return (np.sign(xq) * np.floor(np.abs(xq) + 0.5)).astype(np.int64)


def _lloyd_round(
    parts: DataFrame, vec_col: str, assign, shape: tuple[int, int, int]
) -> np.ndarray:
    """One Lloyd round as one Spark job: the exact (M, K, w+1) int64
    partial-sum tensor over every row of `parts[vec_col]`. `assign`
    maps an (n, M·w) float64 batch to its (n, M) cluster ids; slot w
    of each (subspace, code) row is the member count."""
    m, k, w = shape

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            XI = _fixed_point(X)
            codes = assign(X)
            if acc is None:
                acc = np.zeros((m, k, w + 1), dtype=np.int64)
            for s in range(m):
                np.add.at(acc[s, :, :w], codes[:, s], XI[:, s * w : (s + 1) * w])
                acc[s, :, w] += np.bincount(codes[:, s], minlength=k)
        if acc is not None:
            yield pd.DataFrame({"p": [acc.tobytes()]})

    total = np.zeros((m, k, w + 1), dtype=np.int64)
    for r in parts.mapInPandas(gen, schema="p binary").collect():
        total += np.frombuffer(r["p"], dtype=np.int64).reshape(total.shape)
    return total


def _lloyd_update(prev: np.ndarray, total: np.ndarray) -> np.ndarray:
    """New (M, K, w) centroids from a round's exact sums: ONE double
    division of exact integers per coordinate; empty clusters keep
    their previous centroid."""
    n = total[:, :, -1]
    live = n > 0
    new = prev.copy()
    new[live] = total[:, :, :-1][live] / (n[live][:, None] * FP_SCALE)
    return new


def lloyd_coarse_centroids(
    emb: DataFrame, seed: list, rounds: int = COARSE_ROUNDS
) -> list:
    """Lloyd-refine `seed` (list of dim-length float lists) against the
    (vec_id, embedding) corpus: cosine argmax assignment (the ivf.py
    9dp/ties-to-smallest convention), fixed-point mean update."""
    from data_framework_spark.similarity.ivf import _rounded_centroid_cosines
    from data_framework_spark.sources.tables import widen_scan

    cents = np.asarray(seed, dtype=np.float64)[None]  # (1, ncells, dim)
    # widen past the one-row-group test scan (no-op at scale); the
    # partials are FIXED-POINT INTEGER sums, so the partition layout
    # cannot change a single bit of the trained centroids
    parts = widen_scan(emb.select("embedding"))
    for _ in range(rounds):
        cos_matrix = _rounded_centroid_cosines(cents[0])

        def assign(X: np.ndarray) -> np.ndarray:
            return cos_matrix(X).argmax(axis=1)[:, None]

        cents = _lloyd_update(
            cents, _lloyd_round(parts, "embedding", assign, cents.shape)
        )
    return cents[0].tolist()


def lloyd_subspace_books(
    df: DataFrame, vec_col: str, books: np.ndarray, rounds: int = BOOK_ROUNDS
) -> np.ndarray:
    """Lloyd-refine per-subspace codebooks (M, K, SUB) against the
    vectors in `df[vec_col]`: 9dp-rounded squared-L2 argmin assignment
    (the pq.assign_pq_codes convention, sequential fold), fixed-point
    mean update per (subspace, code)."""
    from data_framework_spark.similarity.pq import _round9, sq_l2_fold
    from data_framework_spark.sources.tables import widen_scan

    books = np.asarray(books, dtype=np.float64)
    M, K, SUB = books.shape
    # widened for the same reason as lloyd_coarse_centroids above
    parts = widen_scan(df.select(vec_col))
    for _ in range(rounds):

        def assign(X: np.ndarray) -> np.ndarray:
            codes = np.empty((len(X), M), dtype=np.int64)
            for s in range(M):
                d = sq_l2_fold(X[:, s * SUB : (s + 1) * SUB], books[s])
                codes[:, s] = np.argmin(_round9(d), axis=1)
            return codes

        books = _lloyd_update(
            books, _lloyd_round(parts, vec_col, assign, books.shape)
        )
    return books


# --- DuckDB oracle CTE builders (the same training, unrolled) ---------------


def lloyd_cents_cte(
    ncells: int,
    rounds: int = COARSE_ROUNDS,
    dim: int = 64,
    rel: str = "embeddings",
    out: str = "cent",
    prefix: str = "tc",
) -> str:
    """CTE chain deriving the Lloyd-trained coarse quantizer from
    scratch in SQL, ending in `{out} (cid, embedding, cn)` — the
    drop-in for the sampled `cent` CTE the IVFPQ oracles used. Assumes
    an `nrm (vec_id, embedding, n)` CTE is already defined. Each round
    is the exact mirror of one lloyd_coarse_centroids round: 9dp
    rounded-cosine argmax (ties to smallest cid), fixed-point BIGINT
    sums, one double division, empty cells keep their centroid."""
    fp = f"{FP_SCALE:.1f}"
    ctes = [
        f"""{prefix}0 AS (
  SELECT vec_id::INTEGER AS cid,
         list_transform(embedding, x -> x::DOUBLE) AS cent
  FROM {rel} WHERE vec_id < {ncells}
)"""
    ]
    for r in range(1, rounds + 1):
        p = f"{prefix}{r - 1}"
        dot = (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> e.embedding[i]::DOUBLE * c.cent[i]))"
        )
        ctes.append(f"""{prefix}n{r} AS (
  SELECT cid, cent,
         sqrt(list_sum(list_transform(cent, x -> x * x))) AS cn
  FROM {p}
),
{prefix}c{r} AS (
  SELECT e.vec_id, c.cid, round({dot} / (e.n * c.cn), 9) AS d
  FROM nrm e CROSS JOIN {prefix}n{r} c
),
{prefix}a{r} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
    FROM {prefix}c{r}
  ) WHERE rn = 1
),
{prefix}s{r} AS (
  SELECT a.cell, p.i AS pos,
         sum(CAST(round(e.embedding[p.i]::DOUBLE * {fp}, 0) AS BIGINT)) AS sv,
         count(*) AS nn
  FROM {prefix}a{r} a JOIN {rel} e USING (vec_id), range(1, {dim + 1}) p(i)
  GROUP BY a.cell, p.i
),
{prefix}m{r} AS (
  SELECT cell, list(sv::DOUBLE / (nn * {fp}) ORDER BY pos) AS cent
  FROM {prefix}s{r} GROUP BY cell
),
{prefix}{r} AS (
  SELECT c.cid, coalesce(m.cent, c.cent) AS cent
  FROM {p} c LEFT JOIN {prefix}m{r} m ON m.cell = c.cid
)""")
    ctes.append(f"""{out} AS (
  SELECT cid, cent AS embedding,
         sqrt(list_sum(list_transform(cent, x -> x * x))) AS cn
  FROM {prefix}{rounds}
)""")
    return ",\n".join(ctes)


def lloyd_books_cte(
    seed_cte: str,
    parts: str,
    sub: int,
    rounds: int = BOOK_ROUNDS,
    out: str = "pcents",
    prefix: str = "tb",
) -> str:
    """CTE chain deriving Lloyd-trained per-subspace codebooks from
    scratch in SQL, ending in `{out} (cid, subspace, csub)`. `seed_cte`
    is the body of the round-0 codebook SELECT (must yield (cid,
    subspace, csub) with csub a DOUBLE list); `{parts}` must be a CTE
    of (vec_id, subspace, sub). Mirrors lloyd_subspace_books: 9dp
    squared-L2 argmin (ties to smallest code), fixed-point sums,
    empty codes keep their entry."""
    fp = f"{FP_SCALE:.1f}"
    ctes = [f"{prefix}0 AS (\n{seed_cte}\n)"]
    for r in range(1, rounds + 1):
        p = f"{prefix}{r - 1}"
        sqd = (
            f"round(list_sum(list_transform(range(1, {sub} + 1),"
            f" i -> (p.sub[i]::DOUBLE - c.csub[i])"
            f" * (p.sub[i]::DOUBLE - c.csub[i]))), 9)"
        )
        ctes.append(f"""{prefix}d{r} AS (
  SELECT p.vec_id, p.subspace, p.sub, c.cid, {sqd} AS d
  FROM {parts} p JOIN {p} c USING (subspace)
),
{prefix}a{r} AS (
  SELECT vec_id, subspace, sub, cid AS code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, subspace ORDER BY d ASC, cid ASC) AS rn
    FROM {prefix}d{r}
  ) WHERE rn = 1
),
{prefix}s{r} AS (
  SELECT subspace, code, p.i AS pos,
         sum(CAST(round(sub[p.i]::DOUBLE * {fp}, 0) AS BIGINT)) AS sv,
         count(*) AS nn
  FROM {prefix}a{r}, range(1, {sub} + 1) p(i)
  GROUP BY subspace, code, p.i
),
{prefix}m{r} AS (
  SELECT subspace, code, list(sv::DOUBLE / (nn * {fp}) ORDER BY pos) AS csub
  FROM {prefix}s{r} GROUP BY subspace, code
),
{prefix}{r} AS (
  SELECT c.subspace, c.cid, coalesce(m.csub, c.csub) AS csub
  FROM {p} c LEFT JOIN {prefix}m{r} m
    ON m.subspace = c.subspace AND m.code = c.cid
)""")
    ctes.append(
        f"{out} AS (\n  SELECT cid, subspace, csub FROM {prefix}{rounds}\n)"
    )
    return ",\n".join(ctes)
