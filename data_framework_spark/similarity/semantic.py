"""SemDeDup-style semantic deduplication: cluster the embedding
space, then deduplicate WITHIN clusters by cosine similarity.

Extension layer (SURVEY.md §7 phase 5) — the third dedup family next
to exact (dedup/exact.py) and lexical near-dup (dedup/minhash.py,
dedup/simhash.py): semantic duplicates (paraphrases, re-encodings,
translations) share no n-grams but sit close in embedding space.
The published recipe (Abbas et al. 2023, "SemDeDup", arXiv:2303.09540
§2) is k-means over embeddings, then pairwise cosine only within each
cluster, keeping one representative per duplicate group — the cluster
step is what bounds the otherwise-quadratic pair enumeration.

This implementation keeps the published structure but makes every
step engine-portable so the DuckDB oracle computes the identical
arithmetic:

- centroids are the embeddings of the K_CLUSTERS smallest vec_ids — a
  deterministic stand-in for k-means centers (the cluster step only
  needs to PARTITION the space; dedup quality depends on the
  within-cluster threshold, not centroid optimality; a k-means||
  refinement drops in without touching the dedup contract);
- assignment = argmax centroid cosine, rounded to 6dp with ties to
  the smaller centroid id (total order, both engines);
- within a cluster, a vector is a removable duplicate iff some
  SMALLER vec_id in the same cluster has cosine ≥ DUP_COS with it
  (greedy keep-lowest-id, the same convention as the exact-dedup
  representative choice in dedup/exact.py).

Scale posture: the centroid frame is K rows — broadcast; assignment
is a broadcast nested-loop over K per vector (linear, no shuffle);
the pair join shuffles once on the cluster id and enumerates pairs
only within clusters, so with K ≈ √N-scaled cluster counts the pair
work is ~N²/K instead of N² (at 100 TB, K grows with N and each
cluster's members fit one task; skewed clusters would take the same
salting treatment as any skewed join key). Nothing collects to the
driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_framework_spark.similarity.ann import cosine, dot, l2_norm
from data_framework_spark.sources.tables import collect_bounded, load_table

# SCALING POLICY (r10 measurement, SURVEY §8): SemDeDup's
# within-cluster pairwise step is quadratic in CLUSTER SIZE by design,
# so with K fixed, 10× rows = 100× pair work (measured 9.4× wall at
# 10× rows — the only op near the linear ceiling). At scale grow
# K ~ N/const (SemDeDup's own recipe: cluster size, and therefore the
# pairwise term per cluster, stays bounded; assignment stays one
# broadcast-K GEMM pass). K is pinned at 32 here because the oracle
# contract pins SEMANTICS at a fixed K, not the scaling policy.
K_CLUSTERS = 32
# the synthetic embeddings are isotropic-random (pairwise-cosine tail
# ~0.5, see q_embedding_near_dups) — 0.40 is the same "near" bar used
# there; real sentence embeddings would use ~0.95+
DUP_COS = 0.40


def _pair_cosines(
    X: np.ndarray, nx: np.ndarray, C: np.ndarray, Cn: np.ndarray
) -> np.ndarray:
    """SHAPE-INDEPENDENT per-pair cosines: einsum('id,jd->ij') reduces
    the dim axis per (vector, centroid) pair in a fixed order that
    does not depend on the batch size or the centroid subset handed in
    (property-pinned in tests/test_round13.py), so every assignment
    route — flat GEMM, hierarchical pruned, sharded — produces the
    IDENTICAL float for any evaluated pair. A BLAS GEMM's blocked
    summation is shape-dependent: a subset product X[rows] @ C[mem].T
    can differ from the full product by ~1 ulp, enough to round a
    cosine sitting on a 1e-6 half-way point differently between
    routes (r12 advisory — this helper replaces the per-route
    matmuls and retires that residual)."""
    return np.einsum("id,jd->ij", X, C) / (nx[:, None] * Cn[None, :])


def _round6(cos: np.ndarray) -> np.ndarray:
    """Half-away-from-zero 6dp rounding (SQL round() semantics), the
    one rounding every assignment route shares."""
    return np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6


def _seed_centroids(emb: DataFrame) -> DataFrame:
    """(cent_id, cent): the deterministic smallest-vec_id stand-in."""
    return emb.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )


def _assign_clusters(emb: DataFrame, cents: DataFrame | None = None) -> DataFrame:
    """(vec_id, embedding, cluster): argmax centroid cosine (6dp,
    ties to the smaller centroid id). The centroid frame is K rows —
    broadcast; assignment is linear in N with no shuffle before the
    per-vector argmax aggregate."""
    if cents is None:
        cents = _seed_centroids(emb)
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cent_id",
        F.round(cosine(F.col("embedding"), F.col("cent")), 6).alias("ccos"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("ccos"), (-F.col("cent_id")).alias("neg"))
            ).alias("best"),
            F.first("embedding").alias("embedding"),
        )
        .select(
            "vec_id", "embedding", (-F.col("best.neg")).alias("cluster")
        )
    )


def lloyd_refine(emb: DataFrame, cents: DataFrame, rounds: int = 1) -> DataFrame:
    """Lloyd k-means refinement of a centroid frame: each round
    reassigns every vector to its argmax-cosine centroid, then
    replaces each centroid with its cluster's coordinate-wise mean.
    All JVM-side: the mean is a posexplode → (cluster, pos) avg →
    ordered re-collect (struct array_sort), one corpus-linear shuffle
    per round — the standard distributed Lloyd step. An empty cluster
    keeps its previous centroid (left join + coalesce), the usual
    k-means convention.

    This is the documented drop-in the stand-in centroids promised
    (round-6 verdict #6): it changes cluster QUALITY only — the dedup
    contract (assignment argmax, within-cluster pairs) is untouched,
    so the oracle surface stays on the deterministic seed."""
    for _ in range(rounds):
        assigned = _assign_clusters(emb, cents)
        means = (
            assigned.select(
                "cluster", F.posexplode("embedding").alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("m")))
                    ),
                    lambda s: s.getField("m").cast("float"),
                ).alias("new_cent")
            )
        )
        cents = (
            cents.join(
                means.withColumnRenamed("cluster", "cent_id"), "cent_id", "left"
            )
            .select(
                "cent_id",
                F.coalesce(F.col("new_cent"), F.col("cent")).alias("cent"),
            )
        )
    return cents


def assign_clusters_kmeans(emb: DataFrame, rounds: int = 1) -> DataFrame:
    """(vec_id, embedding, cluster) with Lloyd-refined centroids —
    the non-oracle quality variant; compare against the stand-in via
    cluster purity (tests/test_round7.py reports the delta)."""
    return _assign_clusters(emb, lloyd_refine(emb, _seed_centroids(emb), rounds))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster semantic-dedup accounting: members per cluster and
    how many are removable duplicates (a smaller-id member within
    cosine ≥ DUP_COS exists in the same cluster). The K-row output is
    the audit a semantic-dedup stage ships with."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # r17 optimization (guide §4.1/§4.2): assignment now runs through
    # the SAME routed exact engine as the scaled variant
    # (assign_clusters_auto → the Arrow einsum GEMM with the
    # hier pruning) instead of the K-way crossJoin of interpreted
    # HOF cosines — the two engines' 6dp-rounded argmax is the
    # pinned route-parity invariant (tests/test_round12/13/15 plus
    # the r17 fixed-K pin in tests/test_round17.py), and the DuckDB
    # oracle re-derives the same assignment relationally. Measured
    # 2.34 → ~1.6 s warm at sf0.1; at scale the win is the r11/r12
    # FLOP analysis (N·K HOF evaluations → batched GEMM).
    assigned = assign_clusters_auto(
        emb, _seed_centroids(emb), k=K_CLUSTERS
    )
    return _cluster_dedup_counts(assigned)


def _count_removed(X: np.ndarray, blk_elems: int = 4_000_000) -> int:
    """Members of one cluster (rows of X, ASCENDING vec_id order) that
    have a smaller-id neighbor at 6dp-rounded cosine ≥ DUP_COS.

    Chunked over ROW blocks (r18, the r17 advisory): the former
    one-shot n×n float64 matrix + n×n mask held ~7.7 GB in a single
    task at ~31k members (the fixed-K contract's cluster size grows
    ~N/K), where the old self-join could at least spill; streaming
    blocks of rows against the full column prefix caps peak memory at
    O(block·n) while `_pair_cosines`' shape-independent einsum
    guarantees every evaluated pair the IDENTICAL float the full
    matrix would yield (the r13 parity property; chunked == full
    pinned in tests/test_round18.py). Row 0 can never be removed."""
    n = len(X)
    nrm = np.sqrt((X * X).sum(axis=1))
    removed = 0
    blk = max(1, blk_elems // n)  # ≤ ~32 MB of float64 per block
    for s in range(1, n, blk):
        e = min(s + blk, n)
        r6 = _round6(_pair_cosines(X[s:e], nrm[s:e], X[:e], nrm[:e]))
        hit = (r6 >= DUP_COS) & (
            np.arange(e)[None, :] < np.arange(s, e)[:, None]
        )
        removed += int(hit.any(axis=1).sum())
    return removed


def _cluster_dedup_counts(assigned: DataFrame) -> DataFrame:
    """(cluster, n_members, n_removed) — the within-cluster duplicate
    accounting, ONE cluster-cogrouped Arrow kernel per cluster instead
    of the former self-join of interpreted HOF cosines + distinct +
    left join + re-aggregate (r17, guide §4.2): the kernel computes
    every member-pair cosine with the SHARED shape-independent
    `_pair_cosines` einsum (the r13 bitwise-parity reduction every
    assignment route already uses) and counts members that have a
    smaller-id neighbor at 6dp-rounded cosine ≥ DUP_COS — exactly the
    former dup_ids semantics (b_id is a dup iff ∃ a_id < b_id in the
    cluster with round6(cos) ≥ DUP_COS). Within-cluster work stays
    quadratic in CLUSTER SIZE by design (the module-docstring scaling
    policy: K grows with N so the per-task GEMM stays bounded); the
    plan drops from 3 corpus exchanges + a pair-sized shuffle to one
    cluster-keyed exchange. Measured 2.34 → ~1.0 s warm at sf0.1 on
    the fixed-K contract (with the routed assignment switch); the
    DuckDB oracle re-derives the identical accounting relationally."""

    def counts(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = pdf["cluster"].iloc[0]
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        X = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        n = len(X)
        if n == 1:
            return pd.DataFrame(
                {"cluster": [cluster], "n_members": [1], "n_removed": [0]}
            )
        removed = _count_removed(X)
        return pd.DataFrame(
            {
                "cluster": [cluster],
                "n_members": [n],
                "n_removed": [removed],
            }
        )

    return (
        assigned.groupBy("cluster")
        .applyInPandas(counts, "cluster long, n_members long, n_removed long")
        .orderBy("cluster")
    )


_COS_SQL = (
    "round("
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
    "    * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))), 6)"
)

_ASSIGNED_CTES = f"""cents AS (
  SELECT vec_id AS cent_id, embedding AS cent
  FROM embeddings WHERE vec_id < {K_CLUSTERS}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         {_COS_SQL.format(a="e.embedding", b="c.cent")} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, cent_id AS cluster
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
    FROM scored
  )
  WHERE rn = 1
)"""

Q_SEMANTIC_DEDUP_SQL = f"""
WITH {_ASSIGNED_CTES},
dup_ids AS (
  SELECT DISTINCT a.cluster, b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a="a.embedding", b="b.embedding")} >= {DUP_COS}
)
SELECT s.cluster,
       count(*) AS n_members,
       sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_removed
FROM assigned s
LEFT JOIN dup_ids d ON s.cluster = d.cluster AND s.vec_id = d.vec_id
GROUP BY s.cluster
ORDER BY s.cluster
"""


# --- scale-path variant: K grows with N (round-10 verdict ask 3) -----------

# the constant in K ~ N/const: target mean cluster size. With cluster
# size bounded at ~TARGET the within-cluster pairwise term is
# O(N · TARGET) — linear in N — instead of O(N²/K_fixed).
TARGET_CLUSTER_SIZE = 64


def scaled_k(n: int) -> int:
    """K ~ N/const, the SemDeDup production policy: ceil(N/64), min 1.
    Matches the oracle's `greatest(1, ceil(count(*)/64.0))` exactly
    (both compute one exact integer ceiling)."""
    return max(1, -(-n // TARGET_CLUSTER_SIZE))


def _assign_clusters_arrow(emb: DataFrame, cents_rows: list) -> DataFrame:
    """(vec_id, embedding, cluster) via ONE Arrow GEMM pass — the
    ivf.assign_cells shape. The crossJoin-of-HOF-cosines form of
    `_assign_clusters` is N·K Catalyst expression evaluations; fine at
    the contract's fixed K, but under the K~N/const policy assignment
    IS the dominant term (first 10× measurement of the scaled variant:
    127 s, 58× — worse than the fixed-K 22 s it was meant to fix) and
    must be a batched matrix product. Same arithmetic contract as the
    HOF form: cosine rounded half-away to 6dp, argmax ties to the
    smallest cent_id (np.argmax takes the first max; centroids arrive
    sorted by cent_id). The K-row centroid collect is bounded
    (K = N/64 of a sampled id range); the FLOP term is O(N·K) — see
    `_assign_clusters_hier` for the pruned exact route that removes
    it (round-11 verdict ask 3)."""
    from pyspark.sql.functions import pandas_udf

    if not cents_rows:
        raise ValueError(
            "semantic-dedup assignment needs at least one centroid row "
            "(empty cents_rows: the embeddings table has no vec_id "
            "below the derived K — empty or id-sparse corpus)"
        )
    cids = np.asarray([int(r[0]) for r in cents_rows], dtype=np.int64)
    C = np.asarray(
        [[float(x) for x in r[1]] for r in cents_rows], dtype=np.float64
    )
    assert (np.diff(cids) > 0).all(), "centroids must be cent_id-sorted"
    Cn = np.sqrt((C * C).sum(axis=1))
    if not (Cn > 0).all():
        # a zero-norm centroid makes its cosine NaN; np.argmax would
        # then return ITS index for every vector (NaN propagates as
        # max) while the pruned route would skip it — degenerate input
        # both routes refuse identically (r12 review)
        raise ValueError("zero-norm centroid in semantic-dedup assignment")

    @pandas_udf("long")
    def cluster_of(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:  # empty Arrow batch: np.stack([]) raises
            return pd.Series([], dtype="int64")
        X = np.stack(embs.to_numpy()).astype(np.float64)
        n = np.sqrt((X * X).sum(axis=1))
        r6 = _round6(_pair_cosines(X, n, C, Cn))
        return pd.Series(cids[r6.argmax(axis=1)])

    return emb.withColumn("cluster", cluster_of(F.col("embedding")))


def _hier_coarse_index(cids: np.ndarray, C: np.ndarray) -> dict:
    """Coarse-over-centroids pruning index (driver-side numpy over the
    bounded K-row centroid set): spherical k-means of the K centroids
    into G = ceil(sqrt(K)) coarse cells, plus each cell's angular
    radius (max member angle to the cell center, with fp slack).

    The coarse structure affects only SEARCH ORDER and PRUNING, never
    the result — `_assign_clusters_hier` is exact (bound-based, not
    nprobe-truncated) — so this k-means needs no cross-engine
    determinism, no fixed-point sums, and no seed discipline beyond
    being deterministic in-process (seeds = the first G centroids)."""
    K, dim = C.shape
    G = max(1, int(np.ceil(np.sqrt(K))))
    Cn = np.sqrt((C * C).sum(axis=1))
    Cu = C / Cn[:, None]
    M = Cu[:G].copy()
    for _ in range(4):
        Mu = M / np.sqrt((M * M).sum(axis=1))[:, None]
        a = (Cu @ Mu.T).argmax(axis=1)
        for g in range(G):
            mem = a == g
            if mem.any():
                m = Cu[mem].mean(axis=0)
                nrm = np.sqrt((m * m).sum())
                if nrm > 0:
                    M[g] = m / nrm
    Mu = M / np.sqrt((M * M).sum(axis=1))[:, None]
    a = (Cu @ Mu.T).argmax(axis=1)
    members, radius = [], np.zeros(G)
    for g in range(G):
        mem = np.where(a == g)[0]  # ascending centroid index = cid order
        members.append(mem)
        if len(mem):
            d = np.clip(Cu[mem] @ Mu[g], -1.0, 1.0)
            radius[g] = float(np.arccos(d).max()) + 1e-7
    return {"Mu": Mu, "members": members, "radius": radius}


def _assign_clusters_hier(emb: DataFrame, cents_rows: list) -> DataFrame:
    """(vec_id, embedding, cluster) via an EXACT hierarchical search —
    the IVF shape applied to the centroid set itself (round-11 verdict
    ask 3): a coarse quantizer over the K centroids prunes which
    centroids each vector is scored against, removing the flat GEMM's
    O(N·K) FLOP term wherever the embedding space has structure.

    Exactness (not nprobe-truncation): for a vector x and a coarse
    cell g with unit center m_g and angular radius r_g, every member
    centroid c ∈ g satisfies angle(x, c) ≥ angle(x, m_g) − r_g, so
    cos(x, c) ≤ cos(max(0, θ_xg − r_g)) — the spherical triangle
    inequality. A cell whose bound falls ≥ 2e-6 below the best raw
    cosine already seen cannot contain the 6dp-rounded argmax (two
    raws more than 2e-6 apart can never round equal at 1e-6
    granularity), so skipping it is lossless: this route returns the
    SAME cluster for every vector as the flat `_assign_clusters_arrow`
    GEMM on any corpus with nonzero-norm vectors, clustered or not
    (route-parity additionally test-pinned on the shipped corpora + a
    clustered one + a boundary-stress one + a two-level corpus where
    pruning actually skips most cells, tests/test_round12.py;
    zero-norm CENTROIDS are refused identically by both routes, and a
    zero-norm VECTOR is outside the contract — the flat route's NaN
    argmax picks cids[0] for it, an input no real embedding table
    produces). Ties keep the
    flat-route convention (6dp argmax, ties to smallest cent_id; each
    cell's members are scored in ascending-cid blocks with first-max
    argmax).

    Member cosines are computed with the SHARED shape-independent
    per-pair reduction (`_pair_cosines`: einsum over float64 in fixed
    dim order, raw C, not pre-normalized) — so an evaluated (vector,
    centroid) pair yields BITWISE the float every other route yields
    for it, regardless of batch shape or member subset (since r13;
    the pre-r13 BLAS subset-GEMMs could differ from the flat product
    by ~1 ulp at a 6dp half-way point — the r12 advisory this
    retires). Only the bound arithmetic uses unit vectors, and the
    bound carries fp slack (radius +1e-7, margin 2e-6).

    Cost shape: one N×G coarse GEMM (G = √K) + per-cell member GEMMs
    for only the cells that survive pruning. On clustered embeddings
    (the real-corpus case) most vectors evaluate ~1 cell → O(N·√K)
    FLOPs, the quadratic term gone; on isotropic random vectors
    (the shipped synthetic corpora — cosine concentration makes every
    bound loose) pruning degenerates and the route does the flat
    GEMM's work plus the coarse pass, which is the honest worst case
    (measured in SURVEY §8, the OPQ-ablation precedent). The K-row
    centroid collect still bounds the driver at K = N/64; past that,
    `_assign_clusters_sharded` (below) runs the SAME bound-pruned
    exact search with the centroid frame sharded per coarse cell —
    no K-row collect or broadcast anywhere, √K-bounded driver state,
    bitwise result parity — built and measured in r13
    (scripts/measure_sharded_assign.py, SURVEY §8)."""
    from pyspark.sql.functions import pandas_udf

    if not cents_rows:
        raise ValueError(
            "semantic-dedup assignment needs at least one centroid row "
            "(empty cents_rows: the embeddings table has no vec_id "
            "below the derived K — empty or id-sparse corpus)"
        )
    cids = np.asarray([int(r[0]) for r in cents_rows], dtype=np.int64)
    C = np.asarray(
        [[float(x) for x in r[1]] for r in cents_rows], dtype=np.float64
    )
    assert (np.diff(cids) > 0).all(), "centroids must be cent_id-sorted"
    Cn = np.sqrt((C * C).sum(axis=1))
    if not (Cn > 0).all():
        # same refusal as the flat route (whose NaN argmax would
        # otherwise diverge from the pruned search on this input)
        raise ValueError("zero-norm centroid in semantic-dedup assignment")
    idx = _hier_coarse_index(cids, C)
    Mu, members, radius = idx["Mu"], idx["members"], idx["radius"]
    G = len(members)

    @pandas_udf("long")
    def cluster_of(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:  # empty Arrow batch: np.stack([]) raises
            return pd.Series([], dtype="int64")
        X = np.stack(embs.to_numpy()).astype(np.float64)
        n = len(X)
        nx = np.sqrt((X * X).sum(axis=1))
        Xu = X / nx[:, None]
        theta = np.arccos(np.clip(Xu @ Mu.T, -1.0, 1.0))  # (n, G)
        ub = np.cos(np.maximum(theta - radius[None, :], 0.0))
        best_raw = np.full(n, -np.inf)
        best6 = np.full(n, -np.inf)
        best_cid = np.full(n, np.iinfo(np.int64).max)
        done = np.zeros((n, G), dtype=bool)

        def eval_cell(rows: np.ndarray, g: int) -> None:
            mem = members[g]
            raw = _pair_cosines(X[rows], nx[rows], C[mem], Cn[mem])
            r6 = _round6(raw)
            j = r6.argmax(axis=1)  # first max → smallest cid in cell
            c6 = r6[np.arange(len(rows)), j]
            cc = cids[mem][j]
            better = (c6 > best6[rows]) | (
                (c6 == best6[rows]) & (cc < best_cid[rows])
            )
            upd = rows[better]
            best6[upd] = c6[better]
            best_cid[upd] = cc[better]
            best_raw[rows] = np.maximum(best_raw[rows], raw.max(axis=1))
            done[rows, g] = True

        nonempty = [g for g in range(G) if len(members[g])]
        # pass 1: each vector's most-promising nonempty cell
        ub_live = ub[:, nonempty]
        g0 = np.asarray(nonempty)[ub_live.argmax(axis=1)]
        for g in np.unique(g0):
            eval_cell(np.where(g0 == g)[0], int(g))
        # pass 2: sweep the rest, re-pruning as best_raw tightens
        for g in sorted(nonempty, key=lambda g: -float(ub[:, g].max())):
            rows = np.where(~done[:, g] & (ub[:, g] >= best_raw - 2e-6))[0]
            if len(rows):
                eval_cell(rows, int(g))
        return pd.Series(best_cid)

    return emb.withColumn("cluster", cluster_of(F.col("embedding")))


def _assign_clusters_sharded(
    emb: DataFrame, cents: DataFrame, rounds: int = 4, salt: int = 1
) -> DataFrame:
    """(vec_id, embedding, cluster) with the centroid frame SHARDED
    per coarse cell — the escape past `_assign_clusters_hier`'s K-row
    driver collect (r12 verdict ask 2, demonstrated + measured in
    scripts/measure_sharded_assign.py / SURVEY §8). `cents` is a
    DataFrame (cent_id, cent): it is never collected or broadcast
    whole; the only driver-side artifacts are G = ceil(√K) coarse
    centers and their radii — bounded at √K rows no matter how large
    K grows, so K = 10⁸ centroids (N ~ 10¹⁰ docs at the N/64 policy)
    costs the driver a 10⁴-row collect instead of a 10⁸-row one.

    Same exactness contract as the hier route, distributed:

    - coarse structure: G seed centers (smallest cent_ids, bounded
      collect) refined by `rounds` Lloyd passes OVER THE CENTROID
      FRAME (per-round: one K-row assignment job + a G·dim-row mean
      collect, re-normalized driver-side — norm-weighted means, a
      pruning-only difference from the driver route's unit-vector
      means); each centroid's cell and its angle to the cell center
      come back as columns, radii via groupBy(cell).max — coarse
      structure affects only pruning, never the result, so this
      distributed Lloyd needs no cross-engine determinism;
    - phase A: every vector evaluates its top-upper-bound cell's
      members via a cell-cogrouped applyInPandas (vectors shuffled on
      their probe cell, centroid shard shuffled on its cell — no
      broadcast), yielding a per-vector lower bound best_raw;
    - phase B: cells whose spherical-triangle-inequality upper bound
      reaches best_raw − 2e-6 (the hier route's lossless margin;
      phase B prunes one-shot against the phase-A bound instead of
      progressively, evaluating a superset of the hier route's pairs
      — more work, same argmax) are exploded into (vec_id, cell)
      candidates and scored through the same cogroup;
    - combine: max by (6dp cosine desc, cent_id asc) across every
      evaluated cell — the shared tie convention.

    Every evaluated pair's cosine comes from `_pair_cosines` (shape-
    independent einsum), so this route returns BITWISE the cluster of
    the flat and hier routes on any corpus with nonzero-norm vectors
    (parity pinned in tests/test_round13.py on the shipped, clustered,
    two-level, and tie corpora, plus hypothesis sweeps).

    Cost shape: coarse pass O(N·G) + evaluated-member cogroups; on
    clustered corpora most vectors ship to ~1 cell. The honest worst
    case (isotropic corpus, bounds loose) explodes ~G candidate cells
    per vector — N·√K (vec_id, embedding) rows shuffled — which is
    why the broadcastable-K regimes should stay on the hier route;
    this route exists for K past driver/broadcast scale, where there
    is no flat alternative (measured both regimes, SURVEY §8). A
    pathologically hot coarse cell (most vectors probing one cell's
    shard) is an ordinary skewed-join-key problem, treated by
    `salt` > 1 (r13 verdict ask 5): vectors carry
    pmod(vec_id, salt), each cell's centroid shard is replicated once
    per salt value, and both cogroups key on (cell, salt) — a hot
    cell's vector population splits across `salt` tasks while every
    vector still scores against the cell's FULL member set, so the
    result is bitwise invariant in `salt` (pinned on a deliberately
    hot-cell corpus in tests/test_round14.py). Cost: the shard side
    is written `salt`× into the cogroup shuffle — size it to the
    observed hot-cell excess, not defensively; the shipped corpora's
    coarse cells are balanced, so the default stays 1."""
    from pyspark.sql.functions import pandas_udf

    k = cents.count()
    if k == 0:
        raise ValueError(
            "semantic-dedup assignment needs at least one centroid row "
            "(empty centroid frame: the embeddings table has no vec_id "
            "below the derived K — empty or id-sparse corpus)"
        )
    G = max(1, int(np.ceil(np.sqrt(k))))
    seed_rows = cents.orderBy("cent_id").limit(G).collect()
    M = np.asarray(
        [[float(x) for x in r["cent"]] for r in seed_rows], dtype=np.float64
    )
    Mn = np.sqrt((M * M).sum(axis=1))
    if not (Mn > 0).all():
        raise ValueError("zero-norm centroid in semantic-dedup assignment")
    M = M / Mn[:, None]
    dim = M.shape[1]

    def _cell_and_angle(Mu: np.ndarray):
        """Per-batch centroid → (cell, angle-to-center, unit vec)."""

        @pandas_udf("struct<cell: int, ang: double>")
        def f(cent: pd.Series) -> pd.DataFrame:
            if len(cent) == 0:
                return pd.DataFrame({"cell": [], "ang": []}).astype(
                    {"cell": "int32", "ang": "float64"}
                )
            C = np.stack(cent.to_numpy()).astype(np.float64)
            Cn = np.sqrt((C * C).sum(axis=1))
            if not (Cn > 0).all():
                # the flat/hier routes refuse this input identically
                raise ValueError(
                    "zero-norm centroid in semantic-dedup assignment"
                )
            Cu = C / Cn[:, None]
            sim = np.clip(Cu @ Mu.T, -1.0, 1.0)
            a = sim.argmax(axis=1)
            ang = np.arccos(sim[np.arange(len(a)), a])
            return pd.DataFrame(
                {"cell": a.astype("int32"), "ang": ang.astype("float64")}
            )

        return f

    # distributed spherical Lloyd over the centroid FRAME: per round,
    # one K-row assignment job + a bounded G·dim mean collect
    cents = cents.persist()
    try:
        for _ in range(rounds):
            assigned = cents.withColumn(
                "ca", _cell_and_angle(M)(F.col("cent"))
            )
            mean_rows = (
                assigned.select(
                    F.col("ca.cell").alias("cell"),
                    F.posexplode("cent").alias("pos", "x"),
                )
                .groupBy("cell", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            newM = M.copy()
            acc = np.zeros((G, dim))
            seen = np.zeros(G, dtype=bool)
            for r in mean_rows:
                acc[r["cell"], r["pos"]] = float(r["m"])
                seen[r["cell"]] = True
            nrm = np.sqrt((acc * acc).sum(axis=1))
            ok = seen & (nrm > 0)
            newM[ok] = acc[ok] / nrm[ok, None]
            M = newM

        cmem = (
            cents.withColumn("ca", _cell_and_angle(M)(F.col("cent")))
            .select(
                "cent_id", "cent", F.col("ca.cell").alias("cell"),
                F.col("ca.ang").alias("ang"),
            )
            .localCheckpoint(eager=True)  # feeds radii + two cogroups
        )
    finally:
        cents.unpersist()
    rad_rows = cmem.groupBy("cell").agg(F.max("ang").alias("r")).collect()
    radius = np.zeros(G)
    nonempty = np.zeros(G, dtype=bool)
    for r in rad_rows:
        radius[r["cell"]] = float(r["r"]) + 1e-7
        nonempty[r["cell"]] = True
    Mu, rad, live = M, radius, nonempty  # closure names

    @pandas_udf("int")
    def probe0(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="int32")
        X = np.stack(embs.to_numpy()).astype(np.float64)
        nx = np.sqrt((X * X).sum(axis=1))
        Xu = X / nx[:, None]
        theta = np.arccos(np.clip(Xu @ Mu.T, -1.0, 1.0))
        ub = np.cos(np.maximum(theta - rad[None, :], 0.0))
        ub[:, ~live] = -np.inf
        return pd.Series(ub.argmax(axis=1).astype("int32"))

    def score_group(vecs: pd.DataFrame, mems: pd.DataFrame) -> pd.DataFrame:
        out = {
            "vec_id": pd.Series([], dtype="int64"),
            "cell": pd.Series([], dtype="int32"),
            "best6": pd.Series([], dtype="float64"),
            "best_cid": pd.Series([], dtype="int64"),
            "best_raw": pd.Series([], dtype="float64"),
        }
        if vecs.empty or mems.empty:
            return pd.DataFrame(out)
        order = np.argsort(mems["cent_id"].to_numpy(), kind="stable")
        cids_g = mems["cent_id"].to_numpy()[order]
        Cg = np.stack(mems["cent"].to_numpy())[order].astype(np.float64)
        Cgn = np.sqrt((Cg * Cg).sum(axis=1))
        X = np.stack(vecs["embedding"].to_numpy()).astype(np.float64)
        nx = np.sqrt((X * X).sum(axis=1))
        raw = _pair_cosines(X, nx, Cg, Cgn)
        r6 = _round6(raw)
        j = r6.argmax(axis=1)  # first max → smallest cid (sorted)
        rows = np.arange(len(j))
        return pd.DataFrame(
            {
                "vec_id": vecs["vec_id"].to_numpy(),
                "cell": vecs["cell"].to_numpy().astype("int32"),
                "best6": r6[rows, j],
                "best_cid": cids_g[j],
                "best_raw": raw.max(axis=1),
            }
        )

    score_schema = (
        "vec_id long, cell int, best6 double, best_cid long, "
        "best_raw double"
    )
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    shard = cmem.select("cell", "cent_id", "cent")
    if salt > 1:
        # hot-cell escape: replicate each cell's shard per salt value
        # so a hot cell's vectors split across `salt` cogroup tasks;
        # every (cell, salt) group still holds the cell's FULL member
        # set, so scores are bitwise invariant in `salt`
        shard = shard.withColumn(
            "salt",
            F.explode(F.array(*[F.lit(s) for s in range(salt)])),
        )
    grp_keys = ["cell", "salt"] if salt > 1 else ["cell"]

    def _with_salt(df: DataFrame) -> DataFrame:
        if salt == 1:
            return df
        return df.withColumn(
            "salt", F.pmod(F.col("vec_id"), F.lit(salt)).cast("int")
        )

    vecs_a = _with_salt(emb.withColumn("cell", probe0(F.col("embedding"))))
    phase_a = (
        vecs_a.groupBy(*grp_keys)
        .cogroup(shard.groupBy(*grp_keys))
        .applyInPandas(lambda l, r: score_group(l, r), score_schema)
        .localCheckpoint(eager=True)  # feeds phase-B bound + combine
    )

    @pandas_udf("array<int>")
    def candidate_cells(embs: pd.Series, braw: pd.Series, g0: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="object")
        X = np.stack(embs.to_numpy()).astype(np.float64)
        nx = np.sqrt((X * X).sum(axis=1))
        Xu = X / nx[:, None]
        theta = np.arccos(np.clip(Xu @ Mu.T, -1.0, 1.0))
        ub = np.cos(np.maximum(theta - rad[None, :], 0.0))
        ub[:, ~live] = -np.inf
        keep = ub >= (braw.to_numpy()[:, None] - 2e-6)
        keep[np.arange(len(X)), g0.to_numpy()] = False  # already scored
        return pd.Series(
            [np.where(k)[0].astype("int32").tolist() for k in keep]
        )

    cand_b = (
        emb.join(
            phase_a.select(
                "vec_id", F.col("cell").alias("g0"), "best_raw"
            ),
            "vec_id",
        )
        .select(
            "vec_id",
            "embedding",
            F.explode(
                candidate_cells(
                    F.col("embedding"), F.col("best_raw"), F.col("g0")
                )
            ).alias("cell"),
        )
    )
    phase_b = (
        _with_salt(cand_b)
        .groupBy(*grp_keys)
        .cogroup(shard.groupBy(*grp_keys))
        .applyInPandas(lambda l, r: score_group(l, r), score_schema)
    )
    best = (
        phase_a.select("vec_id", "best6", "best_cid")
        .union(phase_b.select("vec_id", "best6", "best_cid"))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("best6"), (-F.col("best_cid")).alias("neg")
                )
            ).alias("b")
        )
        .select("vec_id", (-F.col("b.neg")).alias("cluster"))
    )
    return emb.join(best, "vec_id").select("vec_id", "embedding", "cluster")


#: Driver-memory budget the hier route's K-row centroid collect may
#: consume — a conservative slice of a typical 4-8 GiB production
#: driver heap (local[32] has more; the rule is sized for the
#: production shape, not this box).
DRIVER_COLLECT_BUDGET_BYTES = 2 * 1024**3
#: Measured Python-side resident cost per collected centroid row
#: (64-dim float64 through Spark's Row path): 2610-2811 bytes/row,
#: flat from K=50k to K=2M (scripts/measure_route_crossover.py, r15).
#: Pinned at the observed ceiling.
CENT_ROW_DRIVER_BYTES = 2816
#: The routing boundary: largest K the hier route takes. At this K
#: the collect costs ~2 GiB RSS and ~20 s driver-serial time
#: (measured 15 s collect + 10 s numpy per 1M rows); above it the
#: sharded route is the only one that runs at all. Integer-derived so
#: a test can re-pin the arithmetic.
HIER_ROUTE_MAX_K = DRIVER_COLLECT_BUDGET_BYTES // CENT_ROW_DRIVER_BYTES


def assign_clusters_auto(
    emb: DataFrame, cents: DataFrame, k: int | None = None
) -> DataFrame:
    """Route selection between the two exact assignment engines (r14
    verdict ask 5 — a test-pinned rule instead of two routes with a
    prose caveat). The r14 crossover measurement settled that the
    sharded route NEVER wins on wall clock where both routes run
    (179 s vs 67 s at 200k vectors / K=3125 — its cogroup shuffles
    cost more than the hier route's driver GEMMs at every K a driver
    can hold), so the rule is a driver-MEMORY boundary, not a timing
    heuristic: hier (K-row collect, ~2.7 KB/row measured) while
    K <= HIER_ROUTE_MAX_K (~768k centroids ~ 2 GiB), sharded above,
    where the collect would break the driver and there is no
    alternative. Both engines return BITWISE the same assignment
    (route parity pinned across r13/r14 suites and at this boundary
    in tests/test_round15.py), so the switch can never change a
    result hash — only who holds the centroids.

    `k` is the centroid count when the caller already knows it (the
    K~N/const policy derives it from a metadata count); None falls
    back to cents.count(). `cents` columns: (cent_id, cent)."""
    if k is None:
        k = cents.count()
    if k <= HIER_ROUTE_MAX_K:
        cents_rows = collect_bounded(cents, HIER_ROUTE_MAX_K, "cent_id")
        return _assign_clusters_hier(emb, cents_rows)
    return _assign_clusters_sharded(emb, cents)


def q_semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_semantic_dedup with the documented K-growth policy DEMONSTRATED
    instead of only documented (round-10 verdict ask 3): K = ceil(N/64)
    so mean cluster size — and the quadratic within-cluster pairwise
    term — stays bounded as the corpus grows. Same deterministic
    smallest-vec_id centroids, same argmax/rounding conventions, same
    within-cluster duplicate accounting as the fixed-K contract; what
    changes is the centroid count and the assignment ENGINE — routed
    by `assign_clusters_auto` (r15): the hierarchical coarse-over-
    centroids route (`_assign_clusters_hier`: exact bound-based
    pruning, same cluster for every vector as the flat GEMM,
    route-parity test-pinned — the r11 verdict's ask 3) at any K a
    driver can collect, the sharded route past HIER_ROUTE_MAX_K.
    N is read once as a scalar (a parquet-metadata count, no data
    scan).

    Cost shape: within-cluster pairwise is O(N·64) — linear; the
    assignment's former O(N·K) = O(N²/64) GEMM FLOP term is pruned to
    O(N·√K) + the surviving cells' member GEMMs wherever the space is
    clustered (real embeddings). On the shipped isotropic corpora the
    bounds are loose and the route honestly does flat-GEMM work plus
    one N×√K coarse pass — both regimes measured in SURVEY §8."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k = scaled_k(emb.count())
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent")
    )
    # engine choice is the test-pinned driver-memory rule (r15): hier
    # at any K a driver can hold — including every shipped SF —
    # sharded past HIER_ROUTE_MAX_K; bitwise the same assignment
    assigned = assign_clusters_auto(emb, cents, k=k)
    # same cluster-cogrouped duplicate accounting kernel as the
    # fixed-K contract (see _cluster_dedup_counts) — here the kernel's
    # per-task GEMM is bounded by TARGET_CLUSTER_SIZE by construction
    return _cluster_dedup_counts(assigned)


# the oracle re-derives K from its own count(*) — no literal K is
# shared between the engines, so a K-policy drift diverges the hash
Q_SEMANTIC_DEDUP_SCALED_SQL = f"""
WITH kk AS (
  SELECT greatest(1, ceil(count(*) / {TARGET_CLUSTER_SIZE}.0))::BIGINT AS k
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, embedding AS cent
  FROM embeddings, kk WHERE vec_id < kk.k
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         {_COS_SQL.format(a="e.embedding", b="c.cent")} AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, cent_id AS cluster
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
    FROM scored
  )
  WHERE rn = 1
),
dup_ids AS (
  SELECT DISTINCT a.cluster, b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a="a.embedding", b="b.embedding")} >= {DUP_COS}
)
SELECT s.cluster,
       count(*) AS n_members,
       sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_removed
FROM assigned s
LEFT JOIN dup_ids d ON s.cluster = d.cluster AND s.vec_id = d.vec_id
GROUP BY s.cluster
ORDER BY s.cluster
"""


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: for each semantic cluster, the
    majority ground-truth label (ties to the smaller label) and its
    purity = majority count / members — the standard external
    cluster-validity check, run here between the deterministic
    centroid clustering and the embeddings' labels. Assignment is the
    same broadcast argmax as q_semantic_dedup; everything after is one
    (cluster, label) count aggregate and a K-row window."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    # routed exact assignment engine, same switch (and same parity
    # pins) as q_semantic_dedup — see the r17 note there
    assigned = assign_clusters_auto(
        emb.select("vec_id", "embedding"),
        _seed_centroids(emb.select("vec_id", "embedding")),
        k=K_CLUSTERS,
    ).join(emb.select("vec_id", "label"), "vec_id")
    cl = assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = W.partitionBy("cluster").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    return (
        cl.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.sum("c").over(W.partitionBy("cluster")))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            "n_members",
            F.col("label").cast("int").alias("majority_label"),
            F.round(F.col("c") / F.col("n_members"), 6).alias("purity"),
        )
        .orderBy("cluster")
    )


Q_CLUSTER_PURITY_SQL = f"""
WITH {_ASSIGNED_CTES},
cl AS (
  SELECT a.cluster, e.label, count(*) AS c
  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
  GROUP BY a.cluster, e.label
),
ranked AS (
  SELECT cluster, label, c,
         row_number() OVER (
           PARTITION BY cluster ORDER BY c DESC, label ASC) AS rn,
         sum(c) OVER (PARTITION BY cluster) AS n_members
  FROM cl
)
SELECT cluster,
       n_members::BIGINT AS n_members,
       label::INTEGER AS majority_label,
       round(c::DOUBLE / n_members, 6) AS purity
FROM ranked
WHERE rn = 1
ORDER BY cluster
"""
