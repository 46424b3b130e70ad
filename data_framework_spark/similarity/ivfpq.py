"""IVF-PQ: the composed production vector index — IVF coarse cells
for candidate pruning + product-quantized RESIDUAL codes for memory
+ ADC scoring over the codes (Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search", §IV: IVFADC).

Extension layer (SURVEY.md §7 phase 5) — the round-7 pieces exist to
build exactly this: `ivf.py` contributes the coarse quantizer, the
cell assignment GEMM, and the cell-partitioned parquet layout;
`pq.py` contributes the subspace codebooks and the argmin code
assignment — here applied to the RESIDUAL x − c(cell(x)) rather than
the raw vector, which is what makes the composition better than
either part: the coarse centroid removes the cell's mean, so the
per-subspace codebooks spend their 256 entries on the remaining
variance (IVFADC's central idea).

Index layout on disk (`ivfpq_index_write`):
- `{path}/centroids.npy` — the (ncells, dim) coarse quantizer.
- `{path}/books.npy`     — the (PQ_M, K', dim/PQ_M) residual
  codebooks, K' ≤ PQ_K.
- `{path}/codes`         — (vec_id, subspace, code) partitioned by
  `cell`: ~M small ints per corpus vector, the 32×-compressed
  representation. partitionBy("cell") makes an nprobe-cell probe a
  DIRECTORY-PRUNED read, the same layout win as the plain IVF index.

Search (`ivfpq_topk_from_index`) is pure ADC over the probed cells:
the query's residual vs EACH probed cell feeds a per-(query, cell,
subspace) lookup row carrying the K'-length per-code distance ARRAY
— |Q|·nprobe·M bounded rows, computed driver-side from the two
bounded inputs (the collected query rows and the codebooks) and
BROADCAST into an equi-join on (cell, subspace) + an element_at code
index (array form since r13: the former one-row-per-code long form
was 256× bigger and its broadcast dominated the adopted nprobe=16
operating point). The float corpus is never read at query time; the
scan touches only the probed cells' code lists. At 100 TB the codes
for a billion vectors are ~8 GB — memory-resident per executor —
while the float corpus (256 GB+) stays on disk.

Determinism mirrors ivf.py/pq.py exactly: centroid cosines and
squared distances rounded half-away-from-zero to 9 decimals before
argmax/argmin, ties to the smallest id, ADC sums rounded to 6dp with
neighbor_id as the total-order tiebreak.

Recall honesty (measured, not assumed — the pq.py policy): this
corpus is isotropic random vectors, PQ's structural worst case; the
recall contract's floor is calibrated per shipped SF from measured
recall@5 vs exact L2 and certifies the PLAN (residual encode, cell
prune, codes-only ADC), not a universal recall claim. Since round 10
the coarse quantizer AND the residual codebooks are Lloyd-TRAINED
(similarity/train.py — fixed-point k-means, bit-identical in the
DuckDB oracle), which doubled ADC recall and lifted the refine route
to ≥0.90 at every shipped SF. Since round 12 the codebooks are
256-entry (8-bit — the faiss standard; see pq.PQ_K), adopted on the
r11 ablation's measured evidence; the remaining production knob is
ncells ~ sqrt(N) growth.
"""

from __future__ import annotations

import math
import os

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_framework_spark.similarity.ivf import (
    MAX_CELLS,
    _centroid_rows,
    _index_array,
    _rounded_centroid_cosines,
)
from data_framework_spark.similarity.pq import (
    BOOKS_SHAPE,
    PQ_K,
    PQ_M,
    _SUB,
    _round9,
    assign_pq_codes,
    sq_l2_fold,
)
from data_framework_spark.sources.tables import (
    collect_bounded,
    local_rows,
    load_table,
    read_parquet,
)

# 32 coarse cells since round 13 (was 16 through r12): the r13
# cell-count ablation (SURVEY.md §8, round-13 item 3) measured, at EQUAL
# scanned-code fraction (nprobe/ncells = 1/2), refine recall
# 0.99/0.96/1.00 at sf0.001/0.01/0.1 (and 0.80 on the 10x corpus) vs
# the shipped 0.92/0.93/0.96 (0.73) — finer cells convert the same ADC
# budget into strictly more coverage, exactly the ncells ~ sqrt(N)
# growth the IVF literature prescribes. Multi-assignment (each vector
# in its top-2 cells) matched but did not beat equal-scan finer cells
# in the same ablation and costs a 2x index + an ADC dedup rule —
# DEFERRED with the measured table as the record.
IVFPQ_NCELLS = 32
IVFPQ_NPROBE = 4
IVFPQ_K = 5
IVFPQ_NQ = 20  # query vectors: vec_id < 20 (the ann.py convention)


def assign_and_residual(emb: DataFrame, cents: list) -> DataFrame:
    """corpus → (vec_id, cell, residual): the IVF cell argmax (same
    rounded-cosine GEMM as ivf.assign_cells) fused with the residual
    x − c(cell) in ONE Arrow-batched pass — the build never scans the
    corpus twice."""
    cos_matrix = _rounded_centroid_cosines(cents)
    C = np.asarray(cents, dtype=np.float64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cells = cos_matrix(pdf["embedding"]).argmax(axis=1)
            R = X - C[cells]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cells.astype("int32"),
                    "residual": list(R),
                }
            )

    # widen past the one-row-group test scan (no-op at scale): the
    # single-split embeddings file otherwise serializes this Arrow
    # pass on one core (r17, guide §4.2/§6.1; row-local values)
    from data_framework_spark.sources.tables import widen_scan

    return widen_scan(emb.select("vec_id", "embedding")).mapInPandas(
        gen, schema="vec_id long, cell int, residual array<double>"
    )


def _residual_codebooks(
    res: DataFrame, ncells: int = IVFPQ_NCELLS
) -> np.ndarray:
    """(PQ_M, PQ_K, _SUB) RESIDUAL codebook SEEDS (Lloyd-refined by
    the caller since round 10): the pq._codebooks sampling convention
    applied to residuals, seeded from vec_ids ncells..ncells+PQ_K-1,
    NOT 0..PQ_K-1 — under the round-8 sampled quantizer the first
    ncells vectors WERE the centroids (zero residuals, a degenerate
    codebook); with trained centroids every residual is nonzero, but
    the seed ids stay for oracle continuity. Bounded PQ_K-row
    collect."""
    rows = collect_bounded(
        res.filter(
            (F.col("vec_id") >= ncells) & (F.col("vec_id") < ncells + PQ_K)
        ).select("vec_id", "residual"),
        PQ_K,
        "vec_id",
    )
    # contiguous-prefix relaxation (see pq._codebooks): a corpus with
    # fewer than ncells+PQ_K vectors seeds a smaller codebook, exactly
    # as the oracle's id-range filter yields on the same corpus; the
    # run must still be contiguous from `ncells` so numpy positions
    # equal oracle cids (cid = vec_id - ncells)
    if [int(r["vec_id"]) for r in rows] != list(
        range(ncells, ncells + len(rows))
    ):
        raise ValueError(
            f"residual codebook seeds need a contiguous vec_id run "
            f"{ncells}..{ncells}+k-1 (k ≤ {PQ_K}); got {len(rows)} rows"
        )
    if not rows:
        raise ValueError(
            f"empty residual seed range: no vec_id in "
            f"[{ncells}, {ncells + PQ_K})"
        )
    full = np.asarray(
        [[float(x) for x in r["residual"]] for r in rows], dtype=np.float64
    )
    return np.stack(
        [full[:, s * _SUB : (s + 1) * _SUB] for s in range(PQ_M)]
    )


def ivfpq_index_write(
    emb: DataFrame, path: str, ncells: int = IVFPQ_NCELLS
) -> None:
    """Build and persist the composed index: Lloyd-TRAINED coarse
    centroids (seeded from the first `ncells` vectors, COARSE_ROUNDS
    fixed-point rounds — see similarity/train.py for the cross-engine
    exactness design) as `centroids.npy`, Lloyd-trained residual PQ
    codebooks as `books.npy`, and the cell-partitioned code lists.
    Training replaced the sampled stand-ins in round 10: the r9 nprobe
    curve hash-pinned cell coverage as the binding recall constraint,
    and trained cells are the coverage lever (measured deltas in
    SURVEY §8)."""
    # both round counts read at CALL time from the train module so an
    # experiment overriding one cannot silently leave the other at its
    # def-time default (a mixed 2-coarse/1-book build measures ADC
    # 0.13 at sf0.1 — caught in the round-10 rounds ablation)
    from data_framework_spark.similarity import train
    from data_framework_spark.similarity.train import (
        lloyd_coarse_centroids,
        lloyd_subspace_books,
    )

    cents = lloyd_coarse_centroids(
        emb, _centroid_rows(emb, ncells), train.COARSE_ROUNDS
    )
    os.makedirs(path, exist_ok=True)
    np.save(f"{path}/centroids.npy", np.asarray(cents, dtype=np.float64))

    res = assign_and_residual(emb, cents).persist()
    try:
        books = lloyd_subspace_books(
            res.select(F.col("residual").alias("v")),
            "v",
            _residual_codebooks(res, ncells),
            train.BOOK_ROUNDS,
        )
        np.save(f"{path}/books.npy", books)
        (
            assign_pq_codes(
                res.select("vec_id", F.col("residual").alias("embedding")),
                books,
            )
            .select("vec_id", "subspace", "code")
            .join(res.select("vec_id", "cell"), "vec_id")
            # cluster by cell before the partitioned write: the r17
            # widen_scan made the build 32-way parallel, so WITHOUT
            # this every task held rows of every cell and the
            # partitionBy write fanned out to ~cells×tasks tiny files
            # (measured 409-903 files vs 32) — a layout tax every
            # warm ADC scan re-paid (the r17 ivfpq warm regression).
            # One ~|corpus|·M-row shuffle at build buys 1 file/cell
            # (guide §6: aim for few, larger files per partition).
            .repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{path}/codes")
        )
    finally:
        res.unpersist()


#: The index tree's .npy files and their `formats.load_index_array`
#: shapes: (cell, dim) centroids and the residual codebooks.
INDEX_ARRAYS = {
    "centroids.npy": (range(1, MAX_CELLS + 1), PQ_M * _SUB),
    "books.npy": BOOKS_SHAPE,
}


def ivfpq_index_read(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(centroids, residual codebooks) of the index at `path`, the two
    bounded components every search needs on the driver. Loading
    them starts no Spark job, so nothing is cached: a rebuild at a
    reused path is read afresh by the next search."""
    return (
        _index_array(f"{path}/centroids.npy", INDEX_ARRAYS["centroids.npy"]),
        _index_array(f"{path}/books.npy", INDEX_ARRAYS["books.npy"]),
    )


def _adc_lut(cents: list, books: np.ndarray, queries: list, nprobe: int):
    """Driver-side ADC lookup table over the top-`nprobe` probed cells
    per query, as a pandas frame (query_id, cell, rank, dlooks) with
    ONE row per (query, cell, subspace) whose `dlooks` column is the
    K'-length per-code distance array, and rank = the cell's 1-based
    probe position (rounded-cosine order, ties to smallest cid).
    dlook values use the sequential subspace fold in written order —
    bitwise the oracle's list_sum (byte-for-byte the pre-r12
    tuple-list arithmetic; only the SHAPE changed).

    Array form since r13: the long form was one row per (query, cell,
    subspace, code) — |Q|·nprobe·M·K rows, 655k at the r13 nprobe=16
    operating point — and broadcasting it was the dominant per-query
    cost of the K=256 + nprobe=16 adoptions. Folding the code axis
    into an array column shrinks the broadcast 256× (|Q|·nprobe·M
    rows); the consumer joins on (cell, subspace) and indexes with
    element_at(dlooks, code+1), which is the same float at the same
    code — result-identical, plan-lighter."""
    C = np.asarray(cents, dtype=np.float64)
    cos_matrix = _rounded_centroid_cosines(cents)
    cell_ids = np.arange(len(cents))
    q_ids = [int(q[0]) for q in queries]
    Q = np.asarray([q[1] for q in queries], dtype=np.float64)
    cos = cos_matrix(Q)
    kk = books.shape[1]  # K' ≤ PQ_K on small corpora
    meta: list[tuple[int, int, int]] = []
    dmats: list[np.ndarray] = []
    for qi, qid in enumerate(q_ids):
        probed = np.lexsort((cell_ids, -cos[qi]))[:nprobe]
        for rank, cell in enumerate(probed, start=1):
            qres = Q[qi] - C[cell]
            dmat = np.empty((PQ_M, kk), dtype=np.float64)
            for s in range(PQ_M):
                qs = qres[None, s * _SUB : (s + 1) * _SUB]
                dmat[s] = _round9(sq_l2_fold(qs, books[s])[0])
            meta.append((qid, int(cell), rank))
            dmats.append(dmat)
    n_blk = len(meta)
    qid_c = np.repeat(np.asarray([m[0] for m in meta], np.int64), PQ_M)
    cell_c = np.repeat(np.asarray([m[1] for m in meta], np.int32), PQ_M)
    rank_c = np.repeat(np.asarray([m[2] for m in meta], np.int32), PQ_M)
    sub_c = np.tile(np.arange(PQ_M, dtype=np.int32), n_blk)
    # .tolist(): plain Python floats — a VANILLA (non-Arrow) session's
    # row-wise createDataFrame cannot infer numpy ndarray cells
    # (caught by tests/test_vanilla_session.py)
    dlooks_c = [row.tolist() for d in dmats for row in d]
    return pd.DataFrame(
        {
            "query_id": qid_c,
            "cell": cell_c,
            "rank": rank_c,
            "subspace": sub_c,
            "dlooks": dlooks_c,
        }
    )


def ivfpq_topk_from_index(
    spark: SparkSession,
    path: str,
    queries: list,  # [(query_id, embedding list)] — bounded
    k: int = IVFPQ_K,
    nprobe: int = IVFPQ_NPROBE,
) -> DataFrame:
    """ADC search against a RELOADED index: per (query, probed cell)
    the residual lookup table, broadcast into the codes join; the
    scan reads only the probed cells' code lists."""
    cents, books = ivfpq_index_read(path)
    lut = _adc_lut(cents, books, queries, nprobe)
    lut_df = spark.createDataFrame(
        lut[["query_id", "cell", "subspace", "dlooks"]],
        schema="query_id long, cell int, subspace int, "
        "dlooks array<double>",
    )
    # static partition pruning: the probed cell set is known driver-
    # side, so push it as a literal isin — the cell-partitioned codes
    # read becomes a directory-pruned scan (PartitionFilters), not a
    # full-index scan filtered by the join
    probed_cells = sorted(int(c) for c in lut["cell"].unique())
    codes = read_parquet(spark, f"{path}/codes").filter(
        F.col("cell").isin(probed_cells)
    )
    # written-order fold over the 8 subspace lookups (NOT F.sum, whose
    # partial-aggregation order Spark does not define — summing 9dp-
    # rounded doubles in a different order than the oracle can flip
    # the 6dp rounding at a halfway tie; same convention as
    # retrieval.bm25_topk_from_index, round-8 advisory)
    scored = (
        codes.join(F.broadcast(lut_df), ["cell", "subspace"])
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
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


IVFPQ_INDEX_PREFIX = "ivfpq_index_"

#: Bump on any ivfpq_index_write semantics change NOT captured by the
#: knob params below (seed convention, residual arithmetic, layout) —
#: the persistent cross-session cache keys on these, and a stale
#: persisted index must be unreachable after a build-code change.
IVFPQ_INDEX_FMT = 2


def session_ivfpq_index(
    spark: SparkSession, sf_dir: str, ncells: int = IVFPQ_NCELLS
) -> str:
    """The persisted IVFADC index dir for sf_dir — built at most once
    ACROSS sessions (formats.persistent_index_dir): a fresh session
    whose source fingerprint and build knobs match a previously
    persisted index RELOADS it instead of re-running Lloyd (r13
    verdict ask 2 — the session-first-call retrain was the suite's
    only structurally growing cold cost, 6.4 → 9.5 → 12.4 s over
    three adoption rounds; production IVF serving never retrains per
    session). The digest params name every build-affecting knob, so
    an ncells adoption or a Lloyd-round change diverges the cache key
    and rebuilds — hashes can never be served from a stale index. A
    persisted tree whose centroids.npy or books.npy does not load is
    deleted and rebuilt."""
    from data_framework_spark.similarity import train
    from data_framework_spark.sources.formats import (
        build_source_fp,
        persistent_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return persistent_index_dir(
        sf_dir,
        IVFPQ_INDEX_PREFIX,
        lambda p: ivfpq_index_write(emb, p, ncells=ncells),
        params={
            "fmt": IVFPQ_INDEX_FMT,
            "ncells": int(ncells),
            "pq_m": int(PQ_M),
            "pq_k": int(PQ_K),
            "coarse_rounds": int(train.COARSE_ROUNDS),
            "book_rounds": int(train.BOOK_ROUNDS),
            # the Lloyd trainer lives in train.py — outside the
            # auto-folded defining module of the build lambda, so a
            # training-semantics edit there must diverge the key too
            "train_src": build_source_fp(train),
        },
        arrays=INDEX_ARRAYS,
    )


def q_ivfpq_persist_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-5 for the first 20 query vectors, answered from the
    persisted index: 32 coarse cells / residual PQ 8×256 / 4 probed
    cells. Oracle = the full composition in SQL — a code mis-assigned,
    a residual drifted, or a cell lost in the parquet roundtrip breaks
    the hash. Build-at-most-once ACROSS sessions via
    session_ivfpq_index / formats.persistent_index_dir (cold =
    reload when a matching persisted index exists, else build;
    warm = reload).

    SELF-POPULATES its session route entry ("ivfpq_topk"): the bench
    evicts the route right before timing this query (honesty hook),
    so the timed run is always a genuine rebuild — but the rebuilt
    entry now lands back in the route cache, so the recall contract
    that composes on it measures its own recall arithmetic instead of
    silently re-executing the whole IVFADC route a second time (the
    r15 verdict's ivfpq_recall_contract warm question: 1.33 s ≈ 1.0 s
    route plan/query-collect rebuild + 0.7 s route re-execution, 0.3 s
    with a warm entry — measured r16; 'the cache serves the family,
    not one query').

    The index path is resolved EAGERLY (outside the route build) so
    every call keeps the old fn's guarantee that the persisted index
    exists and is registered in the session dir map — a cheap
    digest+manifest check on the warm path; the expensive part (the
    query collect + ADC plan) stays behind the route cache."""
    from data_framework_spark.similarity.ann import cached_route

    path = session_ivfpq_index(spark, sf_dir)
    return cached_route(
        spark, sf_dir, "ivfpq_topk",
        lambda: _ivfpq_persist_topk_build(spark, sf_dir, path),
    )


def _ivfpq_persist_topk_build(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = collect_bounded(
        emb.filter(F.col("vec_id") < IVFPQ_NQ).select("vec_id", "embedding"),
        IVFPQ_NQ,
        "vec_id",
    )
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]]) for r in q_rows
    ]
    return ivfpq_topk_from_index(spark, path, queries)


def exact_l2_topk(
    spark: SparkSession, sf_dir: str, k: int = IVFPQ_K
) -> DataFrame:
    """Exact squared-L2 top-k baseline for the recall contract —
    JVM-side sequential fold (zip_with + aggregate) matching DuckDB's
    list_sum order so both engines rank identical 6dp distances.

    Session-cached via ann.cached_route (keyed by k): the three IVFPQ
    contract queries (recall, refine-recall, nprobe curve) all consume
    this identical baseline — the most expensive exact scan in the
    module — so without the cache one session running all three
    executes the corpus×NQ crossJoin three times."""
    from data_framework_spark.similarity.ann import cached_route

    return cached_route(
        spark, sf_dir, f"exact_l2_k{k}",
        lambda: _exact_l2_topk_build(spark, sf_dir, k),
    )


def _exact_l2_topk_build(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < IVFPQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(d2, 6).alias("d"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# Observed recall@5 vs exact L2, measured per shipped SF before the
# floor was set (the ann.LSH_RECALL_FLOOR calibration policy,
# certified for the three shipped SFs ONLY). With the round-13
# 32-cell quantizer + K=256 books at nprobe=4: 0.47 (sf0.001) /
# 0.51 (sf0.01) / 0.36 (sf0.1) — vs 0.38/0.50/0.37 at 16 cells: the
# plain-ADC route now scans HALF the former code fraction (4/32 vs
# 4/16) for essentially the same recall (finer residuals offset the
# smaller candidate pool). Isotropic random vectors remain PQ's
# structural worst case — the production read path is the refine
# stage below. The floor is set just below the observed minimum; the
# REAL pin is the recall value itself, which is fully deterministic
# on this corpus and hash-compared against the oracle's independent
# recomputation — any route or TRAINING regression flips the hash
# before it flips the floor.
IVFPQ_RECALL_FLOOR = 0.30


def q_ivfpq_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the composed route (the ivf_recall_contract
    pattern): recall@5 of q_ivfpq_persist_topk against the exact
    squared-L2 baseline, via the SHARED ann.recall_vs_exact arithmetic
    + a floor boolean the oracle states as literal TRUE."""
    from data_framework_spark.similarity.ann import recall_vs_exact

    # q_ivfpq_persist_topk self-populates the "ivfpq_topk" route, so
    # this composes on the session-cached frame (or builds it exactly
    # once) without a second wrapper
    approx = q_ivfpq_persist_topk(spark, sf_dir)
    return recall_vs_exact(
        exact_l2_topk(spark, sf_dir), approx, "ivfpq", IVFPQ_RECALL_FLOOR
    )


def _ivfpq_sql(
    ncells: int = IVFPQ_NCELLS,
    nprobe: int = IVFPQ_NPROBE,
    k: int | str = IVFPQ_K,  # int literal or a scalar SQL expression
    nq: int = IVFPQ_NQ,
    dim: int = 64,
) -> str:
    """The full IVFADC composition as DuckDB CTEs: Lloyd-trained
    coarse quantizer (the train.lloyd_cents_cte unrolled rounds),
    coarse assignment, residuals, Lloyd-trained residual codebooks
    (train.lloyd_books_cte), code argmin, per-(query, probed cell)
    LUTs, ADC aggregation — the ENTIRE build re-derived from scratch
    in SQL, training included, so a Spark-side training drift flips
    the hash."""
    from data_framework_spark.similarity.train import (
        lloyd_books_cte,
        lloyd_cents_cte,
    )

    sub = _SUB
    sqd = (
        f"round(list_sum(list_transform(range(1, {sub} + 1),"
        f" i -> (p.sub[i] - c.csub[i]) * (p.sub[i] - c.csub[i]))), 9)"
    )
    qsqd = (
        f"round(list_sum(list_transform(range(1, {sub} + 1),"
        f" i -> (q.sub[i] - c.csub[i]) * (q.sub[i] - c.csub[i]))), 9)"
    )
    dot = (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
    )
    # codebook seeds start AFTER the coarse-centroid seed ids (the
    # round-8 convention, kept for oracle continuity; with trained
    # centroids the seed residuals are all genuinely nonzero)
    book_seed = f"""  SELECT (vec_id - {ncells})::INTEGER AS cid, subspace, sub AS csub
  FROM pparts WHERE vec_id >= {ncells} AND vec_id < {ncells + PQ_K}"""
    return f"""
WITH nrm AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
  FROM embeddings
),
{lloyd_cents_cte(ncells, dim=dim)},
cc AS (
  SELECT e.vec_id, round({dot} / (e.n * c.cn), 9) AS d, c.cid
  FROM nrm e CROSS JOIN cent c
),
ranked AS MATERIALIZED (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS r
  FROM cc
),
assigned AS (SELECT vec_id, cid AS cell FROM ranked WHERE r = 1),
probes AS (SELECT vec_id AS query_id, cid AS cell FROM ranked
           WHERE r <= {nprobe} AND vec_id < {nq}),
res AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, {dim + 1}),
           i -> e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
  FROM assigned a
  JOIN embeddings e USING (vec_id)
  JOIN cent c ON c.cid = a.cell
),
pparts AS MATERIALIZED (
  SELECT vec_id, cell, s.s::INTEGER AS subspace,
         list_slice(r, s.s * {sub} + 1, s.s * {sub} + {sub}) AS sub
  FROM res, range(0, {PQ_M}) s(s)
),
{lloyd_books_cte(book_seed, "pparts", sub)},
pdist AS (
  SELECT p.vec_id, p.cell, p.subspace, c.cid, {sqd} AS d
  FROM pparts p JOIN pcents c USING (subspace)
),
codes AS (
  SELECT vec_id, cell, subspace, cid AS code
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, subspace ORDER BY d ASC, cid ASC) AS rn
    FROM pdist
  )
  WHERE rn = 1
),
qres AS (
  SELECT p.query_id, p.cell,
         list_transform(range(1, {dim + 1}),
           i -> e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
  FROM probes p
  JOIN embeddings e ON e.vec_id = p.query_id
  JOIN cent c ON c.cid = p.cell
),
qparts AS (
  SELECT query_id, cell, s.s::INTEGER AS subspace,
         list_slice(r, s.s * {sub} + 1, s.s * {sub} + {sub}) AS sub
  FROM qres, range(0, {PQ_M}) s(s)
),
lut AS (
  SELECT q.query_id, q.cell, q.subspace, c.cid AS code, {qsqd} AS dlook
  FROM qparts q JOIN pcents c USING (subspace)
),
scored AS (
  -- written-order fold in subspace order, mirroring the Spark route's
  -- array_sort + aggregate (never bare sum(): partial-agg order)
  SELECT l.query_id, a.vec_id AS neighbor_id,
         round(list_reduce([0.0::DOUBLE] || list(l.dlook ORDER BY l.subspace),
                           (acc, x) -> acc + x), 6) AS adc_dist
  FROM codes a
  JOIN lut l ON l.cell = a.cell AND l.subspace = a.subspace
            AND l.code = a.code
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id
)
SELECT query_id, neighbor_id, adc_dist, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY query_id, rank
"""


Q_IVFPQ_PERSIST_TOPK_SQL = _ivfpq_sql()


# ADC shortlist size fed to the exact re-rank. R must grow with the
# per-query CANDIDATE-POOL size, not stay a universal constant: at
# the 10x corpus (20k vectors, ~10k candidates under the 16/32
# probe) R=100 is the binding loss — refine recall 0.80 under a 1.00
# coverage ceiling — and growing R recovers it at ~flat wall time
# (R 100/200/400/800 -> recall 0.80/0.93/0.97/1.00, the shortlist
# fetch stays |Q|*R broadcast point reads; r13). Since r14 the R ~
# pool/10 reading is WIRED as refine_shortlist_r below (the r13
# verdict's ask-3 ablation, SURVEY.md §8 round-14 item 3, showed
# 32-cell coverage is already 0.99-1.00 at 10x/100x at every scan
# fraction — the shortlist, not the cell count, is the scale lever);
# IVFPQ_REFINE_R stays as the policy FLOOR, which the shipped SFs'
# <=1k-candidate pools never exceed, so every shipped hash is
# unchanged by the wiring.
IVFPQ_REFINE_R = 100
# Policy ceiling: |Q|·R broadcast point reads stay cheap until R
# approaches the pool itself; past this bound the deployment lever is
# a smaller scan fraction (finer cells / fewer probes), not a longer
# shortlist.
IVFPQ_REFINE_R_CAP = 16384


def refine_shortlist_r(
    n: int,
    nprobe: int = None,
    ncells: int = IVFPQ_NCELLS,
) -> int:
    """R ~ candidate-pool/10 (the faiss k_factor guidance), derived
    from the corpus size: pool ≈ n·nprobe/ncells, R =
    clamp(ceil(pool/10), IVFPQ_REFINE_R, IVFPQ_REFINE_R_CAP). Pure
    integer arithmetic — ceil(a/b) = (a+b-1)//b — so the DuckDB
    oracle's _REFINE_R_SQL re-derives the identical value from its
    own count(*) and a policy drift diverges the hash (the
    semantic_dedup_scaled K~N/64 precedent). n=500/2000 (shipped)
    → 100 (floor); 20k → 1000; 200k → 10000."""
    if nprobe is None:
        nprobe = IVFPQ_REFINE_NPROBE
    b = ncells * 10
    pool_r = (n * nprobe + b - 1) // b
    return min(IVFPQ_REFINE_R_CAP, max(IVFPQ_REFINE_R, pool_r))
# The refine route probes 16 of 32 cells (r13, was 8 of 16) — the
# SAME half-the-codes scan fraction as every round since r9, now over
# the finer r13 quantizer: the r12 verdict pinned refine recall AT
# the coverage ceiling, so cell coverage per scanned code was the
# only lever left, and the r13 ablation measured the 32/16 point at
# 0.99/0.96/1.00 refine recall (sf0.001/0.01/0.1) vs 16/8's
# 0.92/0.93/0.96. The probed-cell isin scan stays directory-pruned.
IVFPQ_REFINE_NPROBE = 16


def ivfpq_refine_topk(
    spark: SparkSession,
    path: str,
    sf_dir: str,
    k: int = IVFPQ_K,
    r: int | None = None,
    nprobe: int = IVFPQ_REFINE_NPROBE,
) -> DataFrame:
    """faiss-style `refine` stage over the IVFADC shortlist (the
    production answer to ADC's quantization error, named at the
    recall-floor calibration note below): take the top-`r` ADC
    candidates per query from the persisted index, fetch the FLOAT
    vectors for only those |Q|·r ids, re-rank by exact squared L2,
    return the top-`k`.

    Scale shape: the shortlist (|Q|·r rows — bounded) is BROADCAST
    into the float-corpus scan, so the corpus is never shuffled and
    the only full pass is one scan filtered by the broadcast hash
    (at 100 TB, lay the corpus out bucketed/sorted by vec_id and the
    fetch becomes a point-read of the matching buckets). The exact
    distance reuses exact_l2_topk's sequential zip_with fold, so the
    6dp rounding matches the oracle's list_sum bit-for-bit.

    `r=None` (the default) applies refine_shortlist_r: R grows with
    the candidate pool (one metadata-cheap count job), so the 10x/
    100x corpora get the 1000/10000-row shortlists that recover their
    recall while the shipped SFs stay at the 100 floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    if r is None:
        r = refine_shortlist_r(emb.count(), nprobe)
    q_rows = collect_bounded(
        emb.filter(F.col("vec_id") < IVFPQ_NQ).select("vec_id", "embedding"),
        IVFPQ_NQ,
        "vec_id",
    )
    queries = [
        (row["vec_id"], [float(x) for x in row["embedding"]]) for row in q_rows
    ]
    cand = ivfpq_topk_from_index(spark, path, queries, k=r, nprobe=nprobe).select(
        "query_id", "neighbor_id"
    )
    qdf = local_rows(spark, queries, "query_id long, qv array<double>")
    fetched = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    ).join(F.broadcast(cand), "neighbor_id")
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = fetched.join(F.broadcast(qdf), "query_id").select(
        "query_id", "neighbor_id", F.round(d2, 6).alias("d")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def q_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + exact-refine top-5 for the first 20 query vectors —
    the compress-then-rerank shape of ann_hamming_rerank applied to
    the persisted vector index: ADC prunes the corpus to a 100-row
    shortlist per query, exact L2 fixes ADC's quantization-error
    ranking within it. Shares the persisted index with
    q_ivfpq_persist_topk via session_ivfpq_index (no rebuild).
    Self-populates its "ivfpq_refine_topk" route entry (same regime
    as q_ivfpq_persist_topk — the bench's eviction keeps this query's
    own timing honest while the refine recall contract composes on
    the cached frame instead of re-running the route); the index path
    resolves eagerly so the index-exists/registered guarantee holds
    on every call."""
    from data_framework_spark.similarity.ann import cached_route

    path = session_ivfpq_index(spark, sf_dir)
    return cached_route(
        spark, sf_dir, "ivfpq_refine_topk",
        lambda: ivfpq_refine_topk(spark, path, sf_dir),
    )


# Observed refine-route recall@5 vs exact L2, measured per shipped SF
# before the floor was set (same calibration policy as
# IVFPQ_RECALL_FLOOR). Round-13, 32-cell trained quantizer + K=256
# books + nprobe=16: 0.99 (sf0.001) / 0.96 (sf0.01) / 1.00 (sf0.1) —
# the ncells growth the r12 verdict asked for, bought at the SAME
# scanned-code fraction as the r12 point (16/32 = 8/16 = half the
# codes; r12 measured 0.92/0.93/0.96 there). Refine recall continues
# to sit AT the coverage ceiling (test_round12.py re-pins it against
# the nprobe=16 sweep row): the shortlist drops no covered true
# neighbor, so unprobed cells remain the only loss.
IVFPQ_REFINE_RECALL_FLOOR = 0.90


def q_ivfpq_refine_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the refined route: recall@5 of
    q_ivfpq_refine_topk against the exact squared-L2 baseline via the
    shared ann.recall_vs_exact arithmetic. Expected ≥ the plain ADC
    route's recall at every SF (refine re-ranks a superset of the
    ADC top-k with the exact metric)."""
    from data_framework_spark.similarity.ann import recall_vs_exact

    # q_ivfpq_refine_topk self-populates its route entry
    approx = q_ivfpq_refine_topk(spark, sf_dir)
    return recall_vs_exact(
        exact_l2_topk(spark, sf_dir),
        approx,
        "ivfpq_refine",
        IVFPQ_REFINE_RECALL_FLOOR,
    )


# sweep extended to 16 in r13 so the curve still brackets the refine
# route's operating point (nprobe=16 of the 32 cells)
IVFPQ_NPROBE_SWEEP = (1, 2, 4, 8, 16)


def q_ivfpq_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 vs nprobe over the SAME persisted index — the number
    that substantiates the floor notes' claim that the residual
    recall gap is CELL COVERAGE, not ADC ranking: one (nprobe, total,
    hits, recall) row per swept nprobe ∈ {1,2,4,8,16} of the 32
    cells.
    The exact baseline is computed once and collected (bounded
    |Q|·k = 100 rows) so the sweep re-runs only the cheap ADC search.
    No monotonicity is asserted — ADC re-ranks a growing candidate
    superset, which can evict a true neighbor from a fixed top-k —
    the curve's VALUES are the hash-pinned contract.

    The `coverage` column is the route's CEILING at each nprobe: the
    fraction of exact-top-5 neighbors whose ASSIGNED cell is among
    the query's probed cells (computed from the persisted code lists
    + the same rounded-cosine cell ranking; the oracle re-derives it
    from scratch in SQL). recall ≤ coverage by construction; the
    measured flat ADC recall under a rising coverage is the sharp
    form of the refine-floor note — ADC ranking, not coverage, is
    the binding constraint at small nprobe, and the refine route is
    what converts added coverage into recall.

    Plan shape: the whole sweep is ONE codes-scan job, not one per
    nprobe (measured 6.3 → ~2 s warm at sf0.1 when introduced in r9;
    ~3.4 s under the r10 trained quantizer, whose balanced cells make
    the nprobe=8 probe genuinely touch more of the corpus; ~4.1 s
    under the r12 K=256 books — the 16× LUT/code-match fanout is the
    adoption's priced-in cost, and the LUT assembly is numpy/Arrow
    so the driver side stays flat). The LUT
    carries each probed cell's RANK; dlook depends only on (query,
    cell), so a joined code row belongs to every swept nprobe ≥ its
    rank — an `explode(filter(SWEEP, n -> n >= rank))` replicates it
    to exactly those sweeps, one subspace-ordered fold + one window
    over (nprobe, query) ranks all four curves together, and the
    recall join runs once against the exact×sweep grid. Since r10 the
    ORACLE shares the same single-derivation shape (see
    _nprobe_curve_sql)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = session_ivfpq_index(spark, sf_dir)
    q_rows = collect_bounded(
        emb.filter(F.col("vec_id") < IVFPQ_NQ).select("vec_id", "embedding"),
        IVFPQ_NQ,
        "vec_id",
    )
    queries = [
        (row["vec_id"], [float(x) for x in row["embedding"]]) for row in q_rows
    ]
    exact_rows = [
        (r["query_id"], r["neighbor_id"])
        for r in collect_bounded(
            exact_l2_topk(spark, sf_dir).select(
                F.struct("query_id", "rank").alias("key"),
                "query_id",
                "neighbor_id",
            ),
            IVFPQ_NQ * IVFPQ_K,
            "key",
        )
    ]
    max_n = max(IVFPQ_NPROBE_SWEEP)
    cents, books = ivfpq_index_read(path)
    lut = _adc_lut(cents, books, queries, max_n)
    lut_df = spark.createDataFrame(
        lut,
        schema="query_id long, cell int, rank int, subspace int, "
        "dlooks array<double>",
    )
    probed_cells = sorted(int(c) for c in lut["cell"].unique())
    codes = read_parquet(spark, f"{path}/codes").filter(
        F.col("cell").isin(probed_cells)
    )
    sweep_arr = F.array(*[F.lit(n) for n in IVFPQ_NPROBE_SWEEP])
    joined = (
        codes.join(F.broadcast(lut_df), ["cell", "subspace"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "subspace",
            F.element_at("dlooks", F.col("code") + 1).alias("dlook"),
            F.explode(
                F.filter(sweep_arr, lambda n: n >= F.col("rank"))
            ).alias("nprobe"),
        )
    )
    scored = joined.groupBy("nprobe", "query_id", "neighbor_id").agg(
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
    w = W.partitionBy("nprobe", "query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    approx = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= IVFPQ_K)
        .select("nprobe", "query_id", "neighbor_id", F.lit(1).alias("m"))
    )
    # coverage ceiling, driver-side over BOUNDED inputs only: the
    # per-query probed-cell ranking is already in the LUT; the exact
    # neighbors' assigned cells come from the persisted code lists.
    # Half-away-from-zero at 4dp (Python round is banker's and would
    # diverge from the oracle's round() — round-9 review).
    pr = lut[lut["subspace"] == 0]
    probe_rank = {
        (int(q), int(c)): int(r)
        for q, c, r in zip(pr["query_id"], pr["cell"], pr["rank"])
    }
    nids = sorted({nid for _, nid in exact_rows})
    cell_of = {
        r["vec_id"]: int(r["cell"])
        for r in collect_bounded(
            read_parquet(spark, f"{path}/codes")
            .select("vec_id", "cell")
            .distinct()
            .filter(F.col("vec_id").isin(nids)),
            len(nids),
            "vec_id",
        )
    }
    # a partially-written/corrupt index can miss an exact neighbor's
    # assignment row; fail with a diagnostic, not a bare KeyError
    # (round-10 advisory)
    missing = [nid for _, nid in exact_rows if cell_of.get(nid) is None]
    if missing:
        raise ValueError(
            f"IVFPQ index at {path}/codes has no cell assignment for "
            f"vec_id(s) {sorted(set(missing))[:5]} — the index is "
            "incomplete; rebuild it (delete the directory) before "
            "running the nprobe curve"
        )
    cov_rows = []
    for n in IVFPQ_NPROBE_SWEEP:
        cov = sum(
            1
            for qid, nid in exact_rows
            if probe_rank.get((qid, cell_of[nid]), max_n + 1) <= n
        )
        cov_rows.append(
            (n, math.floor(cov / len(exact_rows) * 1e4 + 0.5) / 1e4)
        )
    cov_df = local_rows(spark, cov_rows, "nprobe int, coverage double")
    exact_sweep = local_rows(
        spark,
        [
            (n, qid, nid)
            for n in IVFPQ_NPROBE_SWEEP
            for qid, nid in exact_rows
        ],
        "nprobe int, query_id long, neighbor_id long",
    )
    return (
        exact_sweep.join(approx, ["nprobe", "query_id", "neighbor_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.coalesce(F.sum("m"), F.lit(0)).alias("hits"),
        )
        .withColumn("recall", F.round(F.col("hits") / F.col("total"), 4))
        .join(F.broadcast(cov_df), "nprobe")
        .select("nprobe", "total", "hits", "recall", "coverage")
        .orderBy("nprobe")
    )


def _exact_l2_sql(k: int = IVFPQ_K, nq: int = IVFPQ_NQ, dim: int = 64) -> str:
    return f"""
SELECT query_id, neighbor_id, d, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank
  FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           round(list_sum(list_transform(range(1, {dim + 1}),
             i -> (q.embedding[i]::DOUBLE - e.embedding[i]::DOUBLE)
                * (q.embedding[i]::DOUBLE - e.embedding[i]::DOUBLE))), 6) AS d
    FROM embeddings q CROSS JOIN embeddings e
    WHERE q.vec_id < {nq} AND e.vec_id <> q.vec_id
  )
)
WHERE rank <= {k}
"""


# the oracle re-derives the refine shortlist size from ITS OWN
# count(*) with the same integer arithmetic as refine_shortlist_r —
# a Spark-side policy drift diverges the hash (the
# semantic_dedup_scaled precedent)
_REFINE_R_SQL = (
    f"least({IVFPQ_REFINE_R_CAP}, greatest({IVFPQ_REFINE_R}, "
    f"(((SELECT count(*) FROM embeddings) * {IVFPQ_REFINE_NPROBE}) "
    f"+ {IVFPQ_NCELLS * 10 - 1}) // {IVFPQ_NCELLS * 10}))"
)

Q_IVFPQ_REFINE_TOPK_SQL = f"""
WITH cand AS (
  SELECT query_id, neighbor_id
  FROM ({_ivfpq_sql(k=_REFINE_R_SQL, nprobe=IVFPQ_REFINE_NPROBE)})
),
ref AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_sum(list_transform(range(1, 65),
           i -> (qe.embedding[i]::DOUBLE - ne.embedding[i]::DOUBLE)
              * (qe.embedding[i]::DOUBLE - ne.embedding[i]::DOUBLE))), 6) AS d
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.query_id
  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, d, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rank
  FROM ref
)
WHERE rank <= {IVFPQ_K}
ORDER BY query_id, rank
"""


Q_IVFPQ_RECALL_CONTRACT_SQL = f"""
WITH exact_pairs AS (
  SELECT query_id, neighbor_id FROM ({_exact_l2_sql()})
),
approx AS (
  SELECT query_id, neighbor_id, 1 AS m FROM ({Q_IVFPQ_PERSIST_TOPK_SQL})
)
SELECT 'ivfpq' AS route,
       count(*)::BIGINT AS total,
       coalesce(sum(a.m), 0)::BIGINT AS hits,
       round(coalesce(sum(a.m), 0)::DOUBLE / count(*), 4) AS recall,
       TRUE AS meets_floor
FROM exact_pairs e
LEFT JOIN approx a USING (query_id, neighbor_id)
"""


Q_IVFPQ_REFINE_RECALL_SQL = f"""
WITH exact_pairs AS (
  SELECT query_id, neighbor_id FROM ({_exact_l2_sql()})
),
approx AS (
  SELECT query_id, neighbor_id, 1 AS m FROM ({Q_IVFPQ_REFINE_TOPK_SQL})
)
SELECT 'ivfpq_refine' AS route,
       count(*)::BIGINT AS total,
       coalesce(sum(a.m), 0)::BIGINT AS hits,
       round(coalesce(sum(a.m), 0)::DOUBLE / count(*), 4) AS recall,
       TRUE AS meets_floor
FROM exact_pairs e
LEFT JOIN approx a USING (query_id, neighbor_id)
"""


def _nprobe_curve_sql(
    ncells: int = IVFPQ_NCELLS,
    nq: int = IVFPQ_NQ,
    k: int = IVFPQ_K,
    dim: int = 64,
) -> str:
    """Per swept nprobe: the ADC recall and the coverage ceiling,
    re-derived from scratch with the TRAINED quantizer/codebooks.
    Round-10 rewrite mirroring the Spark route's single-scan shape:
    ONE shared CTE block computes the training, the code assignment,
    and the per-(query, probed-cell) LUT at max(nprobe); each code row
    then belongs to every swept nprobe ≥ its cell's probe rank (a
    sweep join, the SQL analog of Spark's explode(filter(SWEEP))), so
    the 4-point curve costs one training derivation instead of four
    full _ivfpq_sql embeddings (oracle wall 26.6 → ~5 s at sf0.01)."""
    from data_framework_spark.similarity.train import (
        lloyd_books_cte,
        lloyd_cents_cte,
    )

    sub = _SUB
    max_n = max(IVFPQ_NPROBE_SWEEP)
    sweep_list = ", ".join(str(n) for n in IVFPQ_NPROBE_SWEEP)
    dot = (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
    )
    sqd = (
        f"round(list_sum(list_transform(range(1, {sub} + 1),"
        f" i -> (p.sub[i] - c.csub[i]) * (p.sub[i] - c.csub[i]))), 9)"
    )
    qsqd = (
        f"round(list_sum(list_transform(range(1, {sub} + 1),"
        f" i -> (q.sub[i] - c.csub[i]) * (q.sub[i] - c.csub[i]))), 9)"
    )
    book_seed = f"""  SELECT (vec_id - {ncells})::INTEGER AS cid, subspace, sub AS csub
  FROM pparts WHERE vec_id >= {ncells} AND vec_id < {ncells + PQ_K}"""
    return f"""
WITH nrm AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
  FROM embeddings
),
{lloyd_cents_cte(ncells, dim=dim)},
cc AS (
  SELECT e.vec_id, round({dot} / (e.n * c.cn), 9) AS d, c.cid
  FROM nrm e CROSS JOIN cent c
),
ranked AS MATERIALIZED (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS r
  FROM cc
),
assigned AS MATERIALIZED (SELECT vec_id, cid AS cell FROM ranked WHERE r = 1),
probes AS (SELECT vec_id AS query_id, cid AS cell, r FROM ranked
           WHERE r <= {max_n} AND vec_id < {nq}),
res AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, {dim + 1}),
           i -> e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
  FROM assigned a
  JOIN embeddings e USING (vec_id)
  JOIN cent c ON c.cid = a.cell
),
pparts AS MATERIALIZED (
  SELECT vec_id, cell, s.s::INTEGER AS subspace,
         list_slice(r, s.s * {sub} + 1, s.s * {sub} + {sub}) AS sub
  FROM res, range(0, {PQ_M}) s(s)
),
{lloyd_books_cte(book_seed, "pparts", sub)},
pdist AS (
  SELECT p.vec_id, p.cell, p.subspace, c.cid, {sqd} AS d
  FROM pparts p JOIN pcents c USING (subspace)
),
codes AS (
  SELECT vec_id, cell, subspace, cid AS code
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, subspace ORDER BY d ASC, cid ASC) AS rn
    FROM pdist
  )
  WHERE rn = 1
),
qres AS (
  SELECT p.query_id, p.cell, p.r,
         list_transform(range(1, {dim + 1}),
           i -> e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS rv
  FROM probes p
  JOIN embeddings e ON e.vec_id = p.query_id
  JOIN cent c ON c.cid = p.cell
),
qparts AS (
  SELECT query_id, cell, r, s.s::INTEGER AS subspace,
         list_slice(rv, s.s * {sub} + 1, s.s * {sub} + {sub}) AS sub
  FROM qres, range(0, {PQ_M}) s(s)
),
lut AS (
  SELECT q.query_id, q.cell, q.r, q.subspace, c.cid AS code, {qsqd} AS dlook
  FROM qparts q JOIN pcents c USING (subspace)
),
sweep AS (SELECT unnest([{sweep_list}]) AS nprobe),
scored AS (
  -- written-order fold in subspace order (the _ivfpq_sql convention);
  -- a joined code row belongs to every swept nprobe >= its cell's
  -- probe rank — the sweep join replicates it to exactly those curves
  SELECT s.nprobe, l.query_id, a.vec_id AS neighbor_id,
         round(list_reduce([0.0::DOUBLE] || list(l.dlook ORDER BY l.subspace),
                           (acc, x) -> acc + x), 6) AS adc_dist
  FROM codes a
  JOIN lut l ON l.cell = a.cell AND l.subspace = a.subspace
            AND l.code = a.code
  JOIN sweep s ON s.nprobe >= l.r
  WHERE a.vec_id <> l.query_id
  GROUP BY s.nprobe, l.query_id, a.vec_id
),
approx AS (
  SELECT nprobe, query_id, neighbor_id, 1 AS m
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY nprobe, query_id
      ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM scored
  )
  WHERE rank <= {k}
),
exact_pairs AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM ({_exact_l2_sql()})
)
SELECT s.nprobe,
       count(*)::BIGINT AS total,
       coalesce(sum(a.m), 0)::BIGINT AS hits,
       round(coalesce(sum(a.m), 0)::DOUBLE / count(*), 4) AS recall,
       round(count(*) FILTER (WHERE rk.r IS NOT NULL)::DOUBLE / count(*), 4)
         AS coverage
FROM exact_pairs e
CROSS JOIN sweep s
LEFT JOIN approx a
  ON a.nprobe = s.nprobe AND a.query_id = e.query_id
 AND a.neighbor_id = e.neighbor_id
LEFT JOIN (SELECT e2.query_id, e2.neighbor_id, rk2.r
           FROM exact_pairs e2
           JOIN assigned asg ON asg.vec_id = e2.neighbor_id
           JOIN ranked rk2 ON rk2.vec_id = e2.query_id
                          AND rk2.cid = asg.cell) rk
  ON rk.query_id = e.query_id AND rk.neighbor_id = e.neighbor_id
 AND rk.r <= s.nprobe
GROUP BY s.nprobe
ORDER BY s.nprobe"""


Q_IVFPQ_NPROBE_CURVE_SQL = _nprobe_curve_sql()
