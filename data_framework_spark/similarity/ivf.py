"""IVF (inverted-file) approximate nearest-neighbor search.

The third leg of the similarity stack (brute_force_topk = exact
baseline, bucketed_topk = sign-LSH): partition the corpus into the
Voronoi cells of a coarse quantizer, keep an inverted list per cell,
and at query time score only the `nprobe` cells nearest the query —
candidates shrink from N to ~nprobe·N/ncells, and the candidate
retrieval is an equi-join on cell id (shuffle-partitionable by cell),
never a cross product.

Quantizer choice: deterministic SAMPLED centroids (the first `ncells`
corpus vectors) rather than Lloyd-iterated k-means. That is k-means
with zero refinement steps — the IVF *structure* (cell assignment,
inverted lists, nprobe search) is identical, the centroids are
bit-reproducible in the DuckDB oracle, and a trained quantizer is a
drop-in replacement that changes recall, not the plan. Since round 10
the drop-in is PROVEN, not promised: `similarity/train.py`'s
fixed-point Lloyd (bit-identical across engines, oracle re-derives
the training) ships as the default in the composed IVFADC index
(`ivfpq.py`), where it lifted coverage/recall as measured in SURVEY
§8. This plain-IVF module deliberately keeps the zero-round sampled
quantizer as the minimal pedagogical form; swapping in
`train.lloyd_coarse_centroids` + `train.lloyd_cents_cte` is the same
two-line change ivfpq.py made. Cell
assignment is one Arrow-batched GEMM (batch-embedding-matrix ×
centroid-matrix in a pandas UDF): measured ~5× faster than the
equivalent constant-folded JVM array expressions (higher-order
functions rebuild the 64-literal centroid arrays per row), and the
vectorized form is exactly how a trained IVF assigns at scale.

Assignment ties/precision: cosines to centroids are rounded
half-away-from-zero to 9 decimals before the argmax (matching SQL
round()) and ties break to the smallest cell id, so Spark
(np.argmax first-max / lexsort) and DuckDB (row_number over d DESC,
cid ASC) agree bit-for-bit.

At 100 TB: the corpus-side assignment is one narrow projection
(vec_id, cell) computed in a single scan; the inverted lists are the
corpus repartitioned by cell; per-query work is bounded by the probed
lists. ncells scales as ~sqrt(N) with a trained quantizer.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from data_framework_spark.similarity.ann import cosine
from data_framework_spark.sources.formats import load_index_array
from data_framework_spark.sources.tables import (
    collect_bounded,
    load_table,
    read_parquet,
)

#: Bound on a persisted index's coarse quantizer, checked when its
#: centroids are loaded on the driver. ncells grows as ~sqrt(N), so
#: 65,536 cells cover a corpus of ~4 billion vectors.
MAX_CELLS = 1 << 16


def _centroid_rows(emb: DataFrame, ncells: int) -> list:
    """Deterministic coarse quantizer: the `ncells` lowest vec_ids.
    Bounded driver-side collect (ncells rows), exactly like the null-
    point params in plans/structures.py."""
    rows = collect_bounded(
        emb.filter(F.col("vec_id") < ncells).select("vec_id", "embedding"),
        ncells,
        "vec_id",
    )
    if len(rows) != ncells:
        raise ValueError(f"need vec_ids 0..{ncells-1} as centroids")
    return [[float(x) for x in r["embedding"]] for r in rows]


def _rounded_centroid_cosines(cents: list):
    """Returns f(Series of embeddings, or an (n, dim) float64 matrix)
    -> (n, ncells) float64 matrix of cosines to each centroid, rounded
    half-away-from-zero to 9 decimals (SQL round() semantics —
    np.round would banker's-round)."""
    C = np.asarray(cents, dtype=np.float64)
    Cn = np.sqrt((C * C).sum(axis=1))

    def cos_matrix(embs):
        if isinstance(embs, np.ndarray):
            X = embs
        else:
            X = np.stack(embs.to_numpy()).astype(np.float64)
        n = np.sqrt((X * X).sum(axis=1))
        cos = (X @ C.T) / (n[:, None] * Cn[None, :])
        return np.sign(cos) * np.floor(np.abs(cos) * 1e9 + 0.5) / 1e9

    return cos_matrix


def assign_cells(emb: DataFrame, cents: list) -> DataFrame:
    """corpus → (vec_id, embedding, cell): Arrow-batched GEMM argmax
    over the rounded centroid cosines (np.argmax takes the FIRST max →
    ties to the smallest cell id)."""
    cos_matrix = _rounded_centroid_cosines(cents)

    @pandas_udf("int")
    def cell_of(embs: pd.Series) -> pd.Series:
        return pd.Series(cos_matrix(embs).argmax(axis=1).astype("int32"))

    return emb.withColumn("cell", cell_of(F.col("embedding")))


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    ncells: int,
    nprobe: int,
) -> DataFrame:
    """Top-k cosine neighbors per query, searching only the nprobe
    cells nearest each query. Candidate retrieval is an equi-join on
    cell id; the probe side (|Q|·nprobe rows) broadcasts."""
    cents = _centroid_rows(emb, ncells)
    corpus = assign_cells(emb, cents).select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        "cell",
    )
    return _probe_and_score(corpus, queries, cents, id_col, vec_col, k, nprobe)


def _probe_and_score(
    corpus: DataFrame,  # (c_id, c_vec, cell) — assigned inverted lists
    queries: DataFrame,
    cents: list,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Shared IVF search tail over an already-assigned corpus — used
    by both the build-in-memory path (ivf_topk) and the
    reload-from-parquet path (ivf_topk_from_index), so the two routes
    cannot drift."""
    cos_matrix = _rounded_centroid_cosines(cents)
    cell_ids = np.arange(len(cents))

    @pandas_udf("array<int>")
    def probe_cells(embs: pd.Series) -> pd.Series:
        cos = cos_matrix(embs)
        # lexsort: primary -cos desc, secondary cell id asc
        return pd.Series(
            [
                np.lexsort((cell_ids, -row))[:nprobe].astype("int32").tolist()
                for row in cos
            ]
        )

    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("c_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("c_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 neighbors for the first 20 query vectors: 16 sampled
    centroids, 4 probed cells — the inverted-file scale path with a
    bit-exact DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, ncells=16, nprobe=4
    )


# --- persistable IVF index --------------------------------------------------

# Built once, searched by any later session without re-running
# assignment. The small coarse quantizer is an .npy file the driver
# loads with no Spark job; the inverted lists are Parquet written
# partitionBy("cell"), so at scale a probe of nprobe/ncells cells is
# a directory-pruned read instead of a full index scan.


def ivf_index_write(
    emb: DataFrame, path: str, id_col: str, vec_col: str, ncells: int
) -> None:
    """Build the IVF index and persist it: `{path}/centroids.npy`, the
    (ncells, dim) coarse quantizer in cid order, and `{path}/lists`
    (c_id, c_vec, cell) partitioned by cell."""
    cents = _centroid_rows(emb, ncells)
    os.makedirs(path, exist_ok=True)
    np.save(f"{path}/centroids.npy", np.asarray(cents, dtype=np.float64))
    (
        assign_cells(emb, cents)
        .select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"), "cell"
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/lists")
    )


def _index_array(path: str, shape: tuple) -> np.ndarray:
    """formats.load_index_array for a search path, which cannot go on
    without the array: a missing, empty, truncated or mis-shaped file
    is refused with a pointer to the rebuild."""
    arr = load_index_array(path, shape)
    if arr is None:
        raise ValueError(
            f"{path} is missing, empty, truncated or mis-shaped: the "
            "index is incomplete; rebuild it (delete the directory)"
        )
    return arr


def ivf_index_read(
    spark: SparkSession, path: str
) -> tuple[np.ndarray, DataFrame]:
    """Reload a persisted IVF index: (centroids in cid order,
    inverted-lists DataFrame). The centroids load starts no Spark job
    and refuses more than MAX_CELLS rows; the lists load is a lazy
    partitioned scan."""
    cents = _index_array(
        f"{path}/centroids.npy", (range(1, MAX_CELLS + 1), None)
    )
    return cents, read_parquet(spark, f"{path}/lists")


def ivf_topk_from_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Search a RELOADED index — identical semantics to ivf_topk via
    the shared _probe_and_score tail."""
    cents, lists = ivf_index_read(spark, path)
    return _probe_and_score(
        lists, queries, cents, id_col, vec_col, k, nprobe
    )


IVF_INDEX_PREFIX = "ivf_index_"

#: Bump on any ivf_index_write semantics change the params below
#: don't capture (the persistent cross-session cache keys on these).
IVF_INDEX_FMT = 2


def q_ivf_persist_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index persisted to parquet and searched after reload: the
    same 16-cell/4-probe/top-5 search as q_ann_ivf_topk, but the cell
    assignments come back from the partitioned on-disk index instead
    of the in-memory build. Oracle = the exact same SQL as
    q_ann_ivf_topk — a row lost, re-assigned, or type-mangled by the
    parquet roundtrip breaks the hash. Build-at-most-once ACROSS
    sessions via formats.persistent_index_dir (r14, the ivfpq
    precedent: cold = reload when a matching persisted index exists,
    else build; warm = reload)."""
    from data_framework_spark.similarity import ann as ann_mod
    from data_framework_spark.sources.formats import (
        build_source_fp,
        persistent_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = persistent_index_dir(
        sf_dir,
        IVF_INDEX_PREFIX,
        lambda p: ivf_index_write(emb, p, "vec_id", "embedding", ncells=16),
        params={
            "fmt": IVF_INDEX_FMT,
            "ncells": 16,
            "id": "vec_id",
            # cell assignment leans on ann.cosine — outside the
            # auto-folded defining module of the build lambda
            "dep_src": build_source_fp(ann_mod),
        },
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk_from_index(
        spark, path, queries, "vec_id", "embedding", k=5, nprobe=4
    )


def _ivf_sql(ncells: int = 16, nprobe: int = 4, k: int = 5, dim: int = 64) -> str:
    dot = (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> e.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
    )
    return f"""
WITH nrm AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
  FROM embeddings
),
cent AS (SELECT vec_id AS cid, embedding, n AS cn FROM nrm WHERE vec_id < {ncells}),
cc AS (
  SELECT e.vec_id, round({dot} / (e.n * c.cn), 9) AS d,
         c.cid
  FROM nrm e CROSS JOIN cent c
),
ranked AS (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS r
  FROM cc
),
assigned AS (SELECT vec_id, cid AS cell FROM ranked WHERE r = 1),
probes AS (SELECT vec_id AS query_id, cid AS cell FROM ranked
           WHERE r <= {nprobe} AND vec_id < 20),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(
           list_sum(list_transform(range(1, {dim + 1}),
                    i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (q.n * e.n), 6) AS cos
  FROM probes p
  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN nrm q ON q.vec_id = p.query_id
  JOIN nrm e ON e.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cos, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY query_id, rank
"""


Q_ANN_IVF_TOPK_SQL = _ivf_sql()


# --- IVF recall contract ----------------------------------------------------

# Observed recall@5 vs the exact baseline: 0.85 (sf0.001) / 0.85
# (sf0.01) / 0.89 (sf0.1). Floor 0.10 below the observed minimum,
# same calibration policy — and the same SF CERTIFICATION caveat — as
# ann.LSH_RECALL_FLOOR / RERANK_RECALL_FLOOR (certified for the three
# shipped SFs only; measure before trusting at a new one).
IVF_RECALL_FLOOR = 0.75


def q_ivf_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the IVF route (the ann_recall_contract
    pattern): recall@5 of q_ann_ivf_topk against the exact brute-force
    baseline plus a floor boolean the oracle states as literal TRUE.
    The recall arithmetic is the SHARED ann.recall_vs_exact helper,
    so the definition cannot drift between route contracts; both
    route results come from the session route cache."""
    from data_framework_spark.similarity.ann import (
        cached_route,
        q_cosine_topk,
        recall_vs_exact,
    )

    ivf = cached_route(
        spark, sf_dir, "ivf_topk", lambda: q_ann_ivf_topk(spark, sf_dir)
    )
    return recall_vs_exact(
        q_cosine_topk(spark, sf_dir), ivf, "ivf", IVF_RECALL_FLOOR
    )


from data_framework_spark.similarity.ann import Q_COSINE_TOPK_SQL  # noqa: E402

Q_IVF_RECALL_CONTRACT_SQL = f"""
WITH exact_pairs AS (
  SELECT query_id, neighbor_id FROM ({Q_COSINE_TOPK_SQL})
),
ivf AS (
  SELECT query_id, neighbor_id, 1 AS m FROM ({Q_ANN_IVF_TOPK_SQL})
)
SELECT 'ivf' AS route,
       count(*)::BIGINT AS total,
       coalesce(sum(i.m), 0)::BIGINT AS hits,
       round(coalesce(sum(i.m), 0)::DOUBLE / count(*), 4) AS recall,
       TRUE AS meets_floor
FROM exact_pairs e
LEFT JOIN ivf i USING (query_id, neighbor_id)
"""
