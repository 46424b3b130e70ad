"""The fixed-point Lloyd trainers (similarity/train.py) and the
distance fold they share with PQ assignment and the ADC lookup tables.

- bitwise Spark-vs-DuckDB equality for the coarse quantizer and the
  subspace codebooks, the empty-cluster convention, the measured
  quantization-error cut, the trained-books session cache, and a
  hypothesis property pinning the fixed-point bridge itself
- layout independence of the trained output, including one-task and
  empty-task layouts
- one round of either trainer is one Spark job (two with the widened
  scan): no groupBy over partials
- `pq.sq_l2_fold` is bitwise the 3-D broadcast fold it replaced
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pytest


# --- Lloyd-trained quantizers (r9 verdict asks 2+3) --------------------------


def test_lloyd_coarse_bitwise_matches_oracle(spark, sf_dir):
    """The Spark fixed-point Lloyd trainer and the unrolled DuckDB CTE
    chain must produce BIT-IDENTICAL centroids — the property the whole
    trained-index oracle story rests on."""
    import duckdb
    import numpy as np

    from data_framework_spark.similarity.ivf import _centroid_rows
    from data_framework_spark.similarity.train import (
        lloyd_cents_cte,
        lloyd_coarse_centroids,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = lloyd_coarse_centroids(emb, _centroid_rows(emb, 16), rounds=2)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    sql = f"""WITH nrm AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS n
      FROM embeddings
    ),
    {lloyd_cents_cte(16, rounds=2)}
    SELECT cid, embedding FROM cent ORDER BY cid"""
    for cid, cent_sql in con.execute(sql).fetchall():
        assert np.array_equal(np.asarray(cents[cid]), np.asarray(cent_sql)), cid
    # and training actually moved every centroid off its seed
    seed = _centroid_rows(emb, 16)
    assert all(
        not np.array_equal(np.asarray(cents[i]), np.asarray(seed[i], dtype=np.float64))
        for i in range(16)
    )


def test_lloyd_empty_cluster_keeps_centroid(spark):
    """A cluster that attracts no members must keep its previous
    centroid (the k-means convention the oracle mirrors via LEFT JOIN
    + coalesce)."""
    import numpy as np

    from data_framework_spark.similarity.train import lloyd_coarse_centroids

    # vec 0 and 1 seed two cells; every corpus vector (including the
    # seeds' own rows) lies on vec 0's ray, so cell 1 goes empty
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])] + [
        (i, [float(i), 0.0, 0.0, 0.0]) for i in range(2, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seed = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    cents = lloyd_coarse_centroids(emb, seed, rounds=1)
    assert cents[1] == seed[1]  # empty cell: unchanged
    assert cents[0] != seed[0]  # populated cell: moved to the mean


def test_trained_codebooks_cut_quantization_error(spark, sf_dir):
    """The r9 verdict's ask-3 'Done' criterion: trained codebooks must
    measurably cut mean quantization error vs the sampled seeds."""
    from pyspark.sql import functions as F

    from data_framework_spark.similarity.pq import (
        _codebooks,
        assign_pq_codes,
        trained_codebooks,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seed_err = (
        assign_pq_codes(emb, _codebooks(emb)).agg(F.avg("err")).collect()[0][0]
    )
    trained_err = (
        assign_pq_codes(emb, trained_codebooks(emb))
        .agg(F.avg("err"))
        .collect()[0][0]
    )
    assert trained_err < seed_err * 0.9  # >=10% improvement, measured ~24%


def test_trained_codebooks_session_cache(
    spark, sf_dir, tmp_path, cache_root
):
    """One training run per (session, corpus content): the second call
    is a store hit; rewriting the source file retrains."""
    import shutil

    import numpy as np

    from data_framework_spark.similarity.pq import trained_codebooks
    from data_framework_spark.sources.tables import load_table

    work = tmp_path / "sf"
    shutil.copytree(sf_dir, work)
    emb = load_table(spark, str(work), "embeddings")
    b1 = trained_codebooks(emb)
    b2 = trained_codebooks(load_table(spark, str(work), "embeddings"))
    assert b2 is b1  # store hit, not a retrain
    os.utime(work / "embeddings.parquet")  # mtime bump = rewrite signal
    b3 = trained_codebooks(load_table(spark, str(work), "embeddings"))
    assert b3 is not b1  # stamp changed -> retrained
    assert np.array_equal(b3, b1)  # same content, same training


def test_lloyd_books_bitwise_matches_oracle(spark, sf_dir):
    """The subspace-codebook trainer must be bit-identical to its
    unrolled CTE chain, same as the coarse trainer — here on RAW
    subspace slices (the pq.py route; the residual route composes the
    two pinned pieces and is parity-covered by the IVFPQ oracles)."""
    import duckdb
    import numpy as np

    from data_framework_spark.similarity.pq import PQ_K, PQ_M, _SUB, _codebooks
    from data_framework_spark.similarity.train import (
        lloyd_books_cte,
        lloyd_subspace_books,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = lloyd_subspace_books(emb, "embedding", _codebooks(emb), rounds=2)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    seed = f"""  SELECT vec_id::INTEGER AS cid, subspace,
         list_transform(sub, x -> x::DOUBLE) AS csub
  FROM parts WHERE vec_id < {PQ_K}"""
    sql = f"""WITH parts AS (
      SELECT vec_id, s.s::INTEGER AS subspace,
             list_slice(embedding, s.s * {_SUB} + 1,
                        s.s * {_SUB} + {_SUB}) AS sub
      FROM embeddings, range(0, {PQ_M}) s(s)
    ),
    {lloyd_books_cte(seed, "parts", _SUB, rounds=2, out="cents")}
    SELECT subspace, cid, csub FROM cents ORDER BY subspace, cid"""
    rows = con.execute(sql).fetchall()
    assert len(rows) == PQ_M * PQ_K
    for s, k, csub in rows:
        assert np.array_equal(books[s][k], np.asarray(csub)), (s, k)


# --- property: the fixed-point bridge matches DuckDB on hostile floats -------


def test_fixed_point_matches_duckdb_round_property():
    """`_fixed_point` (Spark side) must equal
    `CAST(round(x * 1048576.0, 0) AS BIGINT)` (oracle side) on
    adversarial doubles — exact .5 boundaries, negatives, tiny and
    large magnitudes. This single equivalence is what makes the whole
    Lloyd training bit-identical across engines."""
    import duckdb
    import numpy as np

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_framework_spark.similarity.train import FP_SCALE, _fixed_point

    con = duckdb.connect()

    # exact half-boundary cases first (deterministic)
    edge = [0.0, -0.0, 0.5 / FP_SCALE, -0.5 / FP_SCALE, 1.5 / FP_SCALE,
            -2.5 / FP_SCALE, 1.0, -1.0, 3.0000004768371582]
    xs = np.asarray(edge, dtype=np.float64)
    got = _fixed_point(xs)
    for x, g in zip(xs, got):
        (want,) = con.execute(
            "SELECT CAST(round(? * 1048576.0, 0) AS BIGINT)", [float(x)]
        ).fetchone()
        assert int(g) == int(want), (x, int(g), want)

    @settings(max_examples=300, deadline=None)
    @given(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        )
    )
    def check(x):
        (want,) = con.execute(
            "SELECT CAST(round(? * 1048576.0, 0) AS BIGINT)", [x]
        ).fetchone()
        got = int(_fixed_point(np.asarray([x], dtype=np.float64))[0])
        assert got == int(want), (x, got, want)

    check()


def test_lloyd_training_partition_invariant(spark, sf_dir):
    """The fixed-point design's core claim: training results are
    independent of input partitioning (exact integer sums commute),
    so builds over differently-partitioned inputs are BITWISE equal —
    the property that makes the trained index reproducible on any
    cluster layout. The layouts span one task, few, many, and one
    whose tasks are mostly empty (hashing on `vec_id % 2` fills ≤ 2 of
    8 partitions; the other tasks see no row and emit no partial)."""
    import numpy as np

    from data_framework_spark.similarity.ivf import _centroid_rows
    from data_framework_spark.similarity.pq import _codebooks
    from data_framework_spark.similarity.train import (
        lloyd_coarse_centroids,
        lloyd_subspace_books,
    )
    from data_framework_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    seed = _centroid_rows(emb, 16)
    sparse = emb.repartition(8, F.col("vec_id") % 2)
    filled = sparse.select(F.spark_partition_id().alias("p")).distinct()
    assert filled.count() < 8  # some tasks really are empty
    layouts = [emb.repartition(n) for n in (1, 3, 29)] + [sparse]
    c0 = lloyd_coarse_centroids(layouts[0], seed, rounds=2)
    b0 = lloyd_subspace_books(layouts[0], "embedding", _codebooks(emb), 2)
    for df in layouts[1:]:
        c = lloyd_coarse_centroids(df, seed, rounds=2)
        assert c == c0  # exact float equality, not approx
        b = lloyd_subspace_books(df, "embedding", _codebooks(emb), 2)
        assert np.array_equal(b, b0)


# --- one Spark job per Lloyd round -------------------------------------------


@pytest.mark.parametrize("trainer", ["coarse", "books"])
def test_lloyd_round_is_one_job(spark, sf_dir, jobs_started, trainer):
    """One round of either trainer starts at most two jobs: the widened
    scan's map stage and the one pass that folds every task's batches
    into a single partial, collected and summed on the driver. A
    groupBy over per-batch partials would add a shuffle job."""
    from data_framework_spark.similarity.ivf import _centroid_rows
    from data_framework_spark.similarity.pq import _codebooks
    from data_framework_spark.similarity.train import (
        lloyd_coarse_centroids,
        lloyd_subspace_books,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # seeds are collected here, outside the counted job group
    if trainer == "coarse":
        run = partial(lloyd_coarse_centroids, emb, _centroid_rows(emb, 16), 1)
    else:
        run = partial(lloyd_subspace_books, emb, "embedding", _codebooks(emb), 1)
    assert 1 <= jobs_started(spark, run) <= 2


# --- the fused distance fold -------------------------------------------------


def _broadcast_fold(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """The fold sq_l2_fold replaced: (n, K, sub) differences, squared,
    added term by term in dim order."""
    diff = A[:, None, :] - B[None, :, :]
    sq = diff * diff
    acc = sq[:, :, 0]
    for j in range(1, A.shape[1]):
        acc = acc + sq[:, :, j]
    return acc


def _bits(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a, dtype=np.float64).view(np.int64)


def test_sq_l2_fold_bitwise_equals_broadcast_fold():
    """sq_l2_fold must equal the broadcast fold bit for bit, in both
    argument orders — (c − q)² equals (q − c)², which is what lets the
    LUT sites call it with the query as the row block — on inputs with
    signed zeros and magnitudes from 1e-150 to 1e150."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    from data_framework_spark.similarity.pq import sq_l2_fold

    mag = st.floats(min_value=1e-150, max_value=1e150)
    elem = st.one_of(
        st.sampled_from([0.0, -0.0]), mag, mag.map(lambda x: -x)
    )

    @settings(max_examples=300, deadline=None)
    @given(st.data())
    def check(data):
        n, k, sub = (data.draw(st.integers(1, hi)) for hi in (5, 6, 8))
        X = data.draw(arrays(np.float64, (n, sub), elements=elem))
        C = data.draw(arrays(np.float64, (k, sub), elements=elem))
        want = _bits(_broadcast_fold(X, C))
        assert np.array_equal(_bits(sq_l2_fold(X, C)), want)
        flipped = _bits(sq_l2_fold(C, X))
        assert np.array_equal(flipped, _bits(_broadcast_fold(C, X)))
        assert np.array_equal(flipped.T, want)

    check()
