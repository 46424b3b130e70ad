"""IVF-PQ (IVFADC): the composed index's build, layout, search and
recall pins, its component files and its refine policy. Oracle parity
for the `ivfpq_*` registry entries runs in test_oracle_parity.py like
every entry.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _index_arrays(path: str) -> tuple[np.ndarray, np.ndarray]:
    """The (centroids, residual codebooks) an IVF-PQ build saved at
    `path`, read straight from its .npy files."""
    return np.load(f"{path}/centroids.npy"), np.load(f"{path}/books.npy")


# --- build, layout and search -----------------------------------------------


def test_ivfpq_retrieves_exact_duplicates_first(spark, tmp_path):
    """End-to-end certification of the composed route: an exact
    duplicate of a query shares its coarse cell AND its full PQ code
    word, so its ADC distance equals the query's own quantization
    error — the per-subspace argmin, hence the MINIMUM possible ADC
    distance. For queries 16..19 (which have exact duplicates planted
    at 116..119) the duplicate must come back at rank 1 through the
    full build → persist → reload → probe → ADC pipeline."""
    from data_framework_spark.similarity.ivfpq import (
        ivfpq_index_write,
        ivfpq_topk_from_index,
    )

    rng = np.random.default_rng(7)
    vecs = {vid: rng.normal(size=64) for vid in range(120)}
    for vid in range(16, 20):
        vecs[100 + vid] = vecs[vid].copy()  # exact duplicates
    emb = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    )
    path = os.path.join(str(tmp_path), "idx")
    ivfpq_index_write(emb, path)
    queries = [
        (vid, [float(x) for x in vecs[vid]]) for vid in range(16, 20)
    ]
    got = ivfpq_topk_from_index(spark, path, queries).collect()
    top1 = {r.query_id: r.neighbor_id for r in got if r.rank == 1}
    assert top1 == {16: 116, 17: 117, 18: 118, 19: 119}


def test_ivfpq_index_layout_and_pruned_scan(spark, tmp_path):
    """The persisted layout is cell-partitioned and search reads it
    through a PartitionFilters-pruned scan: `cell=` directories exist
    on disk, the physical plan carries a partition filter on cell,
    and the float embeddings table is never scanned at query time."""
    from data_framework_spark.similarity.ivfpq import q_ivfpq_persist_topk
    from tests.test_plan_properties import plan_text

    q_ivfpq_persist_topk(spark, SF_SMALL).collect()  # build index
    from data_framework_spark.similarity.ivfpq import IVFPQ_INDEX_PREFIX
    from data_framework_spark.sources.formats import get_index_dir

    path = get_index_dir(SF_SMALL, IVFPQ_INDEX_PREFIX)
    assert path is not None
    cells = [
        d for d in os.listdir(f"{path}/codes") if d.startswith("cell=")
    ]
    assert len(cells) > 1
    p = plan_text(q_ivfpq_persist_topk(spark, SF_SMALL))
    assert "PartitionFilters" in p and "cell" in p
    assert "embeddings.parquet" not in p


class TestIvfpqCodesLayout:
    def test_one_file_per_cell(self, spark):
        """The r18 repartition("cell") before the partitioned codes
        write must keep the persisted layout at ≤1 parquet file per
        cell — the r17 widened build fanned it to ~tasks×cells tiny
        files, which every warm ADC scan re-paid (measured 409-903
        files; A/B: fragmented layout costs +0.2-0.4 s per ADC query
        and ~2x on the codes distinct scan)."""
        from data_framework_spark.similarity import ivfpq as M

        path = M.session_ivfpq_index(spark, SF_SMALL)
        cells = [
            d
            for d in os.listdir(os.path.join(path, "codes"))
            if d.startswith("cell=")
        ]
        assert cells, "no cell partitions written"
        for d in cells:
            files = [
                f
                for f in os.listdir(os.path.join(path, "codes", d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d}: {len(files)} files"


def test_ivfpq_residuals_subtract_assigned_centroid(spark):
    """Residual correctness: for every row, residual + centroid[cell]
    reconstructs the original vector bit-exactly in float64 (the
    subtraction is exact float64 arithmetic on both engines)."""
    from data_framework_spark.similarity.ivf import _centroid_rows
    from data_framework_spark.similarity.ivfpq import assign_and_residual
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = np.asarray(_centroid_rows(emb, 16), dtype=np.float64)
    rows = assign_and_residual(emb, cents.tolist()).collect()
    orig = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert len(rows) == len(orig)
    for r in rows[:50]:
        rec = np.asarray(r["residual"]) + cents[r["cell"]]
        assert np.array_equal(rec, orig[r["vec_id"]])


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_ivfpq_two_independent_builds_agree(spark, tmp_path):
    """Two from-scratch builds of the same corpus into different
    directories must produce identical component arrays, byte-
    identical code tables and identical search results — Arrow
    batching, mapInPandas partition order, and parquet write order
    must not leak into the index (the determinism the oracle hash
    relies on)."""
    from data_framework_spark.similarity.ivfpq import (
        ivfpq_index_write,
        ivfpq_topk_from_index,
    )

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [
            (vid, [float(x) for x in rng.normal(size=64)])
            for vid in range(150)
        ],
        "vec_id long, embedding array<float>",
    )
    pa, pb = os.path.join(str(tmp_path), "a"), os.path.join(str(tmp_path), "b")
    ivfpq_index_write(emb, pa)
    ivfpq_index_write(emb, pb)
    for a, b in zip(_index_arrays(pa), _index_arrays(pb)):
        assert np.array_equal(a, b)
    codes_a = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{pa}/codes").collect()
    )
    codes_b = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{pb}/codes").collect()
    )
    assert codes_a == codes_b
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 20).orderBy("vec_id").collect()
    ]
    ra = [tuple(r) for r in ivfpq_topk_from_index(spark, pa, queries).collect()]
    rb = [tuple(r) for r in ivfpq_topk_from_index(spark, pb, queries).collect()]
    assert ra == rb


def test_ivfpq_neighbors_come_from_probed_cells(spark):
    """Structural invariant of the pruned search: every returned
    neighbor's assigned cell is one of its query's nprobe probed
    cells (recomputed independently from the persisted centroids)."""
    import pandas as pd

    from data_framework_spark.similarity.ivf import _rounded_centroid_cosines
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_INDEX_PREFIX,
        IVFPQ_NPROBE,
        q_ivfpq_persist_topk,
    )
    from data_framework_spark.sources.formats import get_index_dir
    from data_framework_spark.sources.tables import load_table

    got = q_ivfpq_persist_topk(spark, SF_SMALL).collect()
    path = get_index_dir(SF_SMALL, IVFPQ_INDEX_PREFIX)
    cents, _ = _index_arrays(path)
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{path}/codes")
        .select("vec_id", "cell")
        .distinct()
        .collect()
    }
    emb = load_table(spark, SF_SMALL, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") < 20).orderBy("vec_id").collect()
    )
    cos = _rounded_centroid_cosines(cents)(
        pd.Series([
            np.asarray([float(x) for x in r["embedding"]]) for r in q_rows
        ])
    )
    cell_ids = np.arange(len(cents))
    probed = {
        r["vec_id"]: set(
            np.lexsort((cell_ids, -cos[i]))[:IVFPQ_NPROBE].tolist()
        )
        for i, r in enumerate(q_rows)
    }
    assert len(got) > 0
    for r in got:
        assert cell_of[r.neighbor_id] in probed[r.query_id], (
            r.query_id,
            r.neighbor_id,
        )


def test_adc_fold_is_subspace_ordered(spark):
    """The PQ/IVFPQ ADC aggregation folds the 8 subspace lookups in
    subspace order regardless of row arrival order — the property
    F.sum does NOT guarantee (round-8 advisory)."""
    rows = [(1, 7, 0.3), (1, 0, 0.1), (1, 3, 0.2)]
    df = spark.createDataFrame(rows, "neighbor_id int, subspace int, dlook double")
    folded = df.groupBy("neighbor_id").agg(
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
    assert folded.collect()[0]["adc_dist"] == round(0.0 + 0.1 + 0.2 + 0.3, 6)


# --- component files: .npy loads, refusals, rebuilds --------------------------


def test_index_component_loads_start_no_spark_job(
    spark, sf_dir, tmp_path, jobs_started
):
    """The small index components are .npy files read on the driver:
    loading the IVF centroids (ivf_index_read) and the IVF-PQ
    centroids and codebooks (ivfpq_index_read) starts no Spark job."""
    from data_framework_spark.similarity.ivf import (
        ivf_index_read,
        ivf_index_write,
    )
    from data_framework_spark.similarity.ivfpq import (
        ivfpq_index_read,
        session_ivfpq_index,
    )
    from data_framework_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ivf_path = str(tmp_path / "ivf")
    ivf_index_write(emb, ivf_path, "vec_id", "embedding", ncells=16)
    # the lazy lists scan infers its schema once per path
    ivf_index_read(spark, ivf_path)
    assert jobs_started(spark, lambda: ivf_index_read(spark, ivf_path)) == 0
    ivfpq_path = session_ivfpq_index(spark, sf_dir)
    assert jobs_started(spark, lambda: ivfpq_index_read(ivfpq_path)) == 0


def test_ivfpq_empty_books_dir_fails_loudly(spark, tmp_path):
    """An index whose books.npy holds no codes must raise a clear
    rebuild-pointing error, not search with an empty codebook."""
    from data_framework_spark.similarity.ivfpq import (
        PQ_M,
        _SUB,
        ivfpq_index_read,
    )

    path = tmp_path / "idx"
    path.mkdir()
    np.save(path / "centroids.npy", np.ones((1, PQ_M * _SUB)))
    np.save(path / "books.npy", np.zeros((PQ_M, 0, _SUB)))
    with pytest.raises(ValueError, match="rebuild"):
        ivfpq_index_read(str(path))


def test_ivfpq_partial_books_fail_loudly(spark, tmp_path):
    """A partially written books.npy — a subspace missing, or the file
    cut short — must refuse to load rather than serve a shrunken or
    zero-filled codebook."""
    from data_framework_spark.similarity.ivfpq import (
        PQ_M,
        _SUB,
        ivfpq_index_read,
    )

    path = tmp_path / "idx2"
    path.mkdir()
    np.save(path / "centroids.npy", np.ones((1, PQ_M * _SUB)))
    books = path / "books.npy"
    np.save(books, np.zeros((PQ_M - 1, 2, _SUB)))
    with pytest.raises(ValueError, match="rebuild"):
        ivfpq_index_read(str(path))
    np.save(books, np.zeros((PQ_M, 2, _SUB)))
    assert ivfpq_index_read(str(path))[1].shape == (PQ_M, 2, _SUB)
    books.write_bytes(books.read_bytes()[:-8])
    with pytest.raises(ValueError, match="rebuild"):
        ivfpq_index_read(str(path))


def test_ivfpq_rebuild_at_reused_path_serves_new_components(spark, tmp_path):
    """Rebuilding an index at a path this session already searched
    must serve the NEW build's centroids: the components are read
    from disk on every search, so no cache can hold the old ones."""
    from data_framework_spark.similarity.ivfpq import (
        ivfpq_index_read,
        ivfpq_index_write,
    )

    rng = np.random.default_rng(5)
    path = str(tmp_path / "idx")

    def build(offset: float) -> np.ndarray:
        emb = spark.createDataFrame(
            [
                (vid, [float(x) for x in rng.normal(size=64) + offset])
                for vid in range(60)
            ],
            "vec_id long, embedding array<float>",
        )
        ivfpq_index_write(emb, path, ncells=4)
        return ivfpq_index_read(path)[0]

    old = build(0.0)
    new = build(10.0)
    assert np.array_equal(new, _index_arrays(path)[0])
    assert not np.array_equal(new, old)


@pytest.mark.slow  # r18: >9 s; slow lane (see pytest.ini)
def test_ivfpq_reload_path_matches_build_path(spark, cache_root):
    """Query-level contract for ask 2: q_ivfpq_persist_topk answered
    from a RELOADED persistent index (fresh-session simulation) must
    return exactly the rows the building session returned — the
    hashes-can-never-change property of reload-not-retrain."""
    from data_framework_spark.similarity.ann import evict_route
    from data_framework_spark.similarity.ivfpq import q_ivfpq_persist_topk

    built = [tuple(r) for r in q_ivfpq_persist_topk(spark, SF_SMALL).collect()]
    assert built
    # what a fresh session would not have: the cached route result
    evict_route(spark, SF_SMALL, "ivfpq_topk")
    reloaded = [
        tuple(r) for r in q_ivfpq_persist_topk(spark, SF_SMALL).collect()
    ]
    assert reloaded == built


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_ivfpq_stale_cache_unreachable_after_fmt_bump(spark, cache_root, monkeypatch):
    """Bumping IVFPQ_INDEX_FMT (the build-code-change discipline) must
    diverge the digest so the persisted pre-bump index is never
    served."""
    from data_framework_spark.similarity import ivfpq
    from data_framework_spark.sources.formats import get_index_dir

    ivfpq.q_ivfpq_persist_topk(spark, SF_SMALL).collect()
    p1 = get_index_dir(SF_SMALL, ivfpq.IVFPQ_INDEX_PREFIX)
    assert p1 is not None
    monkeypatch.setattr(ivfpq, "IVFPQ_INDEX_FMT", ivfpq.IVFPQ_INDEX_FMT + 1)
    p2 = ivfpq.session_ivfpq_index(spark, SF_SMALL)
    assert p2 != p1


@pytest.fixture
def index_copy(spark, tmp_path, monkeypatch):
    """A copy of the built IVF-PQ index in a throwaway cache root that
    the session then resolves, so a test can damage it without
    touching the shared cache."""
    from data_framework_spark.similarity.ivfpq import session_ivfpq_index
    from data_framework_spark.sources import formats

    src = session_ivfpq_index(spark, SF_SMALL)
    root = tmp_path / "index_cache"
    root.mkdir()
    shutil.copytree(src, root / os.path.basename(src))
    monkeypatch.setenv(formats.INDEX_CACHE_ENV, str(root))
    path = session_ivfpq_index(spark, SF_SMALL)
    assert path == str(root / os.path.basename(src))
    return path


@pytest.mark.slow  # an IVF-PQ build
def test_bad_persisted_books_are_rebuilt(spark, index_copy):
    """A persisted tree whose books.npy no longer loads is deleted and
    rebuilt by the next call, which returns the oracle result."""
    from data_framework_spark.oracle import compare
    from data_framework_spark.similarity.ann import evict_route
    from data_framework_spark.similarity.ivfpq import INDEX_ARRAYS
    from data_framework_spark.sources.formats import load_index_array

    books = os.path.join(index_copy, "books.npy")
    with open(books, "r+b") as fh:
        fh.truncate(os.path.getsize(books) - 8)
    evict_route(spark, SF_SMALL, "ivfpq_topk")
    assert compare(spark, SF_SMALL, "ivfpq_persist_topk")["ok"]
    assert load_index_array(books, INDEX_ARRAYS["books.npy"]) is not None


# --- recall: contract, refine, nprobe coverage --------------------------------


def test_ivfpq_recall_contract_meets_floor(spark):
    """The contract row reports meets_floor=True at the shipped SF
    (floor calibrated from measured recall, ivfpq.py docstring)."""
    from data_framework_spark.similarity.ivfpq import q_ivfpq_recall_contract

    row = q_ivfpq_recall_contract(spark, SF_SMALL).collect()[0]
    assert row.total == 100
    assert row.meets_floor


def test_ivfpq_refine_shares_index_and_beats_adc(spark):
    """The refine stage must (a) reuse the persisted IVFADC index —
    no rebuild — and (b) never lose to the plain ADC route on recall:
    it re-ranks a SUPERSET of the ADC top-k with the exact metric."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_INDEX_PREFIX,
        q_ivfpq_persist_topk,
        q_ivfpq_recall_contract,
        q_ivfpq_refine_recall,
    )
    from data_framework_spark.sources.formats import get_index_dir

    q_ivfpq_persist_topk(spark, SF_SMALL).collect()
    p1 = get_index_dir(SF_SMALL, IVFPQ_INDEX_PREFIX)
    assert p1 is not None
    refined = q_ivfpq_refine_recall(spark, SF_SMALL).collect()[0]
    assert get_index_dir(SF_SMALL, IVFPQ_INDEX_PREFIX) == p1
    plain = q_ivfpq_recall_contract(spark, SF_SMALL).collect()[0]
    assert refined["recall"] >= plain["recall"]
    assert refined["meets_floor"]


def test_nprobe_curve_recall_bounded_by_coverage(spark):
    """Per swept nprobe, ADC recall can never exceed the coverage
    ceiling (a true neighbor outside every probed cell cannot be
    returned), and coverage is non-decreasing in nprobe (probed sets
    are nested)."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_NPROBE_SWEEP,
        q_ivfpq_nprobe_curve,
    )

    rows = q_ivfpq_nprobe_curve(spark, SF_SMALL).collect()
    assert [r["nprobe"] for r in rows] == list(IVFPQ_NPROBE_SWEEP)
    for r in rows:
        assert r["recall"] <= r["coverage"] + 1e-9, r
    covs = [r["coverage"] for r in rows]
    assert covs == sorted(covs)


def test_nprobe_curve_runs_no_python_rdd_scan(spark):
    """The curve's driver-side inputs (the exact x sweep grid, the
    coverage rows) are LocalRelations, not parallelized Python RDDs
    that run Python tasks for a few dozen rows."""
    from data_framework_spark.similarity.ivfpq import q_ivfpq_nprobe_curve

    df = q_ivfpq_nprobe_curve(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 0, plan


def test_k256_refine_recall_sits_at_coverage_ceiling(spark):
    """The round-12 headline, re-pinned over the r13 operating point
    (32 cells / refine nprobe=16): with 8-bit codebooks the refine
    route's recall EQUALS its nprobe coverage ceiling (r13 measured
    0.99/0.96/1.00 at sf0.001/0.01/0.1) — the ADC shortlist drops no
    covered true neighbor before the exact re-rank. Pinned at the
    test SF against the sweep row matching IVFPQ_REFINE_NPROBE; a
    future K/M/nprobe change that reopens the ADC-ranking gap fails
    here and must re-measure."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_REFINE_NPROBE,
        q_ivfpq_nprobe_curve,
        q_ivfpq_refine_recall,
    )
    from data_framework_spark.similarity.pq import PQ_K

    assert PQ_K == 256  # the r12 adoption; comments/floors assume it
    refine = q_ivfpq_refine_recall(spark, SF_SMALL).collect()[0]
    curve = {
        r["nprobe"]: r for r in q_ivfpq_nprobe_curve(spark, SF_SMALL).collect()
    }
    assert refine["meets_floor"]
    assert refine["recall"] == pytest.approx(
        curve[IVFPQ_REFINE_NPROBE]["coverage"], abs=1e-9
    )


# --- refine-shortlist R ~ pool/10 policy ---------------------------------------


def test_refine_shortlist_r_values():
    """The wired policy's pinned operating points: shipped SFs stay at
    the 100 floor (hashes unchanged), the 10x/100x corpora get the
    1000/10000-row shortlists that recover their recall (measured
    0.80 -> 1.00 and 0.50 -> 1.00, SURVEY §8 r14), and the cap binds
    at extreme N where scan-fraction, not shortlist, is the lever."""
    from data_framework_spark.similarity.ivfpq import (
        IVFPQ_REFINE_R_CAP,
        refine_shortlist_r,
    )

    assert refine_shortlist_r(500) == 100
    assert refine_shortlist_r(2000) == 100
    assert refine_shortlist_r(20000) == 1000
    assert refine_shortlist_r(200000) == 10000
    assert refine_shortlist_r(10**9) == IVFPQ_REFINE_R_CAP


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_refine_r_sql_matches_python_policy():
    """The oracle's count(*)-derived R expression must yield the exact
    integer refine_shortlist_r computes, for counts spanning the
    floor, the live band, and the cap — the hash-divergence property
    the wiring relies on."""
    import duckdb

    from data_framework_spark.similarity.ivfpq import (
        _REFINE_R_SQL,
        refine_shortlist_r,
    )

    con = duckdb.connect()
    for n in (1, 7, 500, 2000, 3200, 3201, 20000, 199999, 524288, 10**9):
        con.execute("DROP TABLE IF EXISTS embeddings")
        con.execute(
            f"CREATE TABLE embeddings AS SELECT * FROM range({n}) t(vec_id)"
        )
        got = con.execute(f"SELECT {_REFINE_R_SQL}").fetchone()[0]
        assert got == refine_shortlist_r(n), n


def test_nprobe_curve_refuses_an_index_missing_an_assignment(spark, index_copy):
    """An index whose codes lost an exact neighbour's rows makes the
    nprobe curve raise a diagnostic ValueError, not a bare KeyError."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    from data_framework_spark.similarity.ivfpq import (
        exact_l2_topk,
        q_ivfpq_nprobe_curve,
    )

    nid = exact_l2_topk(spark, SF_SMALL).first()["neighbor_id"]
    removed = 0
    for f in glob.glob(os.path.join(index_copy, "codes", "cell=*", "*.parquet")):
        table = papq.ParquetFile(f).read()
        kept = table.filter(pc.not_equal(table["vec_id"], nid))
        if kept.num_rows < table.num_rows:
            papq.write_table(kept, f)
            # Spark would check the rewritten file against its old
            # checksum file
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            removed += table.num_rows - kept.num_rows
    assert removed
    with pytest.raises(ValueError, match="no cell assignment"):
        q_ivfpq_nprobe_curve(spark, SF_SMALL)
