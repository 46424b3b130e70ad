"""Physical-plan assertions for headline queries — the properties that
matter at 100 TB, pinned so a refactor can't silently regress them:
predicate pushdown reaching the parquet scan, column pruning in
ReadSchema, broadcast joins where a dimension is involved, and the
absence of accidental cartesian products.

These parse `explain("formatted")` output. Plan text is version-
sensitive, so assertions are substring-level and target invariants
(filter names, join strategy names), not full plan shapes.
"""

import contextlib

import pytest
import io

from data_framework_spark.operators.relational import tpch_q1, tpch_q5
from data_framework_spark.operators.relational_more import tpch_q17_small_qty
from data_framework_spark.operators.slicing import (
    q_timeslice_events,
    q_zoom_lineitem,
)

SF = "/root/testdata/sf0.001"


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_timeslice_range_pushdown(spark):
    """The events time window must prune row groups at the scan: the
    coarse raw-ns twin predicate appears in PushedFilters (the exact
    µs filter alone cannot push — ts is a conversion expression)."""
    p = plan_text(q_timeslice_events(spark, SF))
    assert "GreaterThanOrEqual(ts," in p and "LessThanOrEqual(ts," in p


def test_zoom_pushdown_and_pruning(spark):
    p = plan_text(q_zoom_lineitem(spark, SF))
    assert "GreaterThanOrEqual(l_quantity,10.0)" in p
    assert "LessThanOrEqual(l_extendedprice,20000.0)" in p
    # projection pruning: untouched columns never leave the scan
    scan = p[p.index("ReadSchema") :].splitlines()[0]
    assert "l_shipdate" not in scan and "l_returnflag" not in scan


def test_q1_column_pruning(spark):
    p = plan_text(tpch_q1(spark, SF))
    scan = p[p.index("ReadSchema") :].splitlines()[0]
    assert "l_partkey" not in scan and "l_suppkey" not in scan
    assert "l_returnflag" in scan


def test_q5_broadcasts_dims_no_cartesian(spark):
    p = plan_text(tpch_q5(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_bucketed_join_no_exchange(spark):
    """The bucketBy layout must eliminate the orderkey shuffle: merge
    join over co-located buckets with no Exchange of either kind, and
    both scans reading bucket-aware."""
    from data_framework_spark.operators.bucketed import bucketed_join

    p = plan_text(bucketed_join(spark, SF))
    assert "SortMergeJoin" in p
    assert "Exchange hashpartitioning" not in p
    assert "BroadcastExchange" not in p
    assert p.count("Bucketed: true") == 2


def test_bucketed_layout_persists_across_sessions(
    spark, tmp_path, monkeypatch, jobs_started
):
    """The layout is written once into the index cache. A restarted
    session (no catalog tables) registers
    the persisted files without a write job, with the same no-Exchange
    plan and the same rows; a changed source stamp rebuilds it under
    new names."""
    import os
    import shutil

    from data_framework_spark.operators.bucketed import (
        bucketed_join,
        bucketed_tables,
        q_bucketed_join_lineitem,
    )
    from data_framework_spark.sources import formats

    monkeypatch.setenv(formats.INDEX_CACHE_ENV, str(tmp_path / "index"))
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("lineitem", "orders"):
        shutil.copyfile(f"{SF}/{t}.parquet", sf / f"{t}.parquet")
    sf = str(sf)

    names = bucketed_tables(spark, sf)
    rows = q_bucketed_join_lineitem(spark, sf).collect()
    assert rows

    for name in names:
        spark.sql(f"DROP TABLE {name}")
    got = []
    assert jobs_started(spark, lambda: got.append(bucketed_tables(spark, sf))) == 0
    assert got == [names]
    p = plan_text(bucketed_join(spark, sf))
    assert "SortMergeJoin" in p
    assert "Exchange hashpartitioning" not in p
    assert "BroadcastExchange" not in p
    assert p.count("Bucketed: true") == 2
    assert q_bucketed_join_lineitem(spark, sf).collect() == rows

    orders = os.path.join(sf, "orders.parquet")
    st = os.stat(orders)
    os.utime(orders, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert jobs_started(spark, lambda: got.append(bucketed_tables(spark, sf))) >= 1
    assert set(got[-1]).isdisjoint(names)
    assert q_bucketed_join_lineitem(spark, sf).collect() == rows


def test_q17_no_sort_merge_join(spark):
    """q17's decorrelated plan runs on broadcast joins only — a
    SortMergeJoin would mean the full-table shuffle crept back."""
    p = plan_text(tpch_q17_small_qty(spark, SF))
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_pack_sequences_no_single_task_stratum(spark):
    """The packing prefix sum must be two-level: the window over the
    full input partitions by (source, chunk) — many tasks per stratum
    — and only the chunk-totals window (thousands of times smaller)
    partitions by source alone."""
    from data_framework_spark.functions.sampling import q_pack_sequences

    p = plan_text(q_pack_sequences(spark, SF))
    # the big window runs over (source, chunk)
    assert "windowspecdefinition(source" in p
    assert p.count("chunk") >= 2  # chunk key present in window + join
    # count Window operators: one local (source, chunk), one offsets
    # (source only, over the tiny chunk-totals aggregate)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    local_specs = [s for s in specs if "chunk" in s]
    assert local_specs, f"no (source, chunk) window in plan: {specs}"


def test_corpus_queries_prune_columns(spark):
    """The corpus-curation scans must read only the columns they use —
    a 100 TB documents table scanned for all columns to compute a
    2-column metric is the canonical pruning failure."""
    from data_framework_spark.functions.corpus import (
        q_bigram_topk,
        q_quality_filter,
        q_shard_assign,
    )

    p = plan_text(q_quality_filter(spark, SF))
    scan = p[p.index("ReadSchema") :].splitlines()[0]
    assert "text" in scan and "source" in scan
    assert "doc_id" not in scan and "n_chars" not in scan and "lang" not in scan
    # bigram_topk reads text + doc_id (the round-8 lead-window build
    # partitions by doc); everything else stays pruned
    scan = plan_text(q_bigram_topk(spark, SF))
    scan = scan[scan.index("ReadSchema") :].splitlines()[0]
    assert "text" in scan and "doc_id" in scan
    assert "source" not in scan and "n_chars" not in scan and "lang" not in scan
    scan = plan_text(q_shard_assign(spark, SF))
    scan = scan[scan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in scan and "text" in scan and "lang" not in scan


def test_partitioned_write_prunes_partitions(spark):
    """The partitioned read-back must prune at the directory level:
    the source predicate appears as PartitionFilters on the scan, and
    the partition column is absent from ReadSchema (it comes from the
    path, not the data)."""
    from data_framework_spark.sources.formats import (
        q_partitioned_prune_roundtrip,
    )

    p = plan_text(q_partitioned_prune_roundtrip(spark, SF))
    i = p.index("PartitionFilters")
    pf = p[i : i + 200]
    assert "source" in pf
    scan = p[p.index("ReadSchema") :].splitlines()[0]
    assert "source" not in scan  # partition col is path-derived


def test_island_family_build_no_exchange(spark):
    """The find_structures family upstream is built in one worker pass:
    no shuffle, window or join stands between the generator and the
    parquet write."""
    from data_framework_spark.plans.structures import (
        _build_island_family_fields,
    )

    p = plan_text(_build_island_family_fields(spark))
    assert "MapInPandas" in p
    for op in ("Exchange", "Window", "Join"):
        assert op not in p, op


def test_find_structures_nulls_no_hessian_join(spark, monkeypatch):
    """find_structures' null-finding job (its one collect) computes the
    Hessian inside the nulls kernel: its plan runs a single pandas
    kernel over the family slice, with no join to a Hessian kernel."""
    from data_framework_spark.plans.structures import (
        _island_field_t0,
        find_structures,
        island_family_upstream,
    )

    ds = _island_field_t0(spark)
    up = island_family_upstream(spark, SF, [(0.0, 0)])
    frame_cls = type(up)  # the session's concrete DataFrame class
    collect = frame_cls.collect
    plans = []

    def recording_collect(self):
        plans.append(plan_text(self))
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    find_structures(ds, "b1", "b2", smoothing=1, upstream=up)
    monkeypatch.undo()
    for d in ds.scratch_cached:
        d.unpersist()
    (p,) = plans
    assert p.count("FlatMapGroupsInPandas (") == 1  # one kernel node
    assert "Join" not in p


@pytest.mark.slow  # r18: >10 s; slow lane (see pytest.ini)
def test_no_accidental_cartesian_products(spark):
    """Sweep EVERY registry query's physical plan: CartesianProduct
    may appear only in the explicitly-labeled exact baselines (none
    use it today — broadcast cross joins compile to
    BroadcastNestedLoopJoin, which is bounded by the broadcast side).
    A new query regressing to an unbroadcast cartesian join fails
    here before it fails at scale."""
    import pytest

    from data_framework_spark.registry import QUERIES

    # streaming replays execute work on plan construction; grid
    # kernels are applyInPandas over tiny fixed tiles — skip the
    # slow-to-plan entries, sweep the rest
    skip_prefixes = ("streaming_", "stateful_", "find_structures")
    offenders = []
    for name, q in QUERIES.items():
        if name.startswith(skip_prefixes):
            continue
        try:
            p = plan_text(q.fn(spark, SF))
        except Exception as ex:  # pragma: no cover - sweep robustness
            pytest.fail(f"{name} failed to plan: {ex}")
        if "CartesianProduct" in p:
            offenders.append(name)
    assert offenders == []
