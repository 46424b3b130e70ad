"""The session artifact store (`data_framework_spark.artifacts`): its
contract on a fake session and fake frames, with no JVM, plus the
structural pin that no other module keys anything on the
application id."""

from __future__ import annotations

import pathlib
from types import SimpleNamespace

import pytest

from data_framework_spark import artifacts


class FakeFrame:
    """Records persist/unpersist calls into a shared log."""

    def __init__(self, name: str, log: list):
        self.name = name
        self.log = log

    def persist(self):
        self.log.append(("persist", self.name))
        return self

    def unpersist(self):
        self.log.append(("unpersist", self.name))
        return self


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture()
def fake_spark():
    """A fake session under an application id no other test uses, so
    the store starts empty."""
    import uuid

    return _session(f"app-{uuid.uuid4().hex}")


def test_builds_once_per_key(fake_spark):
    calls = []

    def build():
        calls.append(1)
        return object()

    a = artifacts.get_or_build(fake_spark, "k", ("x", 1), build)
    assert artifacts.get_or_build(fake_spark, "k", ("x", 1), build) is a
    assert calls == [1]
    b = artifacts.get_or_build(fake_spark, "k", ("x", 2), build)
    c = artifacts.get_or_build(fake_spark, "other", ("x", 1), build)
    assert len(calls) == 3 and a is not b and a is not c


def test_src_rewrite_releases_dependents_of_every_kind(fake_spark, tmp_path):
    src = tmp_path / "sf"
    src.mkdir()
    f = src / "t.parquet"
    f.write_bytes(b"v1")
    other = tmp_path / "other"
    other.mkdir()
    (other / "t.parquet").write_bytes(b"o")
    log = []
    route = artifacts.get_or_build(
        fake_spark, "route", "r", lambda: FakeFrame("route", log), src=str(src)
    )
    merges = artifacts.get_or_build(
        fake_spark, "merges", "m", lambda: ["merge"], src=str(src)
    )
    kept = artifacts.get_or_build(
        fake_spark, "route", "o", lambda: FakeFrame("kept", log), src=str(other)
    )
    f.write_bytes(b"v2-longer")
    # a call naming the rewritten src, of a third kind, releases both
    fresh = artifacts.get_or_build(
        fake_spark, "funnel", "f", lambda: FakeFrame("funnel", log), src=str(src)
    )
    assert log == [("unpersist", "route")]
    assert artifacts.get_or_build(
        fake_spark, "merges", "m", lambda: ["retrained"], src=str(src)
    ) == ["retrained"] != merges
    assert artifacts.get_or_build(
        fake_spark, "route", "r", lambda: FakeFrame("route2", log), src=str(src)
    ) is not route
    # entries of other sources and the new entry survive
    assert artifacts.get_or_build(fake_spark, "route", "o", lambda: None) is kept
    assert artifacts.get_or_build(fake_spark, "funnel", "f", lambda: None) is fresh


def test_app_change_drops_entries_without_unpersisting():
    log = []
    old = _session("app-old-for-drop-test")
    new = _session("app-new-for-drop-test")
    frame = artifacts.get_or_build(old, "route", "r", lambda: FakeFrame("a", log))
    artifacts.hold(old, "held", FakeFrame("h", log))
    log.clear()
    rebuilt = artifacts.get_or_build(
        new, "route", "r", lambda: FakeFrame("b", log)
    )
    assert rebuilt is not frame
    artifacts.hold(new, "held", FakeFrame("h2", log))
    # the old session's frames were dropped, never unpersisted
    assert log == [("persist", "h2")]


def test_hold_unpersists_before_it_persists(fake_spark):
    log = []
    first = artifacts.hold(fake_spark, "grid", FakeFrame("first", log))
    second = artifacts.hold(fake_spark, "grid", FakeFrame("second", log))
    assert log == [
        ("persist", "first"),
        ("unpersist", "first"),
        ("persist", "second"),
    ]
    assert first is not second
    # one held frame per kind: holding another kind leaves it alone
    artifacts.hold(fake_spark, "vocab", FakeFrame("vocab", log))
    assert ("unpersist", "second") not in log


def test_evict_one_key_all_keys_and_absent_key(fake_spark):
    log = []
    for key in ("a", "b", "c"):
        artifacts.get_or_build(
            fake_spark, "route", key, lambda key=key: FakeFrame(key, log)
        )
    artifacts.get_or_build(fake_spark, "books", "a", lambda: FakeFrame("books", log))
    artifacts.evict(fake_spark, "route", key="a")
    assert log == [("unpersist", "a")]
    artifacts.evict(fake_spark, "route", key="a")  # absent: a no-op
    artifacts.evict(fake_spark, "missing-kind")
    assert log == [("unpersist", "a")]
    artifacts.evict(fake_spark, "route")
    assert sorted(log[1:]) == [("unpersist", "b"), ("unpersist", "c")]
    # the other kind is untouched, and evicted keys rebuild
    assert artifacts.get_or_build(fake_spark, "books", "a", lambda: None) is not None
    assert artifacts.get_or_build(fake_spark, "route", "b", lambda: "new") == "new"


def test_only_the_store_reads_the_application_id():
    """Session keying lives in artifacts.py alone, so per-module
    session caches (each with its own pruning and unpersist rules)
    cannot come back."""
    pkg = pathlib.Path(artifacts.__file__).parent
    readers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p != pkg / "artifacts.py" and "applicationId" in p.read_text()
    )
    assert readers == []
