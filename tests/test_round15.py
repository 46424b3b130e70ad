"""Round-15 additions: the forgotten-FMT-bump hardening of the
persistent caches (r14 verdict ask 3 — every cross-session digest now
folds a source hash of the build code, so changed build semantics can
never serve an artifact persisted by older code even when the
family's *_FMT constant is not bumped). The PQ codebook pins of this
round live in tests/test_pq.py."""

from __future__ import annotations

import importlib.util
import os
import sys
import textwrap

from tests.conftest import SF_SMALL


def _import_temp_module(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


_BUILD_MODULE_SRC = textwrap.dedent(
    """\
    import os

    SCALE = {scale}

    def build(path):
        with open(os.path.join(path, "payload.txt"), "w") as fh:
            fh.write(str(SCALE))
    """
)


def test_build_source_fp_tracks_module_source(tmp_path):
    """The fingerprint is the MODULE source: an edit anywhere in the
    defining module (here: a build-semantics change the params don't
    name) diverges it; re-reading identical source does not."""
    from data_framework_spark.sources.formats import build_source_fp

    p = tmp_path / "r15_build_mod.py"
    p.write_text(_BUILD_MODULE_SRC.format(scale=1))
    m1 = _import_temp_module(str(p), "r15_build_mod_a")
    fp1 = build_source_fp(m1.build)
    m1b = _import_temp_module(str(p), "r15_build_mod_a2")
    assert build_source_fp(m1b.build) == fp1  # same source, same fp

    p.write_text(_BUILD_MODULE_SRC.format(scale=2))  # forgotten-bump edit
    m2 = _import_temp_module(str(p), "r15_build_mod_b")
    assert build_source_fp(m2.build) != fp1


def test_forgotten_fmt_bump_cannot_serve_stale_index(
    cache_root, tmp_path
):
    """END-TO-END (the r14 verdict's Done criterion): build code
    changes, params/fmt unchanged → persistent_index_dir must resolve
    a DIFFERENT directory and re-run the build, never reload the
    artifact the old code persisted."""
    from data_framework_spark.sources.formats import persistent_index_dir

    p = tmp_path / "r15_build_mod.py"
    params = {"fmt": 1}  # never bumped — that is the point

    p.write_text(_BUILD_MODULE_SRC.format(scale=1))
    old = _import_temp_module(str(p), "r15_fmt_mod_v1")
    d1 = persistent_index_dir(SF_SMALL, "r15unit_", old.build, params)
    assert open(os.path.join(d1, "payload.txt")).read() == "1"

    # 'new session' running EDITED build code with the same params
    p.write_text(_BUILD_MODULE_SRC.format(scale=2))
    new = _import_temp_module(str(p), "r15_fmt_mod_v2")
    d2 = persistent_index_dir(SF_SMALL, "r15unit_", new.build, params)
    assert d2 != d1
    assert open(os.path.join(d2, "payload.txt")).read() == "2"


# --- r15 verify-window rotation (r14 verdict ask 1) ---------------------------


# The r15 rotation-window test was superseded by
# tests/test_round16.py::test_r16_verify_window_arithmetic — each
# round's window replaces the previous round's arithmetic pin (the
# r13 -> r14 -> r15 precedent).


# --- concurrency lock + fingerprint fallbacks (r14 advisory, low) -------------


def test_prefix_lock_serializes_concurrent_builders(tmp_path):
    """Two same-root processes must SERIALIZE their evict/build/publish
    cycles: while a subprocess holds the prefix flock, entering
    _prefix_lock in this process blocks until release."""
    import subprocess
    import sys
    import time

    root = str(tmp_path)
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                "import fcntl, sys, time;"
                f"fh = open({root!r} + '/.r15lk_lock', 'a');"
                "fcntl.flock(fh, fcntl.LOCK_EX);"
                "print('held', flush=True);"
                "time.sleep(2.0)"
            ),
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        from data_framework_spark.sources.formats import _prefix_lock

        t0 = time.perf_counter()
        with _prefix_lock(root, "r15lk_"):
            waited = time.perf_counter() - t0
        # entered only after the holder's sleep released the flock
        assert waited >= 1.0, waited
    finally:
        holder.wait(timeout=10)


def test_build_source_fp_fallback_is_deterministic():
    """An object with no importable module and no file-backed source
    (exec'd code) must still fingerprint deterministically via its
    MARSHALLED bytecode — never raise, never produce a run-varying
    token (which would rebuild every call), and a constant-only
    semantics change must still diverge it (co_code alone would not:
    literals live in co_consts — r15 review)."""
    from data_framework_spark.sources.formats import build_source_fp

    def mk(code, tag):
        ns = {}
        exec(compile(code, "<r15-string>", "exec"), ns)
        fn = ns["build"]
        fn.__module__ = "r15_nonexistent_module_xyz"
        return fn

    code_v1 = "def build(path):\n    return path + '1'\n"
    f1 = mk(code_v1, "a")
    f2 = mk(code_v1, "b")
    fp1, fp2 = build_source_fp(f1), build_source_fp(f2)
    assert fp1 == fp2  # identical code, identical fp
    assert len(fp1) == 12 and int(fp1, 16) >= 0
    # constant-only change — same co_code, different co_consts
    f3 = mk("def build(path):\n    return path + '2'\n", "c")
    assert build_source_fp(f3) != fp1


# --- structural pins for the streaming-replay trims ---------------------------


def test_interval_join_replays_one_source_three_batches(spark, monkeypatch):
    """Pins the two structural r15 trims on the stream-stream join:
    the self-joined plan must run exactly ONE streaming source (a
    regression back to two independent readStreams doubles scans and
    offset commits per trigger), and the bounded replay must drain in
    exactly 3 data micro-batches with NO trailing zero-row
    watermark-only batch (no-data micro-batches are disabled for the
    replay)."""
    from data_framework_spark.streaming import stateful as st

    captured = {}
    orig = st.run_stateful_to_completion

    def capture(spark_, stream_out, output_mode="update",
                shuffle_partitions=8):
        out, progress = orig(
            spark_, stream_out, output_mode, shuffle_partitions
        )
        captured["progress"] = progress
        return out, progress

    monkeypatch.setattr(st, "run_stateful_to_completion", capture)
    n = st.q_streaming_interval_join(spark, SF_SMALL).count()
    assert n > 0
    progress = captured["progress"]
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) == 3
    assert len(progress) == 3  # no trailing no-data batch
    for p in progress:
        assert len(p["sources"]) == 1  # self-join: ONE replay source
