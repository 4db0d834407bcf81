"""scratch.py fixture protocol: keys track the source and the code, a
fixture is built once under an exclusive file lock, every user holds a
shared lock on it, and the sweep removes only what no live process
holds."""

from __future__ import annotations

import contextlib
import fcntl
import logging
import os
import signal
import subprocess
import sys
import time

import pytest

from bucket_to_bigquery_spark import scratch
from bucket_to_bigquery_spark.scratch import materialize_once, scratch_path

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A second engine process: materializes <name> over <src> under <root>,
# appending one line to <log> per build. Modes: "build" exits when done,
# "hang" stops mid-build, "hold" keeps its shared lock until killed, and
# "slow-hold" takes half a second to build, then holds. Prints
# "building" / "done".
_CHILD = """
import os, sys, time
from bucket_to_bigquery_spark import scratch
root, src, name, mode, log = sys.argv[1:6]
scratch._ROOT = root

def write(p):
    os.makedirs(p)
    with open(log, "a") as fh:
        fh.write(p + "\\n")
    open(os.path.join(p, "built-by-child"), "w").close()
    print("building", flush=True)
    time.sleep({"slow-hold": 0.5, "hang": 120}.get(mode, 0))

scratch.materialize_once(scratch.scratch_path(name, src), write)
print("done", flush=True)
if mode.endswith("hold"):
    time.sleep(120)
"""


@pytest.fixture
def root(tmp_path, monkeypatch):
    r = tmp_path / "root"
    monkeypatch.setattr(scratch, "_ROOT", str(r))
    yield r
    for path in [p for p in scratch._HELD if p.startswith(str(r))]:
        os.close(scratch._HELD.pop(path))


@pytest.fixture
def src(tmp_path):
    s = tmp_path / "sf9"
    s.mkdir()
    (s / "documents.parquet").write_bytes(b"v1")
    return s


def _child(root, src, name, mode, log):
    return subprocess.Popen(
        [sys.executable, "-c", _CHILD, str(root), str(src), name, mode, str(log)],
        cwd=_REPO, stdout=subprocess.PIPE, text=True,
    )


@contextlib.contextmanager
def _deadline(seconds):
    """Fail a step that blocks instead of hanging the suite."""
    def expire(*_):
        raise TimeoutError(f"blocked for {seconds}s")
    old = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def _kill(procs):
    for p in procs:
        p.kill()
        p.wait(timeout=30)


def _write(calls):
    def write(p: str) -> None:
        os.makedirs(p)
        calls.append(p)
    return write


def test_scratch_key_is_deterministic_for_unchanged_source(src):
    assert scratch_path("x", str(src)) == scratch_path("x", str(src))


def test_scratch_key_tracks_source_size_and_mtime(src):
    f = src / "documents.parquet"
    p1 = scratch_path("x", str(src))
    f.write_bytes(b"v2-longer")  # size change
    p2 = scratch_path("x", str(src))
    assert p2 != p1
    # mtime-only change (same size), e.g. an equal-size regeneration
    os.utime(f, ns=(1, 1))
    p3 = scratch_path("x", str(src))
    assert p3 not in (p1, p2)


def test_scratch_key_tracks_code_fingerprint(root, src, tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "_CODE_FP", "aaaaaaaa")
    p1 = scratch_path("x", str(src))
    calls: list[str] = []
    materialize_once(p1, _write(calls))
    monkeypatch.setattr(scratch, "_CODE_FP", "bbbbbbbb")
    p2 = scratch_path("x", str(src))
    assert p2 != p1 and os.path.dirname(p2) == os.path.dirname(p1)
    materialize_once(p2, _write(calls))
    assert calls == [p1, p2]  # changed code: the next call rebuilds
    # the fingerprint is computed from the package's .py files
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text("A = 1\n")
    (pkg / "notes.txt").write_text("ignored")
    monkeypatch.setattr(scratch, "_PKG", str(pkg))
    monkeypatch.setattr(scratch, "_CODE_FP", None)
    fp1 = scratch._code_fingerprint()
    (pkg / "notes.txt").write_text("still ignored")
    monkeypatch.setattr(scratch, "_CODE_FP", None)
    assert scratch._code_fingerprint() == fp1
    (pkg / "mod.py").write_text("A = 2\n")
    assert scratch._code_fingerprint() == fp1  # computed once per process
    monkeypatch.setattr(scratch, "_CODE_FP", None)
    assert scratch._code_fingerprint() != fp1


def test_regenerated_source_rematerializes(root, src, caplog):
    calls: list[str] = []
    with caplog.at_level(logging.INFO, logger="b2bqs.metrics"):
        materialize_once(scratch_path("corp", str(src)), _write(calls))
        materialize_once(scratch_path("corp", str(src)), _write(calls))
        assert len(calls) == 1  # unchanged source: built once, reused
        (src / "documents.parquet").write_bytes(b"v2!")  # regeneration
        materialize_once(scratch_path("corp", str(src)), _write(calls))
    assert len(calls) == 2  # new fingerprint -> fresh materialization
    builds = [r.getMessage() for r in caplog.records
              if r.getMessage().startswith("METRIC b2bqs.fixture_build_s.")]
    assert len(builds) == 2
    assert all(m.split()[1] == "b2bqs.fixture_build_s.corp" for m in builds)


def test_publish_prunes_stale_fingerprint_siblings(root, src):
    path = scratch_path("prune", str(src))
    parent = os.path.dirname(path)
    stale = os.path.join(parent, "deadbeef-cafebabe")
    os.makedirs(stale)
    open(os.path.join(stale, scratch._DONE), "w").close()
    orphan_lock = os.path.join(parent, "0badf00d-cafebabe.lock")
    open(orphan_lock, "w").close()
    # a DIFFERENT sf tag under the same name must be spared
    other_tag = os.path.join(os.path.dirname(parent), "sfX", "deadbeef-cafebabe")
    os.makedirs(other_tag)

    materialize_once(path, _write([]))
    assert not os.path.exists(stale), "stale-fingerprint sibling not pruned"
    assert os.path.exists(other_tag), "different-tag sibling wrongly pruned"
    # lock files stay, so a process that opened one locks the same file
    assert sorted(os.listdir(parent)) == sorted(
        [os.path.basename(path), os.path.basename(path) + ".lock",
         os.path.basename(stale) + ".lock", os.path.basename(orphan_lock)])


def test_sweep_skips_fingerprint_held_by_live_process(root, src, tmp_path):
    holder = _child(root, src, "held", "hold", tmp_path / "log")
    try:
        with _deadline(60):
            assert holder.stdout.readline() == "building\n"
            assert holder.stdout.readline() == "done\n"
        old = scratch_path("held", str(src))
        (src / "documents.parquet").write_bytes(b"v2!")
        new = materialize_once(scratch_path("held", str(src)), _write([]))
        assert new != old
        assert os.path.exists(os.path.join(old, scratch._DONE)), (
            "a fixture a live process holds was swept")
    finally:
        _kill([holder])
    scratch._prune_stale_siblings(new)  # the holder is gone now
    assert not os.path.exists(old)


def test_crashed_write_publishes_nothing_and_rebuilds(root, src):
    path = scratch_path("crash", str(src))
    calls: list[str] = []

    def dying_write(p: str) -> None:
        os.makedirs(p)
        open(os.path.join(p, "partial"), "w").close()
        calls.append(p)
        raise RuntimeError("simulated mid-build crash")

    with pytest.raises(RuntimeError):
        materialize_once(path, dying_write)
    assert os.listdir(os.path.dirname(path)) == [
        os.path.basename(path) + ".lock"], "a failed build left its directory"
    assert path not in scratch._HELD

    out = materialize_once(path, _write(calls))
    assert out == path and os.path.exists(os.path.join(path, scratch._DONE))
    assert len(calls) == 2  # the crash never counted as a build


def test_sigkilled_builder_is_rebuilt(root, src, tmp_path):
    builder = _child(root, src, "killed", "hang", tmp_path / "log")
    try:
        assert builder.stdout.readline() == "building\n"
    finally:
        builder.send_signal(signal.SIGKILL)
        builder.wait(timeout=30)
    path = scratch_path("killed", str(src))
    assert os.path.exists(os.path.join(path, "built-by-child"))
    assert not os.path.exists(os.path.join(path, scratch._DONE))

    calls: list[str] = []
    assert materialize_once(path, _write(calls)) == path
    assert calls == [path]
    assert not os.path.exists(os.path.join(path, "built-by-child")), (
        "the killed builder's half-written directory was kept")
    assert os.path.exists(os.path.join(path, scratch._DONE))


def test_marker_on_disk_short_circuits_second_process(root, src, tmp_path):
    builder = _child(root, src, "race", "build", tmp_path / "log")
    assert builder.wait(timeout=60) == 0
    calls: list[str] = []
    path = materialize_once(scratch_path("race", str(src)), _write(calls))
    assert calls == [], "marker on disk must short-circuit a second build"
    assert os.path.exists(os.path.join(path, "built-by-child"))


def test_live_holder_shares_finished_fixture(root, src, tmp_path):
    """A second live process reuses a fixture another live process
    holds, without waiting for that process to exit."""
    holder = _child(root, src, "shared", "hold", tmp_path / "log")
    try:
        with _deadline(60):
            assert holder.stdout.readline() == "building\n"
            assert holder.stdout.readline() == "done\n"
            calls: list[str] = []
            path = materialize_once(scratch_path("shared", str(src)),
                                    _write(calls))
        assert calls == [], "a held, finished fixture was rebuilt"
        assert os.path.exists(os.path.join(path, "built-by-child"))
    finally:
        _kill([holder])


def test_two_racing_processes_build_once(root, src, tmp_path):
    """The racer that loses waits out the build, not the builder's
    lifetime: both finish while both stay alive. The test first holds
    the lock shared, as a caller does while it checks the marker, so
    both racers find no marker and reach the exclusive step together."""
    log = tmp_path / "log"
    path = scratch_path("race2", str(src))
    os.makedirs(os.path.dirname(path))
    checker = os.open(f"{path}.lock", os.O_RDWR | os.O_CREAT, 0o644)
    fcntl.flock(checker, fcntl.LOCK_SH)
    racers = [_child(root, src, "race2", "slow-hold", log) for _ in range(2)]
    try:
        time.sleep(1.0)
        os.close(checker)
        with _deadline(60):
            for r in racers:
                assert "done\n" in iter(r.stdout.readline, "")
        assert len(log.read_text().splitlines()) == 1, "both racers built"
        assert os.path.exists(os.path.join(path, scratch._DONE))
    finally:
        _kill(racers)


def test_prune_never_touches_paths_outside_scratch_root(root, tmp_path):
    foreign = tmp_path / "data" / "sf9-aaaa"
    sibling = tmp_path / "data" / "sf9-bbbb"
    foreign.mkdir(parents=True)
    sibling.mkdir()
    scratch._prune_stale_siblings(str(foreign))
    assert sibling.exists()
