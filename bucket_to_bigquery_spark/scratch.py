"""Write-once scratch fixtures for the queries that derive their own input.

Every query that writes its own input data builds it here: the dedup and
embedding corpora, q48d's prebuilt IVF index, q55's history index, the
q02/q02b/q02c/q05 format round trips, the q04/q04e ingest warehouses,
the shared streaming source, q41's staged sink and q108's sink.

A fixture lives at ``<_ROOT>/<name>/<sf basename>/<source fp>-<code fp>``.
The source fingerprint hashes the sf_dir's absolute path and the
(entry, size, mtime_ns) listing of its children, so regenerating the
testdata in place gives a new key. The code fingerprint hashes this
package's ``.py`` files, so any change to a builder gives a new key too.

A fixture is built in place, at its final path, under an exclusive
``flock`` on ``<path>.lock``; the done marker is written last. Every
process that uses the fixture then holds a shared lock on it until it
exits, and the kernel drops a dead process's locks. So a directory
without a marker whose lock is free is a dead builder's leftover, and
is rebuilt; and the sweep removes the other fingerprints of the same
``<name>/<sf basename>`` whose lock no live process holds. Lock files
are never removed, so every process that opens one locks the same file.
Fixtures are safe to wipe while no engine process runs.
"""

from __future__ import annotations

import fcntl
import hashlib
import logging
import os
import shutil
import time
from collections.abc import Callable

_ROOT = "/tmp/b2bqs/v4"
_DONE = ".b2bqs_done"
_PKG = os.path.dirname(os.path.abspath(__file__))
_CODE_FP: str | None = None
# fixture path -> fd of the shared lock this process holds until it exits
_HELD: dict[str, int] = {}


def _source_fingerprint(sf_dir: str) -> str:
    """8-hex digest of the source dir's absolute path and its (name,
    size, mtime_ns) listing.

    Non-recursive: the testdata layout is flat files, and even for
    directory-valued entries a regeneration rewrites children, bumping
    the directory mtime. A missing/unreadable source hashes to a
    constant so error surfacing stays with the reader that opens it.
    """
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    try:
        for entry in sorted(os.listdir(sf_dir)):
            st = os.stat(os.path.join(sf_dir, entry))
            h.update(f"{entry}:{st.st_size}:{st.st_mtime_ns};".encode())
    except OSError:
        h.update(b"unreadable")
    return h.hexdigest()[:8]


def _code_fingerprint() -> str:
    """8-hex digest of this package's ``.py`` files (relative path and
    content), computed once per process."""
    global _CODE_FP
    if _CODE_FP is None:
        h = hashlib.md5()
        for root, dirs, files in os.walk(_PKG):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    h.update(os.path.relpath(path, _PKG).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
        _CODE_FP = h.hexdigest()[:8]
    return _CODE_FP


def scratch_path(name: str, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    fp = f"{_source_fingerprint(sf_dir)}-{_code_fingerprint()}"
    return f"{_ROOT}/{name}/{tag}/{fp}"


def _prune_stale_siblings(path: str) -> None:
    """Remove the other fingerprints in ``path``'s ``<name>/<sf
    basename>`` directory whose lock no live process holds.

    Each describes a source or code state other than this process's;
    every process using one holds its shared lock, so a free lock means
    nobody reads it. The lock file stays, so a process that opened it
    still locks the same file. Only prunes under the scratch root:
    callers may hand ``materialize_once`` foreign paths whose siblings
    are not ours to manage.
    """
    parent = os.path.dirname(path)
    if not os.path.realpath(parent).startswith(os.path.realpath(_ROOT) + os.sep):
        return
    for key in sorted(os.listdir(parent)):
        stale = os.path.join(parent, key)
        if stale == path or not os.path.isdir(stale):
            continue
        fd = os.open(f"{stale}.lock", os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            shutil.rmtree(stale, ignore_errors=True)
        except BlockingIOError:
            pass  # a live process uses it
        finally:
            os.close(fd)


def _build(path: str, write: Callable[[str], None]) -> None:
    """Run ``write(path)`` in place and write the done marker last; the
    caller holds the exclusive lock. A failed build leaves nothing."""
    shutil.rmtree(path, ignore_errors=True)  # a dead builder's leftover
    t0 = time.perf_counter()
    try:
        write(path)
        with open(os.path.join(path, _DONE), "w") as fh:
            fh.write("ok")
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    logging.getLogger("b2bqs.metrics").info(
        "METRIC b2bqs.fixture_build_s.%s %s",
        os.path.basename(os.path.dirname(os.path.dirname(path))),
        round(time.perf_counter() - t0, 3),
    )


def materialize_once(path: str, write: Callable[[str], None]) -> str:
    """Build ``path`` with ``write(path)`` unless a finished build is
    there, and hold a shared lock on it for the rest of the process.

    Only a builder or the sweep holds the exclusive lock, and only for
    a build or an ``rmtree``, so waiting for the shared lock always
    ends and any number of live processes share a finished fixture.
    The exclusive lock is tried, never waited for, since a finished
    fixture's users keep the shared lock until they exit: the first
    caller to get it builds, and a racing caller then waits for the
    shared lock and finds the marker. A ``write`` that raises has its
    directory removed before the exception propagates, and a builder
    killed too hard for that leaves an unmarked directory that the next
    caller rebuilds.
    """
    if path in _HELD:
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    marker = os.path.join(path, _DONE)
    fd = os.open(f"{path}.lock", os.O_RDWR | os.O_CREAT, 0o644)
    try:
        while True:
            fcntl.flock(fd, fcntl.LOCK_SH)  # waits out a build or a sweep
            if os.path.exists(marker):
                break
            fcntl.flock(fd, fcntl.LOCK_UN)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                time.sleep(0.05)  # another caller is checking or building
                continue
            if not os.path.exists(marker):
                _build(path, write)
            # the loop moves down to the shared lock and checks the
            # marker again: the switch is not atomic, and a sweep may
            # take the lock in between
    except BaseException:
        os.close(fd)
        raise
    _HELD[path] = fd
    _prune_stale_siblings(path)
    return path
