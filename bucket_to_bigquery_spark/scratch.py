"""Atomic write-once scratch materialization for derived bench inputs.

The single scratch layer for every query that writes its own input data:
the q46-q54 planted-corpus builders, q48d's prebuilt IVF index, the
q02c XML round-trip, and — since the r8 migration retired
relational.py's non-atomic ``_materialize_once``/``_scratch`` pair —
the q02/q02b/q05 scratch sources, the q04 ingest warehouse, the shared
streaming source, and q41's staged ingest tree. Data is written to a
process-private temp directory and published with one ``os.rename`` —
a reader can never observe a half-written directory, even if two
processes race to be first writer (the loser's rename fails and its
temp dir is discarded).

The key fingerprints SOURCE content only, not builder layout: the
``name`` argument doubles as the layout version — rename the key when a
builder's output layout changes (see the caller-side note in
queries/relational.py).

Staleness contract (r7, ADVICE r6 #2): the scratch key embeds a
CONTENT fingerprint of the source directory (sorted (entry, size,
mtime_ns) of its immediate children) alongside the sf_dir basename —
regenerating the testdata in place changes the fingerprint, so a
derived corpus can never be served stale against a refreshed source
(pre-r7 the key was the basename alone, and an in-place regeneration
surfaced as confusing gate failures: Spark read the stale materialized
corpus while the DuckDB oracle recomputed fresh). Paths remain
deterministic for an unchanged source and safe to wipe.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

_ROOT = "/tmp/b2bqs/v3"
_DONE = ".b2bqs_done"
_PUBLISHED: set[str] = set()


def _source_fingerprint(sf_dir: str) -> str:
    """8-hex digest of the source dir's (name, size, mtime_ns) listing.

    Non-recursive: the testdata layout is flat files (driver-written
    parquet), and even for directory-valued entries a regeneration
    rewrites children, bumping the directory mtime. A missing/unreadable
    source hashes to a constant so error surfacing stays with the reader
    that actually opens it.
    """
    h = hashlib.md5()
    try:
        for entry in sorted(os.listdir(sf_dir)):
            st = os.stat(os.path.join(sf_dir, entry))
            h.update(f"{entry}:{st.st_size}:{st.st_mtime_ns};".encode())
    except OSError:
        h.update(b"unreadable")
    return h.hexdigest()[:8]


def scratch_path(name: str, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return f"{_ROOT}/{name}/{tag}-{_source_fingerprint(sf_dir)}"


def _owner_alive(pid_suffix: str) -> bool:
    """True when the ``.tmp.<pid>`` owner still runs (or the suffix is
    unparseable — never delete what might be a live racer's build). A
    pid we cannot signal but that exists (EPERM) counts as alive."""
    try:
        pid = int(pid_suffix)
    except ValueError:
        return True
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM etc.: exists, just not ours to signal
    return True


def _prune_stale_siblings(path: str) -> None:
    """Remove same-tag siblings of ``path`` carrying a DIFFERENT
    fingerprint (plus their crashed ``.tmp.*`` leftovers).

    The fingerprinted keys mean every in-place source regeneration mints
    a fresh ``{tag}-{fp}`` directory; without pruning, the old ones —
    each a multi-hundred-MB materialized corpus at bench scale — pile up
    under ``/tmp/b2bqs`` forever. Anything with a different fingerprint
    describes a source state that no longer exists, so removal is safe
    by construction; a LIVE racer materializing the same (current) key
    writes under ``{path}.tmp.<pid>``, which is spared while its owner
    process is alive (a dead owner's leftover is reclaimed — see
    ``_owner_alive``). Only prunes under the scratch root: callers may hand
    ``materialize_once`` foreign paths whose siblings are not ours to
    manage.
    """
    parent = os.path.dirname(path)
    root = os.path.realpath(_ROOT)
    if not os.path.realpath(parent).startswith(root + os.sep):
        return
    base = os.path.basename(path)
    tag = base.rsplit("-", 1)[0]
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for entry in entries:
        if entry == base:
            continue
        if entry.startswith(f"{base}.tmp."):
            # Same-key temp: a LIVE racer's work-in-progress must be
            # spared, but a dead owner's leftover (a writer killed
            # before its cleanup handler ran — the SIGKILL edge of
            # ADVICE r8 #3) is reclaimed here, on the next materialize
            # of the same key. Unparseable suffixes are spared
            # (conservative: never delete what might be live).
            if not _owner_alive(entry.rsplit(".", 1)[-1]):
                shutil.rmtree(os.path.join(parent, entry),
                              ignore_errors=True)
            continue
        if entry.startswith(f"{tag}-"):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def materialize_once(path: str, write: Callable[[str], None]) -> str:
    """Write derived data exactly once per path, atomically published.

    First writer: writes to ``<path>.tmp.<pid>``, drops the done-marker
    inside, then renames into place — one atomic publish, no observable
    half-written state. Losing racers (rename fails because the winner's
    directory exists) discard their temp copy. A leftover UN-marked
    ``path`` from a crashed pre-atomic writer is removed before the
    rename attempt.

    Crash hygiene (ADVICE r8 #3): a ``write`` callback that raises has
    its temp dir removed before the exception propagates, and a writer
    killed too hard for that handler (SIGKILL) leaves a temp whose
    owner pid is dead — the sibling sweep reclaims it on the next
    materialize of the same key. Either way nothing is published and
    nothing is stranded.
    """
    marker = os.path.join(path, _DONE)
    if path not in _PUBLISHED:
        if not os.path.exists(marker):
            tmp = f"{path}.tmp.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                write(tmp)
                with open(os.path.join(tmp, _DONE), "w") as fh:
                    fh.write("ok")
            except BaseException:
                # ADVICE r8 #3: a writer that dies mid-build must not
                # strand its temp dir — at bench scale each is a
                # multi-hundred-MB half-built corpus. Remove and
                # re-raise; the caller sees the original failure and the
                # next materialize starts clean. (A SIGKILL that skips
                # this handler is reclaimed by the dead-owner sweep in
                # _prune_stale_siblings on the next materialize.)
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            if os.path.exists(path) and not os.path.exists(marker):
                # crashed non-atomic writer left debris; safe to clear
                shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                # another process published first; keep theirs
                shutil.rmtree(tmp, ignore_errors=True)
        _prune_stale_siblings(path)
        _PUBLISHED.add(path)
    return path
