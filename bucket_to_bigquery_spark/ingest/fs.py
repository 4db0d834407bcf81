"""Filesystem seam for the ingest path.

The reference reads its sources straight from object storage — ranged GCS
reads for header sniffs (commands/GetStorageToBuffer.js:14-42) and
minimatch globs over bucket listings (BucketToBigQuery.js:237-240). The
loader therefore must not assume POSIX paths: every file operation goes
through one of two implementations selected per-URI.

- :class:`LocalFS` — schemeless paths; plain ``os``/``shutil``.
- :class:`HadoopFS` — any ``scheme:`` URI, routed through the JVM Hadoop
  ``FileSystem`` API that Spark itself uses for its reads. ``file://``
  works out of the box (and is what the tests exercise end-to-end);
  ``hdfs://``, ``s3a://``, or ``gs://`` need only the connector jar +
  ``spark.hadoop.fs.*`` credentials on the session — no loader change.

Driver-side traffic stays O(file-count + KB-sniffs): reads are ranged
(head of file), listings return names only, and all row data moves
executor-side through ``spark.read``.
"""

from __future__ import annotations

import fnmatch
import os
import re
import shutil
from urllib.parse import urlparse

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:/")
_GLOB_META = re.compile(r"[*?\[]")


def has_scheme(uri: str) -> bool:
    """True for ``file:/...``, ``file:///...``, ``gs://bucket/...`` — any
    Hadoop-resolvable URI; false for plain POSIX paths."""
    return bool(_SCHEME_RE.match(uri))


def fs_for(spark, uri: str):
    """The filesystem implementation for ``uri`` (scheme → Hadoop)."""
    return HadoopFS(spark) if has_scheme(uri) else LocalFS()


def uri_parts(uri: str) -> tuple[str, str, str]:
    """(scheme, authority, path) with the path normalized — ``file:/x``,
    ``file:///x`` and ``/x`` all yield path ``/x``."""
    if not has_scheme(uri):
        return "", "", uri
    p = urlparse(uri)
    return p.scheme, p.netloc, p.path


def glob_base(pattern: str) -> str:
    """The deepest non-glob prefix of ``pattern`` — the directory (or exact
    file) that must be reachable for the pattern to ever match: ``.`` when
    the first segment already holds a glob character, and the root keeps
    its slash (``/x*.csv`` → ``/``, ``file:///x*.csv`` → ``file:///``)."""
    m = _GLOB_META.search(pattern)
    if not m:
        return pattern
    cut = pattern.rfind("/", 0, m.start())
    if cut < 0:
        return "."
    base = pattern[:cut]
    return pattern[: cut + 1] if not base or base[-1] in "/:" else base


def glob_match(path: str, pattern: str) -> bool:
    """minimatch-parity glob (BucketToBigQuery.js:240; readme.md:32) — the
    path matcher behind :func:`source_match`, so behind batch globbing
    (:meth:`LocalFS.glob`, :meth:`HadoopFS.glob`) and event-driven
    candidate matching alike:

    - ``**`` as a whole segment spans zero or more path segments (so
      ``a/**/b.csv`` matches ``a/b.csv``); ``*``, ``?`` and ``[...]``
      (``[!...]`` negated) match within one segment;
    - a segment starting with ``.`` matches only a pattern segment that
      starts with a literal ``.``: wildcards and ``**`` skip dot files and
      dot directories (minimatch's default ``dot: false``).

    Brace expansion (``{a,b}``) is not supported; braces match literally.
    """
    return _match_segments(path.split("/"), pattern.split("/"))


def _match_segments(parts: list[str], pats: list[str]) -> bool:
    if not pats:
        return not parts
    if pats[0] == "**":
        for i in range(len(parts) + 1):
            if _match_segments(parts[i:], pats[1:]):
                return True
            if i < len(parts) and parts[i].startswith("."):
                return False
        return False
    return (
        bool(parts)
        and (pats[0].startswith(".") or not parts[0].startswith("."))
        and fnmatch.fnmatchcase(parts[0], pats[0])
        and _match_segments(parts[1:], pats[1:])
    )


def source_match(uri: str, pattern: str) -> bool:
    """True iff ``uri`` is one of source ``pattern``'s files: the same
    scheme and authority, and a path that matches by :func:`glob_match`.
    Paths are compared as components, so ``file:/x`` and ``file:///x``
    agree. Batch globbing and event-driven candidate matching both ask
    this one question."""
    scheme, auth, path = uri_parts(uri)
    p_scheme, p_auth, p_path = uri_parts(pattern)
    return (scheme, auth) == (p_scheme, p_auth) and glob_match(path, p_path)


def _glob_files(fs, pattern: str) -> list[str]:
    """Files under ``pattern``'s deepest non-glob directory that
    :func:`source_match` it; a pattern without glob characters yields
    itself if it exists."""
    if not _GLOB_META.search(pattern):
        return [pattern] if fs.exists(pattern) else []
    base = glob_base(pattern)
    out = []
    for f in fs.list_recursive(base):
        if base == "." and not pattern.startswith("./"):
            f = f[2:]  # a bare relative pattern lists "./name"
        if source_match(f, pattern):
            out.append(f)
    return sorted(out)


def rel_path(child: str, root: str) -> str:
    """``child``'s path relative to ``root``, scheme-insensitively (Hadoop
    listings return ``file:/x`` even when the root was ``file:///x``)."""
    c, r = uri_parts(child)[2], uri_parts(root)[2]
    return c[len(r):].lstrip("/")


class LocalFS:
    """POSIX implementation — the original loader semantics, unchanged."""

    def read_head(self, path: str, n: int) -> bytes | None:
        try:
            with open(path, "rb") as fh:
                return fh.read(n)
        except OSError:
            return None

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as fh:
            return fh.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        if os.path.dirname(path):  # bare filename → cwd, nothing to create
            os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def rename_overwrite(self, src: str, dst: str) -> None:
        if os.path.dirname(dst):  # bare filename → cwd, nothing to create
            os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.replace(src, dst)

    def glob(self, pattern: str) -> list[str]:
        """Files that :func:`source_match` ``pattern`` (a walk below its
        deepest non-glob directory)."""
        return _glob_files(self, pattern)

    def list_recursive(self, root: str) -> list[str]:
        out = []
        for dirpath, _dirs, files in os.walk(root):
            out.extend(os.path.join(dirpath, f) for f in files)
        return sorted(out)


class HadoopFS:
    """Hadoop ``FileSystem``-backed implementation for schemed URIs.

    Uses the session's JVM gateway; each call resolves the filesystem for
    its URI, so one instance serves mixed schemes. Bounded reads go through
    ``BoundedInputStream`` so a header sniff of a 100 GB object still
    transfers only ``n`` bytes (the reference's ranged-GET parity).
    """

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()

    def _jpath(self, uri: str):
        return self._jvm.org.apache.hadoop.fs.Path(uri)

    def _jfs(self, uri: str):
        return self._jpath(uri).getFileSystem(self._conf)

    def read_head(self, uri: str, n: int) -> bytes | None:
        try:
            stream = self._jfs(uri).open(self._jpath(uri))
        except Exception:  # noqa: BLE001 — missing/unreadable → no sniff
            return None
        try:
            bounded = self._jvm.org.apache.commons.io.input.BoundedInputStream(
                stream, n
            )
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(bounded))
        finally:
            stream.close()

    def read_bytes(self, uri: str) -> bytes:
        stream = self._jfs(uri).open(self._jpath(uri))
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def write_bytes(self, uri: str, data: bytes) -> None:
        out = self._jfs(uri).create(self._jpath(uri), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def exists(self, uri: str) -> bool:
        return self._jfs(uri).exists(self._jpath(uri))

    def is_dir(self, uri: str) -> bool:
        fs, p = self._jfs(uri), self._jpath(uri)
        return fs.exists(p) and fs.getFileStatus(p).isDirectory()

    def mkdirs(self, uri: str) -> None:
        self._jfs(uri).mkdirs(self._jpath(uri))

    def delete(self, uri: str) -> None:
        self._jfs(uri).delete(self._jpath(uri), True)

    def rename_overwrite(self, src: str, dst: str) -> None:
        fs, jsrc, jdst = self._jfs(src), self._jpath(src), self._jpath(dst)
        parent = jdst.getParent()
        if parent is not None:
            fs.mkdirs(parent)
        fs.delete(jdst, True)
        if not fs.rename(jsrc, jdst):
            raise OSError(f"rename failed: {src} -> {dst}")

    def glob(self, pattern: str) -> list[str]:
        """:func:`source_match` over a remote listing. Hadoop's
        ``globStatus`` lacks ``**``, so this lists recursively from the
        deepest non-glob directory (names only, like the reference's
        bucket listing) and matches each path."""
        return _glob_files(self, pattern)

    def list_recursive(self, uri: str) -> list[str]:
        fs, p = self._jfs(uri), self._jpath(uri)
        if not fs.exists(p):
            return []
        it = fs.listFiles(p, True)
        out = []
        while it.hasNext():
            out.append(it.next().getPath().toString())
        return sorted(out)


__all__ = [
    "LocalFS", "HadoopFS", "fs_for", "has_scheme", "uri_parts", "rel_path",
    "glob_base", "glob_match", "source_match",
]
