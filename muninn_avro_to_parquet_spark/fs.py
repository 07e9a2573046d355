"""Filesystem seam: URI-aware listing and byte I/O for the ingest path.

The reference is object-store-native — it lists GCS globs and opens blobs
through Beam's FileSystems abstraction (/root/reference/main.py:492,517 and
the matcher at main.py:604-608) — so the engine's listing, header reads,
executor-side block decode, and streaming-checkpoint state must not assume
a local filesystem. This module is the single seam all of them go through:

- **plain paths** (no ``scheme://``) keep the exact stdlib behavior they
  always had (``glob.glob``, ``open``) — zero overhead, zero behavior
  change for local runs;
- **URIs** (``file://``, ``s3://``, ``gs://``, ``hdfs://`` …) route
  through ``pyarrow.fs.FileSystem.from_uri``, which resolves the right
  object-store client on whatever node the call runs on — driver (listing
  and header reads) or executor (block decode inside ``mapInPandas``).
  pyarrow ships S3/GCS/Hadoop clients in the standard wheel, so executors
  need no extra dependencies.

``file://`` exercises the identical code path an object store takes
(URI parse → from_uri → pyarrow filesystem API), which is what the tests
pin down without needing network access.

Glob semantics over URIs: the fixed directory prefix (everything before
the first ``*``/``?``/``[``) is enumerated with ONE recursive listing —
the same single-enumeration contract Beam's GCS matcher uses, and the
shape object stores are good at (list-prefix) — then candidates are
matched against the full pattern (``**`` crosses ``/``, ``*``/``?`` stay
within a segment, mirroring ``glob.glob(recursive=True)``).
"""

from __future__ import annotations

import glob as _glob
import os
import re
from typing import BinaryIO


def is_uri(path: str) -> bool:
    return "://" in path


# scheme → pyarrow FileSystem instance, consulted before from_uri. Lets a
# deployment plug a custom client (an emulator endpoint, a PyFileSystem
# wrapping an fsspec handler, an in-memory filesystem for conformance
# tests) under its own scheme without env-level configuration. The
# registry is per-process, but the executor-side consumers (split decode,
# the OCF sink) capture a picklable snapshot into their task closures via
# registry_snapshot/ensure_registry, so driver registration reaches every
# worker for picklable filesystems (proved end-to-end by
# tests/test_s3_conformance.py against a live S3 emulator).
_REGISTERED: dict[str, object] = {}


def register_filesystem(scheme: str, filesystem) -> None:
    """Route ``scheme://...`` URIs to a caller-supplied pyarrow
    FileSystem. The path handed to the filesystem is the URI minus
    ``scheme://`` (authority kept — S3-style ``bucket/key`` semantics)."""
    _REGISTERED[scheme] = filesystem


def unregister_filesystem(scheme: str) -> None:
    _REGISTERED.pop(scheme, None)


def has_registered_filesystem(path: str) -> bool:
    """True when ``path`` is a URI whose scheme was explicitly registered
    — i.e. this engine (not the JVM's Hadoop connectors) owns its I/O."""
    return is_uri(path) and path.split("://", 1)[0] in _REGISTERED


def registry_snapshot() -> dict[str, object]:
    """Picklable snapshot of this process's filesystem registry. Capture
    on the DRIVER at plan-build time and replay inside each task via
    ``ensure_registry`` so ``register_filesystem`` behaves cluster-wide:
    pyarrow filesystems (including ``S3FileSystem`` with
    ``endpoint_override`` — the emulator/conformance case) pickle their
    construction options, so the snapshot rides the task closure.

    Filesystems that cannot pickle (e.g. pyarrow's in-process
    ``_MockFileSystem``) are skipped: they stay DRIVER-LOCAL, which keeps
    driver-only consumers (listing, checkpoint ledgers) working while the
    task closure remains serializable."""
    import pickle

    snap: dict[str, object] = {}
    for scheme, filesystem in _REGISTERED.items():
        try:
            pickle.dumps(filesystem)
        except Exception:
            continue
        snap[scheme] = filesystem
    return snap


def ensure_registry(snapshot: dict[str, object]) -> None:
    """Worker-side half of the cluster-wide ``register_filesystem``
    contract: merge a driver-captured snapshot into this process's
    registry. Process-local registrations win (setdefault), so an
    executor bootstrap that pre-registers a scheme is never clobbered."""
    for scheme, filesystem in snapshot.items():
        _REGISTERED.setdefault(scheme, filesystem)


def map_in_tasks(spark, items: list, n: int, fn, schema):
    """DataFrame of ``n`` tasks over ``items``, round-robin: task ``t``
    yields the Arrow batches of ``fn(items[t::n])`` under ``schema``.

    The tasks are driven by ``spark.range(n, numPartitions=n)`` (one row,
    so one task, per partition; the row's value is ``t``) and ``items``
    rides the pickled task closure, which PySpark broadcasts once it
    passes its broadcast threshold. So a read is one job of ``n`` tasks:
    no Python RDD stage to build a split frame (``createDataFrame`` of a
    list) and no exchange to spread it. The driver's filesystem registry
    (``registry_snapshot``) is replayed once per task."""
    snapshot = registry_snapshot()

    def gen(batches):
        ensure_registry(snapshot)
        for rb in batches:
            for t in rb.column(0).to_pylist():
                yield from fn(items[t::n])

    return spark.range(n, numPartitions=n).mapInArrow(gen, schema=schema)


def resolve(uri: str):
    """URI → (pyarrow FileSystem, filesystem-local path)."""
    from pyarrow.fs import FileSystem

    scheme, sep, rest = uri.partition("://")
    if sep and scheme in _REGISTERED:
        return _REGISTERED[scheme], rest
    return FileSystem.from_uri(uri)


def open_input(path: str) -> BinaryIO:
    """Seekable binary reader for a path or URI (header reads and
    split-range block decode both need random access)."""
    if not is_uri(path):
        return open(path, "rb")
    fs, p = resolve(path)
    return fs.open_input_file(p)


def open_output(path: str) -> BinaryIO:
    if not is_uri(path):
        return open(path, "wb")
    fs, p = resolve(path)
    return fs.open_output_stream(p)


def file_size(path: str) -> int:
    if not is_uri(path):
        return os.path.getsize(path)
    fs, p = resolve(path)
    info = fs.get_file_info(p)
    return info.size


def file_mtime(path: str) -> float:
    """Last-modification time of a file as a POSIX timestamp (0.0 when
    the store doesn't report one — treat as 'unknown age', i.e. old)."""
    if not is_uri(path):
        return os.path.getmtime(path)
    fs, p = resolve(path)
    mt = fs.get_file_info(p).mtime
    return mt.timestamp() if mt is not None else 0.0


def exists(path: str) -> bool:
    if not is_uri(path):
        return os.path.exists(path)
    from pyarrow.fs import FileType

    fs, p = resolve(path)
    return fs.get_file_info(p).type != FileType.NotFound


def makedirs(path: str) -> None:
    if not is_uri(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, p = resolve(path)
    fs.create_dir(p, recursive=True)


def delete_file(path: str) -> None:
    if not is_uri(path):
        os.remove(path)
        return
    fs, p = resolve(path)
    fs.delete_file(p)


def delete_dir(path: str) -> None:
    """Recursively delete a directory tree; missing path is a no-op."""
    if not is_uri(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    fs, p = resolve(path)
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        pass


def move(src: str, dst: str) -> None:
    """Move/rename a file. Local paths use ``os.replace`` (atomic on POSIX);
    URIs use the filesystem's own move (a true rename where the store has
    one, pyarrow's copy+delete where it doesn't — e.g. S3). Both sides
    must live on the same filesystem."""
    if not is_uri(src) and not is_uri(dst):
        os.replace(src, dst)
        return
    fs_s, p_s = resolve(src)
    fs_d, p_d = resolve(dst)
    if type(fs_s) is not type(fs_d):
        raise ValueError(f"cross-filesystem move: {src!r} -> {dst!r}")
    fs_s.move(p_s, p_d)


def list_subdirs(dir_path: str) -> list[str]:
    """Full paths/URIs of the directories directly inside ``dir_path``
    (empty list if it doesn't exist)."""
    if not is_uri(dir_path):
        if not os.path.isdir(dir_path):
            return []
        return sorted(
            os.path.join(dir_path, n)
            for n in os.listdir(dir_path)
            if os.path.isdir(os.path.join(dir_path, n))
        )
    from pyarrow.fs import FileSelector, FileType

    fs, p = resolve(dir_path)
    try:
        infos = fs.get_file_info(FileSelector(p, recursive=False))
    except FileNotFoundError:
        return []
    base = dir_path.rstrip("/")
    root = p.rstrip("/")
    return sorted(
        base + "/" + info.path[len(root) :].lstrip("/")
        for info in infos
        if info.type == FileType.Directory
    )


def read_text(path: str) -> str:
    with open_input(path) as f:
        return f.read().decode("utf-8")


def write_text(path: str, content: str) -> None:
    with open_output(path) as f:
        f.write(content.encode("utf-8"))


def list_files(dir_path: str) -> list[str]:
    """Full paths/URIs of the plain files directly inside ``dir_path``
    (empty list if the directory doesn't exist)."""
    if not is_uri(dir_path):
        if not os.path.isdir(dir_path):
            return []
        return sorted(
            os.path.join(dir_path, n)
            for n in os.listdir(dir_path)
            if os.path.isfile(os.path.join(dir_path, n))
        )
    from pyarrow.fs import FileSelector, FileType

    fs, p = resolve(dir_path)
    try:
        infos = fs.get_file_info(FileSelector(p, recursive=False))
    except FileNotFoundError:
        return []
    base = dir_path.rstrip("/")
    root = p.rstrip("/")
    return sorted(
        base + "/" + info.path[len(root) :].lstrip("/")
        for info in infos
        if info.type == FileType.File
    )


_MAGIC_RE = re.compile(r"[*?\[]")


def _glob_to_regex(pattern: str) -> str:
    """Glob → regex with ``glob.glob(recursive=True)`` semantics: ``**``
    crosses path separators (including zero levels for ``/**/``), ``*``
    and ``?`` stay within one segment."""
    out = []
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "*":
            if pattern.startswith("**/", i):
                out.append("(?:.*/)?")
                i += 3
            elif pattern.startswith("**", i):
                out.append(".*")
                i += 2
            else:
                out.append("[^/]*")
                i += 1
        elif c == "?":
            out.append("[^/]")
            i += 1
        elif c == "[":
            j = pattern.find("]", i + 1)
            if j == -1:
                out.append(re.escape(c))
                i += 1
            else:
                body = pattern[i + 1 : j]
                if body.startswith("!"):  # glob negation → regex negation
                    body = "^" + body[1:]
                out.append("[" + body + "]")
                i = j + 1
        else:
            out.append(re.escape(c))
            i += 1
    return "".join(out)


def glob_files(pattern: str) -> list[str]:
    """All plain files matching a glob pattern (path or URI), sorted.

    Local patterns keep stdlib ``glob.glob`` exactly. URI patterns do one
    recursive enumeration of the fixed prefix and regex-match candidates
    — results come back as URIs with the caller's scheme, so they feed
    straight into ``open_input`` on any node."""
    if not is_uri(pattern):
        return sorted(
            p for p in _glob.glob(pattern, recursive=True) if os.path.isfile(p)
        )
    from pyarrow.fs import FileSelector, FileType

    m = _MAGIC_RE.search(pattern)
    if m is None:
        return [pattern] if exists(pattern) and _is_file(pattern) else []
    scheme_end = pattern.index("://") + 3
    auth_end = pattern.find("/", scheme_end)
    if auth_end == -1 or m.start() < auth_end:
        # wildcard inside the authority (e.g. s3://bucket*/...) — there is
        # no fixed prefix to enumerate. Detected by position relative to the
        # slash that ends the authority, NOT by whether the fixed prefix
        # collapses to the scheme root: file:///data*/x has an EMPTY
        # authority and its first-segment wildcard is a legal path glob.
        raise ValueError(
            f"glob wildcards are not supported in the bucket/authority part: {pattern!r}"
        )
    cut = pattern.rfind("/", 0, m.start())
    # a wildcard in the first path segment cuts back to the authority-ending
    # slash — keep that slash so base_uri names the filesystem root
    # ("file:///", "s3://bucket/"), not the bare scheme/bucket
    base_uri = pattern[: cut + 1] if cut == auth_end else pattern[:cut]
    fs, base_path = resolve(base_uri)
    # a pattern whose wildcards all sit in the final segment needs only a
    # single-level listing; recursive enumeration is reserved for patterns
    # that descend (``**`` or wildcards above the leaf)
    rest = pattern[len(base_uri) :].lstrip("/")
    deep = "/" in rest or "**" in rest
    try:
        infos = fs.get_file_info(FileSelector(base_path, recursive=deep))
    except FileNotFoundError:
        return []
    rx = re.compile(_glob_to_regex(pattern) + r"\Z")
    root = base_path.rstrip("/")
    # strip at most ONE trailing slash: rstrip("/") would collapse the
    # empty-authority root "file:///" to "file:" and break every joined URI
    base = base_uri[:-1] if base_uri.endswith("/") else base_uri
    out = []
    for info in infos:
        if info.type != FileType.File:
            continue
        uri = base + "/" + info.path[len(root) :].lstrip("/")
        if rx.match(uri):
            out.append(uri)
    return sorted(out)


def _is_file(path: str) -> bool:
    from pyarrow.fs import FileType

    fs, p = resolve(path)
    return fs.get_file_info(p).type == FileType.File
