"""Per-input derived state: deterministic work directories for written
tables, and the in-session memo for persisted frames and opened handles.

``tempfile.mkdtemp`` per invocation leaks one directory per call — repeated
driver/bench runs accumulate /tmp state. Dirs here are keyed by
(purpose, input fingerprint): repeated invocations over the same input reuse
one directory; a changed input gets a fresh dir and the stale sibling for
the same purpose is removed (self-cleaning). ``cached_build`` adds a
completion marker so expensive derived tables (the ANN index)
are built once per input and re-read afterwards — the local stand-in for a
written catalog table at cluster scale.

``memo`` is the one in-memory cache for values that live in a Spark session
(persisted DataFrames, built or opened indexes): keyed on the session's
application id, a purpose and the input path, and checked against the
input's fingerprint on every call, so a value never outlives its session or
survives a rewrite of its input.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

_BASE = os.path.join(tempfile.gettempdir(), "tika_xapian_spark_work")
_MARKER = "_COMPLETE"


def _fingerprint(input_path: str) -> str:
    """Input identity: path + size + mtime of every data file (parquet file
    or directory). Cheap metadata walk, no data read."""
    h = hashlib.md5()
    p = os.path.abspath(input_path)
    h.update(p.encode())
    if os.path.isdir(p):
        # sorted dirs + relpath keys: the walk order (and therefore the
        # fingerprint) is deterministic across listdir orderings, and two
        # files with the same basename in different subdirs don't collide
        for root, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(root, f)
                try:
                    st = os.stat(full)
                except OSError:
                    continue
                rel = os.path.relpath(full, p)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.exists(p):
        st = os.stat(p)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _gc_stale_siblings(purpose: str, keep: str) -> None:
    """Remove older work dirs of the same purpose (input changed)."""
    if not os.path.isdir(_BASE):
        return
    prefix = f"{purpose}-"
    for d in os.listdir(_BASE):
        full = os.path.join(_BASE, d)
        if d.startswith(prefix) and full != keep:
            shutil.rmtree(full, ignore_errors=True)


def work_dir(purpose: str, input_path: str) -> str:
    """Deterministic work dir for (purpose, input); content is kept across
    calls (build-once caches manage it via cached_build())."""
    d = os.path.join(_BASE, f"{purpose}-{_fingerprint(input_path)}")
    _gc_stale_siblings(purpose, d)
    os.makedirs(d, exist_ok=True)
    return d


def cached_build(purpose: str, input_path: str, build) -> str:
    """Build-once cache: if the work dir for this (purpose, input) carries a
    completion marker, return it untouched; otherwise wipe any partial state,
    run ``build(dir)``, and mark complete. Crash-safe: a build that dies
    before the marker is rebuilt from scratch next call."""
    d = work_dir(purpose, input_path)
    marker = os.path.join(d, _MARKER)
    if not os.path.exists(marker):
        for entry in os.listdir(d):
            full = os.path.join(d, entry)
            shutil.rmtree(full, ignore_errors=True) if os.path.isdir(full) else os.remove(full)
        build(d)
        with open(marker, "w") as f:
            f.write("ok")
    return d


class Memo:
    """Values derived from one input inside one Spark application, keyed on
    (purpose, input path). Each entry keeps the input's fingerprint beside
    the value: a rewritten input unpersists the stale value and rebuilds it,
    and a new application id drops every entry (the stopped session's
    frames are unusable, so they are dropped, not unpersisted)."""

    def __init__(self) -> None:
        self._app_id: str | None = None
        self._entries: dict[tuple[str, str], tuple[str, object]] = {}

    def get(self, spark, purpose: str, input_path: str, build):
        """The memoized ``build()`` for (purpose, input_path) in ``spark``'s
        application, rebuilt when the input's fingerprint changed. ``build``
        may itself call ``get`` for another purpose."""
        app_id = spark.sparkContext.applicationId
        if app_id != self._app_id:
            self._entries.clear()
            self._app_id = app_id
        key = (purpose, input_path)
        fp = _fingerprint(input_path)
        hit = self._entries.get(key)
        if hit is not None:
            if hit[0] == fp:
                return hit[1]
            del self._entries[key]
            unpersist = getattr(hit[1], "unpersist", None)
            if unpersist is not None:
                unpersist()
        value = build()
        self._entries[key] = (fp, value)
        return value


# the process's one memo: query callables take only (spark, sf_dir)
memo = Memo().get
