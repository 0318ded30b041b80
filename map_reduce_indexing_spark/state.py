"""Session state: every value the engine keeps between queries (session
artifacts and their reads, resolved read plans, trained models, centroid
broadcasts, bucketed tables, rotated checkpoints), in one store.

An entry is ``(kind, key) -> (version, value)``; a lookup that brings a
different version recomputes and replaces it, so the newest version wins.
A kind may carry a constant LRU bound whose ``on_evict`` releases what it
pushes out. A compute that raises stores nothing. A new Spark application
drops every entry without ``on_evict``: a process has one live
SparkContext, and the old one's broadcasts and blocks died with it.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict

_MISS = object()


class Store:
    # One short lock guards the dicts; compute runs under a per-entry
    # lock instead, so a long training job blocks no other lookup,
    # concurrent first calls compute once, and a compute may look up
    # other entries (the session index build reads the tokens artifact).
    def __init__(self):
        self._lock = threading.Lock()
        self._app = None
        self._kinds: dict = {}  # kind -> OrderedDict(key -> (version, value))
        self._builds: dict = {}  # (kind, key) -> [build lock, users]

    def _entries(self, app, kind) -> OrderedDict:
        if app != self._app:
            self._app = app
            self._kinds.clear()
        return self._kinds.setdefault(kind, OrderedDict())

    def _probe(self, app, kind, key, version, valid):
        with self._lock:
            entries = self._entries(app, kind)
            hit = entries.get(key)
            if hit is None or hit[0] != version or (valid and not valid(hit[1])):
                return _MISS
            entries.move_to_end(key)
            return hit[1]

    def lookup(
        self, sc, kind, key, version, compute, *, bound=None, on_evict=None, valid=None
    ):
        """The value of ``(kind, key)`` at ``version``; on a miss,
        ``compute()`` builds it. ``valid(value)`` rejects a stored value
        that no longer holds (an artifact directory removed)."""
        app = sc.applicationId
        value = self._probe(app, kind, key, version, valid)
        if value is not _MISS:
            return value
        with self._lock:
            build = self._builds.setdefault((kind, key), [threading.Lock(), 0])
            build[1] += 1
        evicted = []
        try:
            with build[0]:
                value = self._probe(app, kind, key, version, valid)
                if value is not _MISS:
                    return value
                value = compute()
                with self._lock:
                    if app == self._app:
                        entries = self._entries(app, kind)
                        entries[key] = (version, value)
                        entries.move_to_end(key)
                        while bound is not None and len(entries) > bound:
                            evicted.append(entries.popitem(last=False)[1][1])
        finally:
            with self._lock:
                build[1] -= 1
                if not build[1]:
                    del self._builds[(kind, key)]
        if on_evict is not None:
            for old in evicted:
                on_evict(old)
        return value

    def entries(self, sc, kind) -> dict:
        """Snapshot ``{key: (version, value)}`` of one kind."""
        app = sc.applicationId
        with self._lock:
            return dict(self._entries(app, kind))


_STORE = Store()
lookup = _STORE.lookup
entries = _STORE.entries


def content_fingerprint(src: str) -> str:
    """Cheap content digest of a source: for a file, md5 over (size,
    mtime_ns, first KB, last 64 KB) — the tail covers a parquet footer,
    so a same-second same-size rewrite still changes it; for a directory
    (a multi-file table), the sorted RECURSIVE (relpath, size, mtime_ns)
    listing, so rewrites of partitionBy files one level down count."""
    if os.path.isdir(src):
        h = hashlib.md5()
        for root, dirs, files in os.walk(src):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(root, name)
                st = os.stat(p)
                rel = os.path.relpath(p, src)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
        return h.hexdigest()

    st = os.stat(src)
    size = st.st_size
    h = hashlib.md5(f"{size}:{st.st_mtime_ns}".encode())
    with open(src, "rb") as f:
        h.update(f.read(1024))
        tail = min(size, 65536)
        f.seek(size - tail)
        h.update(f.read())
    return h.hexdigest()
