"""The session-state store (map_reduce_indexing_spark/state.py).

Pure Python: a stub with an ``applicationId`` stands in for the
SparkContext, and every test uses its own ``Store`` so the shared
session's entries are untouched.
"""

from __future__ import annotations

import sys
import threading
import time

import pytest

from map_reduce_indexing_spark.state import Store


class _Ctx:
    def __init__(self, app="app-1"):
        self.applicationId = app


def test_new_version_replaces_the_entry():
    store, sc = Store(), _Ctx()
    assert store.lookup(sc, "k", "src", 1, lambda: "built-1") == "built-1"
    # same version: a hit, the compute is not run
    assert store.lookup(sc, "k", "src", 1, lambda: pytest.fail("rebuilt")) == "built-1"
    assert store.lookup(sc, "k", "src", 2, lambda: "built-2") == "built-2"
    assert store.entries(sc, "k") == {"src": (2, "built-2")}
    # the older version is gone: asking for it again recomputes
    assert store.lookup(sc, "k", "src", 1, lambda: "again-1") == "again-1"


def test_bounded_kind_evicts_lru_and_calls_on_evict():
    store, sc = Store(), _Ctx()
    evicted = []

    def get(key):
        return store.lookup(
            sc, "b", key, None, lambda: f"v{key}", bound=2, on_evict=evicted.append
        )

    get(1)
    get(2)
    get(1)  # a hit refreshes 1, so 2 is now least recently used
    get(3)
    assert evicted == ["v2"]
    assert set(store.entries(sc, "b")) == {1, 3}
    get(4)
    assert evicted == ["v2", "v1"]
    # other kinds are not counted against the bound
    store.lookup(sc, "other", 1, None, lambda: "x")
    assert set(store.entries(sc, "b")) == {3, 4}
    # a bound without on_evict just drops the oldest
    for key in range(3):
        store.lookup(sc, "plain", key, None, lambda: key, bound=2)
    assert set(store.entries(sc, "plain")) == {1, 2}


def test_failed_compute_stores_nothing_and_reraises():
    store, sc = Store(), _Ctx()

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        store.lookup(sc, "k", "src", 1, boom)
    assert store.entries(sc, "k") == {}
    # an older version survives a failed replacement attempt
    store.lookup(sc, "k", "src", 1, lambda: "ok")
    with pytest.raises(RuntimeError):
        store.lookup(sc, "k", "src", 2, boom)
    assert store.entries(sc, "k") == {"src": (1, "ok")}


def test_application_change_empties_store_without_on_evict():
    store = Store()
    evicted = []
    for key in ("a", "b"):
        store.lookup(
            _Ctx("app-1"), "b", key, None, lambda: key, bound=4, on_evict=evicted.append
        )
    store.lookup(_Ctx("app-1"), "k", "src", 1, lambda: "old-app")
    assert store.entries(_Ctx("app-2"), "b") == {}
    assert store.entries(_Ctx("app-2"), "k") == {}
    assert evicted == []
    assert store.lookup(_Ctx("app-2"), "k", "src", 1, lambda: "new-app") == "new-app"


def test_concurrent_misses_compute_once():
    """More threads than cores race for a few missing entries with a
    tiny switch interval: each entry's compute runs exactly once, and
    every thread gets that one value."""
    store, sc = Store(), _Ctx()
    calls: dict[int, int] = {}
    calls_lock = threading.Lock()

    def compute(key):
        with calls_lock:
            calls[key] = calls.get(key, 0) + 1
        time.sleep(0.01)
        return object()

    results: list[tuple[int, object]] = []

    def worker(i):
        for key in range(4):
            key = (key + i) % 4
            value = store.lookup(sc, "k", key, 1, lambda: compute(key))
            with calls_lock:
                results.append((key, value))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert calls == {0: 1, 1: 1, 2: 1, 3: 1}
    assert len(results) == 64
    assert len({(key, id(v)) for key, v in results}) == 4


def test_compute_may_look_up_another_entry():
    """A compute runs under its own entry's lock only: it can look up a
    different entry (the session index build reads the tokens
    artifact), and other threads' lookups proceed meanwhile."""
    store, sc = Store(), _Ctx()
    inner_done = threading.Event()

    def outer():
        inner = store.lookup(sc, "tokens", "src", 1, lambda: "tokens")
        # another thread's lookup of an unrelated entry is not blocked
        t = threading.Thread(
            target=lambda: store.lookup(sc, "other", "x", 1, inner_done.set)
        )
        t.start()
        t.join(10)
        return f"index-from-{inner}"

    result = []
    t = threading.Thread(
        target=lambda: result.append(store.lookup(sc, "index", "src", 1, outer))
    )
    t.start()
    t.join(10)
    assert not t.is_alive(), "nested lookup deadlocked"
    assert result == ["index-from-tokens"]
    assert inner_done.is_set()
