"""SessionMemo: FIFO eviction with release, scoped to one application."""

from __future__ import annotations

from types import SimpleNamespace

from gchq_data_quality_spark.session_memo import SessionMemo


def test_fifo_eviction_releases_the_oldest():
    released = []
    memo = SessionMemo(cap=2, release=released.append)
    sc = SimpleNamespace(applicationId="app-1")
    for key in ("a", "b"):
        memo.get(sc, key, lambda key=key: f"v{key}")
    assert memo.get(sc, "a", lambda: "rebuilt") == "va"  # a hit keeps FIFO order
    memo.get(sc, "c", lambda: "vc")
    assert released == ["va"]
    assert list(memo.entries) == ["b", "c"]


def test_new_application_drops_entries_unreleased():
    released = []
    memo = SessionMemo(cap=4, release=released.append)
    memo.get(SimpleNamespace(applicationId="app-1"), "a", lambda: "old")
    got = memo.get(SimpleNamespace(applicationId="app-2"), "a", lambda: "new")
    assert got == "new"
    assert list(memo.entries) == ["a"]
    # the old context's values died with it; releasing one would act by id
    # on the new context
    assert released == []


def test_concurrent_gets_build_or_release_each_value_once():
    """Threads racing on a small memo: every value built is either still
    cached or was released exactly once, and the cap holds."""
    import sys
    import threading
    import time

    built, released = [], []
    memo = SessionMemo(cap=3, release=released.append)
    sc = SimpleNamespace(applicationId="app-1")

    def build(key):
        value = object()
        built.append(value)
        time.sleep(1e-4)  # a real build makes py4j calls: widen the race
        return value

    def worker(seed):
        for i in range(300):
            key = (seed * 7 + i) % 6
            memo.get(sc, key, lambda key=key: build(key))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(memo.entries) <= memo.cap
    cached = list(memo.entries.values())
    assert sorted(map(id, built)) == sorted(map(id, released + cached))
