"""SessionMemo: the one bounded cache of driver-side objects that live as
long as a SparkContext — model and bloom broadcasts, memoised Column plans.

Entries are scoped to ``sc.applicationId``: the first lookup under a new
application drops every entry of the old one. Those entries are not
released: their context is stopped and its blocks went with it, and
broadcast ids restart at 0 in a new context, so an ``unpersist()`` on an
old broadcast would act on the live broadcast that now has its id. Past
``cap`` the OLDEST entry is evicted (FIFO) and handed to ``release``.
"""

from __future__ import annotations

import threading
from typing import Any, Callable


class SessionMemo:
    def __init__(self, cap: int, release: Callable[[Any], None] | None = None):
        self.cap = cap
        self.release = release
        self.app: str | None = None
        self.entries: dict = {}  # insertion-ordered: the first key is the oldest
        self._lock = threading.RLock()

    def get(self, sc, key, build: Callable[[], Any]):
        """The value under ``key`` for ``sc``'s application, built on a miss."""
        app = sc.applicationId
        with self._lock:
            if app != self.app:
                self.entries.clear()
                self.app = app
            if key not in self.entries:
                while len(self.entries) >= self.cap:
                    evicted = self.entries.pop(next(iter(self.entries)))
                    if self.release is not None:
                        self.release(evicted)
                self.entries[key] = build()
            return self.entries[key]


def unpersist(broadcast) -> None:
    broadcast.unpersist()


# model payloads shipped to the scoring UDFs, keyed (kind, model digest):
# one broadcast per model per application, not one per UDF built
MODEL_BROADCASTS = SessionMemo(cap=8, release=unpersist)
