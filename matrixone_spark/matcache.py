"""One bounded, source-fingerprinted cache for in-session materializations.

MatrixOne builds a fulltext, IVF or HNSW index once and probes it while it
stays consistent with the base table; as in Shark's memory store, one owner
decides when a materialization is built, reused and released. An entry is
keyed by (applicationId, caller key) and records the fingerprint of its
source files: a lookup whose fingerprint differs rebuilds, so a file
rewritten under the same path is never served stale. Entries are LRU-bounded
by a capacity fixed in code, and ``release`` (an unpersist) runs exactly
once per entry, when it is evicted or replaced. Concurrent callers asking
for one entry share one build.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict
from concurrent.futures import Future

LAZY_CAPACITY = 64  # lazy frames, schemas, sessions: many sf dirs' tables
PERSISTED_CAPACITY = 8  # persisted materializations hold executor storage


def fingerprint(path: str) -> "tuple[int, ...] | None":
    """(size, mtime_ns) of a file; a directory's own mtime_ns, so a lookup
    is one stat at any table size. None if the path cannot be stat'ed."""
    try:
        st = os.stat(path.removeprefix("file:"))
    except OSError:
        return None
    return (st.st_mtime_ns,) if stat.S_ISDIR(st.st_mode) else (st.st_size, st.st_mtime_ns)


class MaterializationCache:
    def __init__(self, capacity: int, release=None):
        self.capacity = capacity
        self._release = release
        self._entries: "OrderedDict[tuple, tuple[tuple, object]]" = OrderedDict()
        self._lock = threading.Lock()
        # (key, fingerprint) → the Future of the build in flight for it
        self._building: "dict[tuple, Future]" = {}

    def get(self, app_id: str, key, sources, build):
        """The value cached under (app_id, key) if ``sources`` are unchanged
        since it was built; otherwise ``build()``'s, which is then cached.

        Single-flight: concurrent callers asking for one key and
        fingerprint share one ``build()``. A value built for a fingerprint
        that another caller's build replaces is released like any replaced
        entry, so ``release`` runs exactly once per built value."""
        k, fp = (app_id, key), tuple(fingerprint(p) for p in sources)
        with self._lock:
            entry = self._entries.get(k)
            if entry is not None and entry[0] == fp:
                self._entries.move_to_end(k)
                return entry[1]
            pending = self._building.get((k, fp))
            owner = pending is None
            if owner:
                pending = self._building[(k, fp)] = Future()
                if entry is not None:
                    # release the stale value before rebuilding: Spark's
                    # CacheManager matches persisted data by plan, and the
                    # rebuild's plan equals the stale one's
                    self._drop(k)
        if not owner:
            return pending.result()
        try:
            value = build()
        except BaseException as e:
            with self._lock:
                del self._building[(k, fp)]
            pending.set_exception(e)
            raise
        with self._lock:
            del self._building[(k, fp)]
            if k in self._entries:
                self._drop(k)
            self._entries[k] = (fp, value)
            while len(self._entries) > self.capacity:
                self._drop(next(iter(self._entries)))
        pending.set_result(value)
        return value

    def _drop(self, k: tuple) -> None:
        _, value = self._entries.pop(k)
        if self._release is not None:
            self._release(value)

    def clear(self) -> None:
        """Evict every entry, releasing each."""
        with self._lock:
            while self._entries:
                self._drop(next(iter(self._entries)))

    def values(self) -> list:
        return [value for _, value in self._entries.values()]

    def __len__(self) -> int:
        return len(self._entries)
