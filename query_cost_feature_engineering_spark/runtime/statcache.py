"""Content-aware statistics-cache keys for driver-side plan statistics.

Several operators pay a small driver job to learn a corpus property
before planning the real query (as-of skew profiles, near-dup token
vocabularies, range-bucket cut points). Those statistics are pure
functions of (input data, parameters), so repeated invocations — bench
reps, resumed pipelines, a notebook cell re-run — should reuse them.

``DataFrame.semanticHash()`` alone is NOT a safe cache key: it hashes
the logical PLAN (i.e. the path), not the file contents, so rewriting
data at the same path in-process would silently return stale
statistics. ``plan_fingerprint`` combines the plan hash with a
fingerprint of the input file listing (path, size, mtime — the same
change-detector ``runtime/checkpoint.input_fingerprint`` uses for
resume), so a data rewrite misses the cache. With an Iceberg catalog
the listing would be replaced by the table's snapshot-id.

Every cache is a ``StatsCache``, and each one registers itself on
creation, so ``clear_all()`` empties all of them at once (a benchmark
that must time the statistics jobs, not cache hits, calls it between
reps) and each cache counts its own hits and misses.
"""

from __future__ import annotations

import hashlib
import os
from urllib.parse import unquote, urlparse

_REGISTRY: list[StatsCache] = []  # every cache ever built, for clear_all()


def plan_fingerprint(df) -> tuple | None:
    """Best-effort cache key for a DataFrame's input: (semanticHash,
    sha256 of the sorted input-file listing with local size+mtime).
    Returns None when it cannot be computed — callers must then skip
    caching, never guess."""
    try:
        sh = df.semanticHash()
        files = sorted(df.inputFiles())
    except Exception:  # noqa: BLE001 — caching is best-effort only
        return None
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        p = unquote(urlparse(f).path) if f.startswith("file:") else f
        try:
            st = os.stat(p)
            h.update(f"{st.st_size},{st.st_mtime_ns}".encode())
        except OSError:
            # remote FS: the listing itself still detects add/remove/rename
            pass
    return (sh, h.hexdigest())


class StatsCache:
    """Tiny bounded-FIFO cache, registered for ``clear_all()``."""

    def __init__(self, maxsize: int = 16):
        self._data: dict = {}
        self._max = maxsize
        self.hits = 0
        self.misses = 0
        _REGISTRY.append(self)

    def get_or_compute(self, key, compute):
        """The value cached under ``key``, else ``compute()``, cached under
        ``key``. Values may be None (a valid result); a None key (an input
        ``plan_fingerprint`` cannot key) computes every time."""
        if key is not None and key in self._data:
            self.hits += 1
            return self._data[key]
        self.misses += 1
        value = compute()
        if key is not None:
            if len(self._data) >= self._max:
                self._data.pop(next(iter(self._data)))
            self._data[key] = value
        return value

    def clear(self) -> None:
        self._data.clear()


def clear_all() -> None:
    """Empty every ``StatsCache``; hit and miss counts keep running."""
    for cache in _REGISTRY:
        cache.clear()
