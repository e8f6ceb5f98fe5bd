"""Per-process runtime state that must stay OUT of semantic
fingerprints.

The fingerprint referee (fingerprints.py) folds the repr of
module-level constants into each query's semantic hash. A plain
``[0]`` run counter is such a constant — but its repr CHANGES once a
streaming query runs in-process, so a full pytest run (streaming tests
execute before some later fingerprint comparison, or vice versa)
made the referee flaky while a standalone run stayed green (r12
finding). Locks never had the problem because non-whitelisted types
are skipped by the folder; ``RunCounter`` gets the same treatment by
NOT being a list — runtime-only state in a type the folder ignores,
with the mutation API the sink-name sequencing needs.
"""

from __future__ import annotations

import threading


class RunCounter:
    """Thread-safe monotonically increasing per-process counter."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._n = 0

    def next(self) -> int:
        with self._lock:
            self._n += 1
            return self._n


class RunCache:
    """Bounded per-process memo (converged-DataFrame reuse). A plain
    dict constant would fold its CONTENTS into the semantic
    fingerprints once populated — same referee flake as the counters,
    found on the DAG-state memo. Deliberately NOT a dict subclass
    (isinstance(dict) would put it back on the folder's whitelist).

    Holds at most ``cap`` entries: a put into a full memo evicts the
    oldest insertion (dicts keep insertion order), so a long-lived
    process keeps its recent entries instead of losing them all."""

    def __init__(self, cap: int = 8) -> None:
        self._lock = threading.Lock()
        self._d: dict = {}
        self._cap = cap

    def get(self, key):
        with self._lock:
            return self._d.get(key)

    def put(self, key, value) -> None:
        with self._lock:
            self._d.pop(key, None)
            while self._d and len(self._d) >= self._cap:
                del self._d[next(iter(self._d))]
            self._d[key] = value

    def clear(self) -> None:
        with self._lock:
            self._d.clear()
