"""Per-index memoization of serving-path driver state.

Three kinds of per-request driver cost dominate warm serving latency
at local scale (measured r8: ~0.7 s dictionary round trip + ~1.0 s
DataFrame construction/analysis per composite request, vs ~0.2 s of
actual execution):

- tiny dictionary lookups (df / fuzzy / prefix expansions) that
  re-collect identical rows for every identical request,
- the lazy query *plan* itself, rebuilt and re-analyzed from scratch
  on every call even when the request is identical, and
- a store's table handles (building a reader re-lists parquet files
  on the driver).

All of them go through one entry point, ``get(owner, kind, *key,
build=...)``, under one rule: **a cache belongs to its owner's current
epoch.** The epoch is ``owner._epoch_key()`` when the owner has one
(a CompressedIndex: snapshot, lineage length, delta lists and
versioned dirs, so every commit moves it; a SearchEngine: its index's
epoch) and a constant otherwise (a flat InvertedIndex or a DataFrame
is immutable lineage, so the owner object itself is the epoch). When
the epoch changes, the old epoch's cache is dropped whole, so keys
never carry an epoch and nothing built against an old state is ever
served. The cache is captured BEFORE ``build`` runs: a build that
races a commit lands in the already-discarded cache.

Key parts must be hashable and must not be ``id()``s (CPython reuses
an id once its object is collected); a DataFrame hashes by identity
and the entry holds it, so a frame may itself be a key part.

Caching a *plan* (a lazy DataFrame) never caches results: every
collect re-executes the job from the parquet/cached inputs — the
prepared-statement analogue of Lucene's reused Weight/Scorer trees.

Thread-safety: a lock guards each map; builds run outside the lock
(they may launch Spark jobs and nest further lookups), so two racing
threads may both build — benign for pure plans/lookups (last write
wins). Single-flight de-duplication for expensive computations stays
in api/service.py's TTL cache.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable

_CAP = 128
_swap = threading.Lock()


class LRU:
    """Tiny bounded LRU. get_or_build runs `build` OUTSIDE the lock."""

    def __init__(self, cap: int = _CAP) -> None:
        self._d: OrderedDict[Any, Any] = OrderedDict()
        self._cap = cap
        self._lock = threading.Lock()

    def get_or_build(self, key: Any, build: Callable[[], Any]) -> Any:
        with self._lock:
            if key in self._d:
                self._d.move_to_end(key)
                return self._d[key]
        v = build()
        with self._lock:
            self._d[key] = v
            self._d.move_to_end(key)
            while len(self._d) > self._cap:
                self._d.popitem(last=False)
        return v


def epoch_of(owner: Any) -> Any:
    """``owner._epoch_key()`` when it has one, else None (constant)."""
    ek = getattr(owner, "_epoch_key", None)
    return ek() if callable(ek) else None


def get(owner: Any, kind: str, *key: Any, build: Callable[[], Any]) -> Any:
    """``build()``'s value for ``(kind, *key)``, memoized in ``owner``'s
    current-epoch cache."""
    epoch = epoch_of(owner)
    cur = owner.__dict__.get("_lh_memo")
    if cur is None or cur[0] != epoch:
        with _swap:
            cur = owner.__dict__.get("_lh_memo")
            if cur is None or cur[0] != epoch:
                cur = owner.__dict__["_lh_memo"] = (epoch, LRU())
    return cur[1].get_or_build((kind, *key), build)


def copy2(d: dict) -> dict:
    """Two-level copy for {field: {term: v}} maps handed to callers
    that mutate them (e.g. _df_for_specs merges extra lookups in)."""
    return {k: dict(v) for k, v in d.items()}
