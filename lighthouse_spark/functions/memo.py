"""Per-owner memoization of serving-path driver state.

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
build=...)``, under one rule: **a cache lives and dies with its
owner.** Every owner is immutable state — a CompressedIndex is one
committed snapshot (a commit returns a new handle), a flat
InvertedIndex, a SearchEngine over one, or a DataFrame is fixed
lineage — so nothing in an owner's cache can go stale, and keys never
carry a version.

Key parts must be hashable and must not be ``id()``s (CPython reuses
an id once its object is collected); a DataFrame hashes by identity
and the entry holds it, so a frame may itself be a key part.

Caching a *plan* (a lazy DataFrame) re-executes it on every collect —
the prepared-statement analogue of Lucene's reused Weight/Scorer
trees — with one exception. A store-served request plan
(search_over_store / autocomplete_over_store) reads its decoded
postings from a local checkpoint (CompressedIndex._flat_view_impl), so
its entry pins ONE request's decoded postings: the query terms' rows,
MEMORY_AND_DISK on the executors. At most ``_CAP`` = 128 entries per
handle, so at most 128 requests' decodes per live snapshot handle. The
blocks go when the entry is evicted or the handle is collected (the
JVM's context cleaner drops a checkpoint no frame references). A lost
executor loses its checkpoint blocks, and the lineage was truncated:
a plan that reads them then fails, and is not recomputed.

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

    def peek(self, key: Any) -> Any:
        with self._lock:
            return self._d.get(key)


def get(owner: Any, kind: str, *key: Any, build: Callable[[], Any]) -> Any:
    """``build()``'s value for ``(kind, *key)``, memoized on ``owner``."""
    # probe first: setdefault alone would construct a discarded LRU
    # per call. Writing __dict__ also works on a frozen dataclass.
    lru = owner.__dict__.get("_lh_memo") or owner.__dict__.setdefault("_lh_memo", LRU())
    return lru.get_or_build((kind, *key), build)


def peek(owner: Any, kind: str, *key: Any) -> Any:
    """What ``get`` memoized for ``(kind, *key)``, or None; builds nothing."""
    lru = owner.__dict__.get("_lh_memo")
    return None if lru is None else lru.peek((kind, *key))


def copy2(d: dict) -> dict:
    """Two-level copy for {field: {term: v}} maps handed to callers
    that mutate them (e.g. _df_for_specs merges extra lookups in)."""
    return {k: dict(v) for k, v in d.items()}
