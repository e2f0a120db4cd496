"""Cache lifetime and the count-guarded broadcast — the two policies
every operator that persists an intermediate shares.

- :func:`cached`: at most one live cache per label. Registering a frame
  releases the frame the previous call with that label registered, so
  repeated calls in a long-lived session never accumulate executor
  storage; :func:`release_caches` frees them all at once.
- :func:`broadcast_if_small`: persist first, take one full count, hint
  that same frame for broadcast iff it fits. Callers that must fail
  loudly instead of falling back to a shuffle join raise on the
  returned count.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_CAP_CACHES: dict[str, DataFrame] = {}
_LOCK = threading.Lock()


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:  # noqa: BLE001 — best-effort release
        pass


def cached(label: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (unless it already is) and register it under
    ``label``. The frame previously registered under ``label`` is
    released FIRST: a repeated call with the same inputs builds the same
    plan, and releasing after persisting would drop the cache entry the
    two frames share."""
    with _LOCK:
        prev = _CAP_CACHES.pop(label, None)
        if prev is not None:
            _unpersist(prev)
        _CAP_CACHES[label] = df = df if df.is_cached else df.persist()
    return df


def release_caches() -> None:
    """Unpersist every registered cache now, e.g. once an operator's
    output is materialized, instead of on the next call per label."""
    with _LOCK:
        frames = list(_CAP_CACHES.values())
        _CAP_CACHES.clear()
    for df in frames:
        _unpersist(df)


def broadcast_if_small(persisted: DataFrame, bound: int) -> tuple[DataFrame, int]:
    """``(frame, n)``: ``n`` is a FULL count of ``persisted``, and
    ``frame`` is that same frame, broadcast-hinted iff ``n <= bound``.

    Pass a persisted frame, so the guard count and the broadcast rows
    come from one execution of the lineage: a non-deterministic frame
    cannot diverge between them. The count is full, not
    ``limit(bound + 1).count()``: LocalLimit's incremental job caches
    only the partitions it scanned to reach bound + 1 rows, so a limit
    probe would leave the rest of the frame to be recomputed at
    broadcast time — the exact divergence persisting first prevents.
    The full count also materializes every partition into the cache."""
    n = persisted.count()
    return (F.broadcast(persisted) if n <= bound else persisted), n
