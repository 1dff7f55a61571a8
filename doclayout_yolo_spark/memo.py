"""The package's one session-scoped memo cache.

``cached(spark, group, path, build)`` memoizes expensive query-builder
artifacts: parquet reader frames and their scan-parallelism decision
(``scan``), persisted shingle / gram tables, converged cluster labels,
collected codebooks and the persisted ``detection_map`` result.  The
key is ``(applicationId, group, path, mtime(path))``, so a group names
what is built and ``path`` is the source file it is built from.

One eviction policy, applied on every lookup: entries from other
(stopped) applications are dropped, and same ``(group, path)`` entries
with a different mtime are dropped as STALE (a fixture rewritten under
the same path must never serve old data).  EVERY evicted value gets
``unpersist(blocking=False)`` when it supports it (no-op for ndarrays
and unpersisted frames) — including other-app entries: with two
concurrently live SparkSessions in one process, dropping another app's
entry without unpersisting would leak its persisted blocks.
unpersist on a stopped context raises and is swallowed by the guard.
"""

from __future__ import annotations

import os

_CACHE: dict = {}


def source_mtime(path: str) -> float:
    try:
        return os.path.getmtime(path)
    except OSError:
        return -1.0


def cached(spark, group, path: str, build):
    """The memoized ``build()`` for ``(group, path)`` in this
    application, built on a miss after applying the eviction policy."""
    key = (spark.sparkContext.applicationId, group, path, source_mtime(path))
    for k in [k for k in _CACHE if k[0] != key[0] or (k[1:3] == key[1:3] and k != key)]:
        try:
            _CACHE.pop(k).unpersist(blocking=False)
        except Exception:
            pass
    if key not in _CACHE:
        _CACHE[key] = build()
    return _CACHE[key]
