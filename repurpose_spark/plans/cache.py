"""One lifetime rule for persisted DataFrames.

* A frame that a returned lazy plan consumes goes through :func:`persist`.
  The registry keeps the newest ``KEEP`` such frames cached, so a result
  held lazily across a few later calls still runs from its cache, and a
  long-lived session never holds more than ``KEEP`` of them.
* A function that runs its own actions pairs ``persist()`` with
  ``unpersist()`` and releases its frames before it returns.
* A frame whose lineage must be cut stays a ``localCheckpoint``; Spark's
  ContextCleaner releases it once its DataFrame is unreachable.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

KEEP = 4
_LIVE: list = []  # (frame, normalized plan), oldest first
_LOCK = threading.Lock()


def persist(df: DataFrame) -> DataFrame:
    """Persist, register and return ``df``, first unpersisting the frames
    older than the newest ``KEEP - 1``.

    Spark shares one cache entry between equal plans, and ``unpersist``
    drops that entry by plan.  So a registered frame whose plan equals
    ``df``'s hands its place to ``df`` rather than being evicted: an
    eviction must never drop the entry that ``df`` or a kept frame (or a
    query running on one) reads."""
    plan = df._jdf.queryExecution().normalized()
    with _LOCK:
        _LIVE[:] = [(f, p) for f, p in _LIVE if not p.sameResult(plan)]
        doomed = _LIVE[: max(0, len(_LIVE) - (KEEP - 1))]
        del _LIVE[: len(doomed)]
        for old, _ in doomed:
            old.unpersist()
        _LIVE.append((df.persist(), plan))
    return df
