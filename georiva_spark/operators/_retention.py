"""Bounded cache retention for operators that persist an intermediate
they cannot unpersist before returning (the returned lazy DataFrame
still reads it, so an immediate unpersist would defeat the cache).

Without a bound, repeated calls in a long-lived session accumulate
cached blocks for the session's lifetime. The pattern: keep at most ONE
cached intermediate per (SparkSession, slot) — the next call through
the same slot unpersists the previous call's cache. Weak-keyed on the
session so a torn-down session releases its entries. Documented cost:
a still-unexecuted DataFrame returned from an EARLIER call recomputes
its intermediate (performance, never correctness).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

_slots: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def persist_bounded(df: DataFrame, slot: str,
                    storage_level=None) -> DataFrame:
    """persist() with per-(session, slot) bounded retention.

    The previous cache entry is evicted only when the new plan is
    SEMANTICALLY DIFFERENT: for a repeated identical call Spark's
    CacheManager reuses the existing entry (canonical-plan lookup), and
    unpersisting it first would force a full re-materialization — a
    measured 2× on duplicate_spans' bench entry. Different-plan calls
    (new inputs — the unbounded-retention leak case) still evict."""
    from pyspark import StorageLevel

    sess = df.sparkSession
    per = _slots.setdefault(sess, {})
    prev = per.get(slot)
    if prev is not None:
        try:
            same = (prev._jdf.queryExecution().analyzed().semanticHash()
                    == df._jdf.queryExecution().analyzed().semanticHash())
        except Exception:
            same = False
        if not same:
            try:
                prev.unpersist()
            except Exception:
                pass
    df = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    per[slot] = df
    return df
