"""Session-scoped cache keying.

Module-level caches (the registry in ``t2p_spark.materialize``, streaming
replay staging) must be keyed per SparkSession *lifetime*. ``id(spark)`` is
not that: CPython reuses addresses after GC, so a new session can collide
with a dead session's key and silently inherit its cache entries (stale
views, skipped registration). The stable key is the context's
applicationId plus the JVM session UUID (distinguishes sessions sharing
one context, e.g. ``newSession()``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def session_key(spark: SparkSession) -> str:
    try:
        uuid = spark._jsparkSession.sessionUUID()
    except Exception:  # non-JVM backends (connect) — fall back, still unique
        uuid = str(id(spark))
    return f"{spark.sparkContext.applicationId}/{uuid}"
