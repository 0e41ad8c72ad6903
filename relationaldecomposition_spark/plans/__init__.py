"""Plan introspection: the one size estimate every physical gate reads."""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_size_bytes(df: DataFrame, *, unknown: int) -> int:
    """Catalyst's sizeInBytes estimate for ``df``'s optimized plan — driver
    plan stats, no job. Exact for file-source scans (the sum of the file
    sizes), an overestimate for derived plans; plans Catalyst cannot size
    (RDD scans, Python UDF outputs) report its huge default.

    ``unknown`` is returned when the estimate cannot be read at all:
    ``_jdf`` is the classic-PySpark JVM handle, absent under Spark
    Connect. It is required so that every gate states its own safe
    direction — the value that sends it to the face that is correct (and
    runnable) whatever the input's size."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:
        return unknown
