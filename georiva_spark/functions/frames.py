"""Bounded driver-side frames, Arrow-backed.

``spark.createDataFrame(list_of_tuples, schema)`` parallelizes the
PICKLED rows as a Python RDD: every evaluation of the plan pays a
Python-worker round-trip per task — measured at ~7 s for a 36-row
frame on local[32] even with a warm worker pool (r11 finding; it made
the token-shard sidecar stamps cost more than the data write). Routing
the same rows through pandas/Arrow ships them to the JVM once as Arrow
batches, after which every evaluation is pure JVM (~1 s warm, and the
frame can broadcast without touching Python again).

Use :func:`local_frame` for every bounded model/config/fixture frame
that lands inside a query plan (sampler weight tables, tune grids,
sidecar stamps, centroid frames). Falls back to the classic path when
pandas/Arrow cannot represent the rows (mixed types the schema can't
coerce) — correctness first, the speedup is best-effort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A small local DataFrame built via pandas/Arrow (JVM-resident
    data; no Python-worker cost at evaluation). ``rows``: tuples, or a
    pandas frame already in ``schema``'s column order (shipped as-is);
    ``schema``: a DDL string or StructType, as createDataFrame takes."""
    import pandas as pd
    if isinstance(rows, pd.DataFrame):
        pdf = rows
    elif not rows:
        return spark.createDataFrame(rows, schema)
    else:
        ncols = len(rows[0])
        pdf = pd.DataFrame(
            {i: pd.Series((r[i] for r in rows), dtype=object)
             for i in range(ncols)})
        pdf.columns = [f"_c{i}" for i in range(ncols)]
    try:
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        # arrow/pandas could not represent the rows — classic path
        return spark.createDataFrame(rows, schema)
