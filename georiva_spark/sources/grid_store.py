"""Partitioned grid-table store (the COG/TimescaleDB replacement, SURVEY
§1.4 / §4).

Layout: parquet partitioned by (collection, variable, date) — the Spark
analog of the reference's TimescaleDB hypertable keyed (collection, time)
(core/models/item.py:20-28) plus per-variable COG files. Every P1/P2 filter
becomes partition pruning (verified in tests via PartitionFilters in the
plan); P4 bbox filters ride parquet min/max row-group stats on lat/lon.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_grid(grid: DataFrame, path: str, mode: str = "append") -> None:
    (grid.withColumn("date", F.to_date("time"))
         .write.mode(mode)
         .partitionBy("collection", "variable", "date")
         .parquet(path))


def overwrite_slice(grid: DataFrame, path: str) -> None:
    """Deterministic partition overwrite (the replaceWhere/T3 idempotency
    primitive): dynamic partition-overwrite replaces exactly the partitions
    present in ``grid``, leaving the rest of the table untouched."""
    (grid.withColumn("date", F.to_date("time"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("collection", "variable", "date")
         .parquet(path))


def read_grid(spark: SparkSession, path: str, *,
              collection: str | None = None, variable: str | None = None,
              start: dt.datetime | str | None = None,
              end: dt.datetime | str | None = None) -> DataFrame:
    """Pruned read: collection/variable/date predicates land on partition
    directories before any file is opened."""
    df = spark.read.parquet(path)
    if collection is not None:
        df = df.where(F.col("collection") == collection)
    if variable is not None:
        df = df.where(F.col("variable") == variable)
    if start is not None:
        df = df.where(F.col("date") >= F.to_date(F.lit(start)))
    if end is not None:
        df = df.where(F.col("date") <= F.to_date(F.lit(end)))
    return df.drop("date")
