"""Ingestion pipeline (SURVEY.md §3.1): storage-path grammar → format
plugin → variable binding + transforms → stats → grid write + catalog rows.

The reference's per-variable/per-timestep Celery loop
(ingestion/service.py:83-311) becomes one DataFrame flow: the scan emits
every (variable, timestep) as long-grid rows, transforms are column
expressions, and the items/assets/extent bookkeeping is a handful of
aggregations over the same DataFrame (A8/A12). Partial failure is replaced
by atomicity of the write: the grid append commits per partition, and the
catalog rows derive from what was written.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from georiva_spark.functions.scalars import (
    unit_conversion_expr, vector_direction, vector_magnitude,
)
from georiva_spark.operators.stats import collection_extent, global_stats
from georiva_spark.sources.registry import DEFAULT_REGISTRY, FormatRegistry

# {org}/{catalog}/{collection}/{variable}/Y/M/D/file (core/storage/manager.py:466)
PATH_RE = re.compile(
    r"(?P<org>[^/]+)/(?P<catalog>[^/]+)/(?P<collection>[^/]+)/"
    r"(?P<variable>[^/]+)/(?P<year>\d{4})/(?P<month>\d{2})/(?P<day>\d{2})/"
    r"(?P<filename>[^/]+)$")

# GR--YYYYMMDDHH reference-time filename convention (ingestion/time_extraction.py:8-56)
REFTIME_RE = re.compile(r"GR--(?P<ref>\d{10})")


def parse_storage_path(path: str) -> dict | None:
    m = PATH_RE.search(path)
    if not m:
        return None
    out = m.groupdict()
    ref = REFTIME_RE.search(out["filename"])
    out["reference_time"] = ref.group("ref") if ref else None
    return out


# operator-selectable filename-date grammars (time_extraction.py:8-16),
# (strptime pattern, Spark to_timestamp pattern, digit count)
FILENAME_TIME_FORMATS = {
    "YYYYMMDD":     ("%Y%m%d", "yyyyMMdd", 8),
    "DDMMYYYY":     ("%d%m%Y", "ddMMyyyy", 8),
    "YYYYMMDDHH":   ("%Y%m%d%H", "yyyyMMddHH", 10),
    "YYYYMMDDHHMM": ("%Y%m%d%H%M", "yyyyMMddHHmm", 12),
    "DDMMYY":       ("%d%m%y", "ddMMyy", 6),
    "YYMMDD":       ("%y%m%d", "yyMMdd", 6),
}


def extract_times(filename: str, format_choice: str) -> dict:
    """reference_time + valid_time from a filename
    (time_extraction.py:19-56): the ``GR--{reftime}--`` prefix wins for
    reference_time; the remaining stem parsed with the operator's
    ``format_choice`` gives valid_time. Never raises — returns a partial
    or empty dict when fields cannot be resolved. (The reference's third
    step — content probe via format plugin — lives in the scan seam,
    where decoders already emit per-message times.)"""
    import datetime as _dt
    import os as _os

    result: dict = {}
    name = _os.path.basename(filename)
    ref = REFTIME_RE.search(name)
    if ref:
        try:
            result["reference_time"] = _dt.datetime.strptime(
                ref.group("ref"), "%Y%m%d%H")
        except ValueError:
            pass
        name = re.sub(r"^GR--\d{10}--", "", name)
    stem = _os.path.splitext(name)[0]
    fmt = FILENAME_TIME_FORMATS.get(format_choice)
    if fmt:
        try:
            result["valid_time"] = _dt.datetime.strptime(stem, fmt[0])
        except ValueError:
            pass
    return result


def filename_times(df: DataFrame, filename_col: str = "filename",
                   choice_col: str = "format_choice") -> DataFrame:
    """Vectorized ``extract_times`` over a filename column — pure JVM
    expressions (regexp + to_timestamp per grammar, selected by the
    per-row format choice), so a million-file backfill parses in the
    scan. Unparseable stems yield nulls, the never-raises contract."""
    base = F.element_at(F.split(F.col(filename_col), "/"), -1)
    ref_s = F.regexp_extract(base, r"GR--(\d{10})", 1)
    stripped = F.regexp_replace(base, r"^GR--\d{10}--", "")
    stem = F.regexp_replace(stripped, r"\.[^.]*$", "")
    valid = F.lit(None).cast("timestamp")
    for choice, (_, spark_fmt, nd) in FILENAME_TIME_FORMATS.items():
        ok = (F.col(choice_col) == choice) & stem.rlike(rf"^\d{{{nd}}}$")
        valid = F.when(ok, F.try_to_timestamp(stem, F.lit(spark_fmt))) \
                 .otherwise(valid)
    return df.withColumn(
        "reference_time",
        F.when(ref_s != "", F.try_to_timestamp(ref_s, F.lit("yyyyMMddHH")))
        .otherwise(F.lit(None).cast("timestamp"))) \
        .withColumn("valid_time", valid)


@dataclass
class VariableBinding:
    """Declared variable config (core/models/variable.py:78-205): how source
    bands map onto the served channel, plus unit conversion factors computed
    at plan-build time (A10)."""
    slug: str
    transform_type: str = "passthrough"   # | vector_magnitude | vector_direction
    sources: dict[str, str] = field(default_factory=dict)  # role → source band
    unit_factor: float = 1.0
    unit_offset: float = 0.0


def apply_variable_transform(grid: DataFrame,
                             binding: VariableBinding) -> DataFrame:
    """A9/A10 — band binding + vector transform + unit conversion as one
    column-expression pass (ingestion/extractor.py:47-85,203-237)."""
    if binding.transform_type == "passthrough":
        src = binding.sources.get("main", binding.slug)
        out = grid.where(F.col("variable") == src)
        value = F.col("value")
    elif binding.transform_type in ("vector_magnitude", "vector_direction"):
        u_name = binding.sources.get("u", "u10")
        v_name = binding.sources.get("v", "v10")
        u = (grid.where(F.col("variable") == u_name)
             .select("org", "catalog", "collection", "time", "reference_time",
                     "y", "x", "lat", "lon", F.col("value").alias("_u")))
        v = (grid.where(F.col("variable") == v_name)
             .select("org", "catalog", "collection", "time",
                     "y", "x", F.col("value").alias("_v")))
        out = u.join(v, ["org", "catalog", "collection", "time", "y", "x"])
        fn = (vector_magnitude if binding.transform_type == "vector_magnitude"
              else vector_direction)
        value = fn(F.col("_u"), F.col("_v"))
    else:
        raise ValueError(f"unknown transform {binding.transform_type!r}")
    value = unit_conversion_expr(value, binding.unit_factor, binding.unit_offset)
    return out.select(
        "org", "catalog", "collection", F.lit(binding.slug).alias("variable"),
        "time", "reference_time", "y", "x", "lat", "lon",
        value.alias("value"))


def ingest_file(spark: SparkSession, path: str,
                bindings: list[VariableBinding],
                registry: FormatRegistry = DEFAULT_REGISTRY,
                grid_dir: str | None = None) -> dict:
    """One file → transformed grid + items/assets/extent rows.

    Returns {"grid": DataFrame, "items": DataFrame, "stats": DataFrame,
    "extent": DataFrame}; optionally appends the grid to the partitioned
    store (the COG-sink analog, S9 — parquet partition layout replaces COG
    tiling/overviews, SURVEY §4).
    """
    meta = parse_storage_path(path) or {
        "org": "default", "catalog": "t", "collection": "c"}
    plugin = registry.get_for_file(path)
    if plugin is None:
        raise ValueError(f"no format plugin handles {path}")
    raw = (plugin.open_file(spark, path, collection=meta["collection"])
           .withColumn("org", F.lit(meta["org"]))
           .withColumn("catalog", F.lit(meta["catalog"])))

    transformed = None
    for b in bindings:
        t = apply_variable_transform(raw, b)
        transformed = t if transformed is None else transformed.unionByName(t)
    if transformed is None:
        transformed = raw

    stats = global_stats(transformed)       # A8 → asset stats_min/max/mean/std
    extent = collection_extent(transformed)  # A12
    items = (transformed
             .groupBy("org", "catalog", "collection", "time", "reference_time")
             .agg(F.count(F.lit(1)).alias("n_pixels"),
                  F.max("y").alias("max_y"), F.max("x").alias("max_x"))
             .select("org", "catalog", "collection", "time", "reference_time",
                     (F.col("max_y") + 1).cast("int").alias("height"),
                     (F.col("max_x") + 1).cast("int").alias("width"),
                     "n_pixels"))
    if grid_dir is not None:
        (transformed.withColumn("date", F.to_date("time"))
         .write.mode("append").partitionBy("collection", "variable", "date")
         .parquet(grid_dir))
    return {"grid": transformed, "items": items, "stats": stats,
            "extent": extent}
