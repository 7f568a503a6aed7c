"""Zonal statistics and polygon-masked area series (SURVEY.md §2.3 J3,
§2.4 A1/A2) — the reference's headline analysis operators
(geoprocessing/zonal.py, analysis/timeseries/service.py:100-178).

Spark-first shape (scale analysis):
- boundaries are a small dimension (≤ 10⁵ admin polygons, a few hundred MB
  of GeoJSON worst-case) → driver-parsed once.
- tagging = Raptor scanline rasterization (*Raptor: Large Scale Analysis
  of Big Raster and Vector Data*, VLDB 2019): one small job collects the
  grid's distinct pixel-centre latitudes, the driver pairs each ring's
  edge crossings along them into lon runs (bit-identical to the even-odd
  test), and a JVM join on latitude + lon range tags the grid (which is
  never shuffled under the broadcast gate) — O(Σ rows-in-bbox × edges)
  driver work instead of O(pixels × edges), no Python on the request path.
- stats = one groupBy over (boundary, time, variable): map-side partial
  aggregation; one shuffle whose width is #boundaries × #timesteps, not
  #pixels. The reference's one-Celery-task-per-asset loop
  (analysis/zonal_stats/tasks.py:8-60) collapses into this single job.
- skew: a continental polygon covering most pixels still partial-aggregates
  map-side, so the reducer receives one partial row per map task, not the
  raw pixels; AQE skew handling covers the rest.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from georiva_spark.functions.frames import local_frame
from georiva_spark.functions.geo import parse_geojson, scanline_runs

RUN_SCHEMA = ("boundary_id long, level int, name string, "
              "rlat double, lo double, hi double")


def _stat_aggs(value: str = "value"):
    v = F.col(value)
    return [
        F.avg(v).alias("mean"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.sum(v).alias("sum"),
        F.stddev_pop(v).alias("std"),   # numpy std is population std (ddof=0)
        F.count(v).alias("count"),
    ]


def _collect_boundaries(boundaries):
    if isinstance(boundaries, DataFrame):
        return boundaries.select("boundary_id", "level", "name",
                                 "geometry").collect()
    # local boundary rows (id, level, name, geojson): skip the collect job
    from collections import namedtuple
    B = namedtuple("B", "boundary_id level name geometry")
    return [B(*r) for r in boundaries]


def boundary_runs(grid: DataFrame, boundaries) -> tuple[DataFrame, int]:
    """→ (runs frame, run count): every boundary's (boundary_id, level,
    name, rlat, lo, hi) scanline runs over the grid's distinct pixel-centre
    latitudes — the reference's mask cache (ingestion/clipper.py:145-163)
    as one row per pixel-row segment instead of one per pixel. Keyed on
    the actual latitudes, so curvilinear and projected grids are exact on
    the same path (they just yield more runs). Null geometry, and geometry
    with a NaN vertex (its bbox test never passes), yields no runs."""
    spark = grid.sparkSession
    parsed = [(r, g) for r in _collect_boundaries(boundaries)
              for g in [parse_geojson(r.geometry)]
              if g is not None and not np.isnan(g.bbox).any()]
    runs = []
    if parsed:
        s = min(g.bbox[1] for _, g in parsed)
        n = max(g.bbox[3] for _, g in parsed)
        lats = np.sort([r.lat for r in grid.where(F.col("lat").between(s, n))
                        .select("lat").distinct().collect()])
        runs = [scanline_runs(g, lats) for _, g in parsed]
    counts = [len(r[0]) for r in runs]
    if not sum(counts):
        return spark.createDataFrame([], RUN_SCHEMA), 0
    meta = np.array([(r.boundary_id, r.level, r.name) for r, _ in parsed],
                    dtype=object)
    pdf = pd.DataFrame(np.repeat(meta, counts, axis=0),
                       columns=["boundary_id", "level", "name"])
    for k, col in enumerate(("rlat", "lo", "hi")):
        pdf[col] = np.concatenate([r[k] for r in runs])
    return local_frame(spark, pdf, RUN_SCHEMA), len(pdf)


def tag_pixels(grid: DataFrame, boundaries,
               broadcast_max_mask_rows: int = 2_000_000) -> DataFrame:
    """Tag each grid row with every boundary containing its pixel center
    (``boundary_id``, ``level``, ``name`` appended to the grid columns)
    by ``lat = rlat AND lon >= lo AND lon < hi`` against the scanline
    runs — exactly ``points_in_geometry``'s membership. The run count is
    exact on the driver: at or under ``broadcast_max_mask_rows`` (the
    2 M gate ``regrid._regrid_bilinear`` uses) the runs are broadcast and
    the fact side is never shuffled; past it (deep admin sets over fine
    or curvilinear grids) a plain join avoids force-broadcasting past
    executor memory. Both plans: tests/test_plan_evidence.py."""
    runs, n_runs = boundary_runs(grid, boundaries)
    if n_runs <= broadcast_max_mask_rows:
        runs = F.broadcast(runs)
    inside = ((F.col("lat") == F.col("rlat")) & (F.col("lon") >= F.col("lo"))
              & (F.col("lon") < F.col("hi")))
    return grid.join(runs, inside, "inner").drop("rlat", "lo", "hi")


def zonal_stats(grid: DataFrame, boundaries: DataFrame,
                keys: Sequence[str] = ("collection", "variable", "time"),
                res_deg: float = 0.01) -> DataFrame:
    """A1 — per-boundary stats over valid pixels; boundaries that intersect
    nothing (or have null geometry) yield an all-null stats row, mirroring
    EMPTY_STATS (geoprocessing/zonal.py:24-27,41-48). ``res_deg`` is
    accepted for API compatibility and drives nothing: the scanline runs
    need no resolution and the broadcast gate counts them exactly."""
    tagged = tag_pixels(grid, boundaries)
    stats = (tagged.groupBy("boundary_id", *keys)
                   .agg(*_stat_aggs()))
    # Right-join back so empty boundaries appear with all-null stats.
    if not isinstance(boundaries, DataFrame):
        boundaries = local_frame(
            grid.sparkSession,
            [(r[0], r[1], r[2]) for r in boundaries],
            "boundary_id long, level int, name string")
    all_b = boundaries.select("boundary_id", "level", "name")
    out = all_b.join(stats, on="boundary_id", how="left")
    # EMPTY_STATS contract: count null (not 0) on no-intersection rows.
    return out


def zonal_rollup(grid: DataFrame, boundaries: DataFrame,
                 keys: Sequence[str] = ("collection", "variable", "time"),
                 res_deg: float = 0.01) -> DataFrame:
    """Per-boundary AND per-admin-level stats in ONE pass via GROUPING
    SETS — replaces the reference's loop over admin levels
    (analysis/zonal_stats/service.py:160-176), which re-reads the raster
    once per level. Grouping sets: (level, boundary_id, name, *keys) →
    per-boundary rows; (level, *keys) → level rollups (boundary_id/name
    null). The tagged fact stream aggregates map-side once; the shuffle
    is #boundaries + #levels wide, never #pixels. ``res_deg`` is
    accepted and unused, as in zonal_stats."""
    tagged = tag_pixels(grid, boundaries)
    cols = ["level", "boundary_id", "name", *keys]
    gs = tagged.groupingSets([cols, ["level", *keys]], *cols)
    return gs.agg(*_stat_aggs())


def area_timeseries(grid: DataFrame, geometry: str,
                    how: str = "mean") -> DataFrame:
    """A2 — polygon-masked spatial aggregate per timestep
    (analysis/timeseries/service.py:100-178): cheap bbox subset first
    (P4 ordering, service.py:112-116), exact mask, then groupBy(time).
    """
    g = parse_geojson(geometry)
    if g is None:
        raise ValueError("invalid or null geometry")
    w, s, e, n = g.bbox
    # cheap bbox subset first (P4-before-P6 ordering, service.py:112-116),
    # then the scanline-run tagging; one boundary tags a pixel at most once
    sub = grid.where(F.col("lat").between(s, n) & F.col("lon").between(w, e))
    masked = tag_pixels(sub, [(1, 0, "area", geometry)])
    aggs = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
            "std": F.stddev_pop}
    return (masked.groupBy("collection", "variable", "time")
                  .agg(aggs[how](F.col("value")).alias("value"))
                  .orderBy("time"))
