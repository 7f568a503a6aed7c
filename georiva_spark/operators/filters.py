"""Projection / filter operators (SURVEY.md §2.2, P1–P11).

All plain Column predicates → Catalyst pushes them into the parquet scan
and prunes partitions; on the partitioned grid table (collection, variable,
date) P1/P2 are partition-pruning, P4 is min/max-pruning on lat/lon.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, functions as F

SEASON_MONTHS: dict[str, tuple[int, ...]] = {
    # geoprocessing/temporal.py:27-49
    "DJF": (12, 1, 2),
    "MAM": (3, 4, 5),
    "JJA": (6, 7, 8),
    "SON": (9, 10, 11),
    "annual": tuple(range(1, 13)),
}


def select_variable(df: DataFrame, variable: str) -> DataFrame:
    """P1 — single-channel projection (ingestion/extractor.py:198-201)."""
    return df.where(F.col("variable") == variable)


def time_filter(df: DataFrame, start=None, end=None,
                time_col: str = "time") -> DataFrame:
    """P2 — closed time range; either side open (STAC ``..`` ranges,
    stac/views.py:398-420)."""
    c = F.col(time_col)
    if start is not None:
        df = df.where(c >= F.lit(start))
    if end is not None:
        df = df.where(c <= F.lit(end))
    return df


def bbox_overlap(df: DataFrame, west: float, south: float, east: float,
                 north: float) -> DataFrame:
    """P3 — interval-overlap of item ``bounds[4]`` vs a query box
    (stac/views.py:422-435). bounds = [west, south, east, north]."""
    b = F.col("bounds")
    return df.where((b[0] <= east) & (b[2] >= west) &
                    (b[1] <= north) & (b[3] >= south))


def bbox_subset(df: DataFrame, west: float, south: float, east: float,
                north: float) -> DataFrame:
    """P4 — pixel-level bbox slice on the long grid
    (analysis/timeseries/service.py:224-239). Partition/min-max prunable."""
    return df.where(F.col("lat").between(south, north) &
                    F.col("lon").between(west, east))


def season_filter(df: DataFrame, season: str, time_col: str = "time") -> DataFrame:
    """P7 — calendar-month season selection (geoprocessing/temporal.py:27-49)."""
    months = SEASON_MONTHS[season]
    if season == "annual":
        return df
    return df.where(F.month(F.col(time_col)).isin(*months))


def year_window(df: DataFrame, start_year: int, end_year: int,
                time_col: str = "time") -> DataFrame:
    """P8 — calendar years in [start, end] (recipes/climatology.py:230-235)."""
    return df.where(F.year(F.col(time_col)).between(start_year, end_year))


def forecast_past_filter(df: DataFrame, now: _dt.datetime | None = None,
                         time_col: str = "time") -> DataFrame:
    """P9 — drop past timesteps of forecast collections (stac/views.py:340-347)."""
    cutoff = F.lit(now) if now is not None else F.current_timestamp()
    return df.where(F.col(time_col) >= cutoff)


def visible_collections(collections: DataFrame, org: str | None = None,
                        include_private: bool = False) -> DataFrame:
    """P10 — serving-policy predicate (core/models/collection.py:64-100):
    active collection AND active catalog AND visibility ∈ allowed, scoped
    to an organisation. Fail-closed: private requires org match."""
    df = collections.where(F.col("is_active") & F.col("catalog_is_active"))
    vis = F.col("visibility") == "public"
    if include_private and org is not None:
        vis = vis | ((F.col("visibility") == "private") & (F.col("org") == org))
    df = df.where(vis)
    if org is not None:
        df = df.where(F.col("org") == org)
    return df


def valid_pixels(df: DataFrame, value_col: str = "value") -> DataFrame:
    """P11 — drop nodata before aggregation (geoprocessing/zonal.py:56-57).
    Spark aggs null-skip natively; explicit filter also prunes rows early."""
    return df.where(F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col)))
