"""Fixture builders for tests and recipe development: construct long-format
grid DataFrames from small numpy arrays (the reference's unit tests use tiny
synthetic arrays as golden oracles — geoprocessing/tests/*; FIXTURES.md).
"""

from __future__ import annotations

import datetime as dt
import math
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from georiva_spark.schemas import GRID_SCHEMA


def grid_from_arrays(spark: SparkSession, arrays, times: Sequence[dt.datetime],
                     *, collection: str = "c", variable: str = "v",
                     org: str = "default", catalog: str = "t",
                     lat0: float = 0.0, lon0: float = 0.0, res: float = 1.0,
                     north_up: bool = False) -> DataFrame:
    """arrays: (T, H, W) or (H, W) numpy; NaN → null value.

    Default row-index convention: y=0 is the row at lat0 (south origin,
    matching the synthetic events grid). north_up=True flips: y=0 is the
    northernmost row (the reference's COG contract, processing/raster_io.py).
    """
    arr = np.asarray(arrays, dtype=np.float64)
    if arr.ndim == 2:
        arr = arr[None, :, :]
    t_, h, w = arr.shape
    assert t_ == len(times)
    rows = []
    for ti, ts in enumerate(times):
        for y in range(h):
            lat_row = (h - 1 - y) if north_up else y
            lat = lat0 + res * (lat_row + 0.5)
            for x in range(w):
                v = arr[ti, y, x]
                rows.append((org, catalog, collection, variable, ts, None,
                             y, x, lat, lon0 + res * (x + 0.5),
                             None if math.isnan(v) else float(v)))
    from georiva_spark.functions.frames import local_frame
    return local_frame(spark, rows, GRID_SCHEMA)


def month_starts(start: dt.datetime, n: int) -> list[dt.datetime]:
    out = []
    y, m = start.year, start.month
    for _ in range(n):
        out.append(dt.datetime(y, m, 1, tzinfo=start.tzinfo))
        m += 1
        if m > 12:
            m, y = 1, y + 1
    return out


def square_geojson(x0: float, y0: float, x1: float, y1: float) -> str:
    """Axis-aligned square polygon, mirrors test_zonal.py _square."""
    return ('{"type": "Polygon", "coordinates": [[[%f, %f], [%f, %f], '
            '[%f, %f], [%f, %f], [%f, %f]]]}'
            % (x0, y0, x1, y0, x1, y1, x0, y1, x0, y0))


def jobs_in_group(spark: SparkSession, group: str, fn):
    """(fn(), the number of Spark jobs it ran), counted in the job
    group ``group`` — how tests and smokes pin a request's job budget."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
