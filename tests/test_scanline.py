"""Scanline zonal masks (Raptor, VLDB 2019) are bit-identical to the
even-odd pixel-centre test: ``functions/geo.scanline_runs`` against
``points_in_geometry`` over random polygons, holes, multipolygons and
open rings, with vertices, horizontal and duplicate edges snapped onto
the pixel-centre lattice; then ``zonal.tag_pixels`` end to end in Spark
over curvilinear grids carrying NaN and null coordinates, through both
the broadcast and the shuffle join."""

import json

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from georiva_spark.functions.frames import local_frame
from georiva_spark.functions.geo import (
    parse_geojson, points_in_geometry, scanline_runs,
)
from georiva_spark.operators import zonal

# the even-odd reference overflows on the ±1e308 edges below; its
# overflowed crossings are part of what the runs must reproduce
pytestmark = pytest.mark.filterwarnings("ignore::RuntimeWarning")

# pixel centres sit on the 0.5-lattice, so lattice vertices put vertices
# and edges exactly on centre latitudes and longitudes; free floats and
# repeated points add general-position and zero-length edges; ±1e308
# overflows edge spans to inf, whose NaN crossings (0 × inf on a vertex
# latitude) leave an odd crossing count at that latitude
coord = st.one_of(st.integers(-2, 12).map(lambda i: i * 0.5),
                  st.floats(-1.5, 6.5, allow_nan=False),
                  st.sampled_from([-1e308, 1e308]))


@st.composite
def rings(draw):
    pts = draw(st.lists(st.tuples(coord, coord), min_size=3, max_size=8))
    if draw(st.booleans()):                  # duplicate a vertex
        i = draw(st.integers(0, len(pts) - 1))
        pts.insert(i, pts[i])
    if draw(st.booleans()):                  # closed; otherwise left open
        pts.append(pts[0])
    return [list(p) for p in pts]


# a polygon is a shell plus holes; a multipolygon is 1-3 of them
geometries = st.lists(st.lists(rings(), min_size=1, max_size=3),
                      min_size=1, max_size=3).map(
    lambda polys: json.dumps({"type": "MultiPolygon", "coordinates": polys}))


def _run_member(runs, lon, lat):
    """The tagging join's predicate, evaluated in numpy."""
    rlat, lo, hi = runs
    hit = ((lat[:, None] == rlat[None, :]) & (lon[:, None] >= lo[None, :])
           & (lon[:, None] < hi[None, :]))
    return hit.any(axis=1)


@given(geometries, st.integers(1, 64))
@settings(max_examples=300, deadline=None)
def test_scanline_runs_equal_even_odd_test(geometry, chunk):
    g = parse_geojson(geometry)
    lon, lat = (a.ravel() for a in
                np.meshgrid(np.arange(-2.0, 7.0, 0.25),
                            np.arange(-2.0, 7.0, 0.25)))
    runs = scanline_runs(g, np.unique(lat), chunk=chunk)
    assert (_run_member(runs, lon, lat)
            == points_in_geometry(lon, lat, g)).all()
    # runs at one latitude are disjoint: a pixel is tagged at most once
    order = np.lexsort((runs[1], runs[0]))
    rl, lo, hi = (a[order] for a in runs)
    same = rl[1:] == rl[:-1]
    assert (lo[1:][same] >= hi[:-1][same]).all()


NAN, NULL = 1e300, 2e300          # sentinels swapped in after Arrow


@given(st.lists(geometries, min_size=1, max_size=3),
       st.sampled_from([0.0, 0.25, 0.5]),
       st.lists(st.tuples(st.integers(0, 79), st.sampled_from([NAN, NULL]),
                          st.booleans()), max_size=6))
@settings(max_examples=8, deadline=None)
def test_tag_pixels_equals_even_odd_test(spark, geoms, skew, holes):
    """Curvilinear (latitude varies along a row by ``skew`` per column)
    8×10 grid on the centre lattice, with NaN / null coordinates."""
    h, w = 8, 10
    y, x = (a.ravel() for a in np.mgrid[0:h, 0:w])
    lat = -1.25 + 0.75 * y + skew * x
    lon = -1.25 + 0.75 * x
    for i, bad, on_lat in holes:
        (lat if on_lat else lon)[i] = bad
    rows = [(int(a), int(b), float(c), float(d))
            for a, b, c, d in zip(y, x, lat, lon)]
    grid = local_frame(spark, rows, "y long, x long, lat double, lon double")
    for c in ("lat", "lon"):
        grid = grid.withColumn(c, F.when(F.col(c) == NAN, float("nan"))
                               .when(F.col(c) == NULL, None)
                               .otherwise(F.col(c)))
    lat_np = np.where(lat >= NAN, np.nan, lat)
    lon_np = np.where(lon >= NAN, np.nan, lon)
    bounds = [(i, 1, f"b{i}", gj) for i, gj in enumerate(geoms)]
    want = {(i, int(yy), int(xx))
            for i, gj in enumerate(geoms)
            for yy, xx in zip(*np.nonzero(points_in_geometry(
                lon_np, lat_np, parse_geojson(gj)).reshape(h, w)))}
    for gate in (2_000_000, 0):              # broadcast, then shuffle join
        got = {(r.boundary_id, r.y, r.x) for r in zonal.tag_pixels(
            grid, bounds, broadcast_max_mask_rows=gate).collect()}
        assert got == want
