"""Raster format scans (SURVEY.md §2.1 S1-S7) as distributed Spark reads.

Shared shape for every format: `spark.read.format("binaryFile")` lists and
ships file bytes to executors; a `mapInPandas` decoder turns each file into
long-format grid rows (GRID_SCHEMA). That single pattern subsumes the
reference's per-file open_variable / chunked extraction / windowed read
(formats/base.py:102-141, ingestion/handlers/asset_handler.py:175-196):
Spark partitions files across executors, and the window predicate is
applied inside the decoder before rows are emitted (S6 pushdown).

The container lacks cfgrib/xarray/rasterio, so the GRIB2/NetCDF/GeoTIFF
decoders are import-gated: the Spark plumbing (schemas, binaryFile scan,
decoder signature, window slicing, affine math) is identical to the real
path and is exercised end-to-end by the NPZ grid format, which needs only
numpy. Plugging a real decoder in is a one-function change.
"""

from __future__ import annotations

import datetime as dt
import io
import math
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from georiva_spark.functions.frames import local_frame
from georiva_spark.schemas import GRID_SCHEMA
from georiva_spark.sources.registry import register_default

_GRID_COLS = [f.name for f in GRID_SCHEMA.fields]


def _emit_rows(values: np.ndarray, times: list, variable: str,
               transform: tuple[float, float, float], *,
               org: str = "default", catalog: str = "t", collection: str = "c",
               window: tuple[int, int, int, int] | None = None,
               timestamp=None,
               coords: tuple[np.ndarray, np.ndarray] | None = None
               ) -> pd.DataFrame:
    """(T,H,W) float array → long grid rows; NaN→null; optional spatial
    window (x_off, y_off, w, h) and single-timestamp selection applied
    *before* explosion (S5/S6 pushdown).

    transform = (lat0, lon0, res) or (lat0, lon0, res_y, res_x): pixel
    center lat = lat0 + res_y*(y+0.5), lon = lon0 + res_x*(x+0.5), with
    y=0 the southernmost row (north-up files are flipped by the decoder,
    mirroring the reference's south-up detect, netcdf.py:160-184). The
    3-tuple form means square pixels; rectangular grids (dx ≠ dy) must
    pass the 4-tuple.

    ``coords`` = (lat2d, lon2d) overrides the affine lat/lon — used by
    PROJECTED grids (GRIB2 LCC / polar stereographic / rotated pole)
    whose geographic coordinates are not an affine function of (y, x);
    arrays must be in the same (already-flipped) orientation as
    ``values`` and are sliced by the same window.
    """
    if len(transform) == 4:
        lat0, lon0, res_y, res_x = transform
    else:
        lat0, lon0, res_y = transform
        res_x = res_y
    arr = np.asarray(values, dtype=np.float64)
    if arr.ndim == 2:
        arr = arr[None]
    tsel = range(len(times))
    if timestamp is not None:
        # nearest-time select at extraction (J5; netcdf.py:130-134)
        diffs = [abs((t - timestamp).total_seconds()) for t in times]
        tsel = [int(np.argmin(diffs))]
    frames = []
    for ti in tsel:
        a = arr[ti]
        h, w = a.shape
        lat2d = lon2d = None
        if coords is not None:
            lat2d, lon2d = coords
        if window is not None:
            x0, y0, ww, wh = window
            a = a[y0:y0 + wh, x0:x0 + ww]
            if lat2d is not None:
                lat2d = lat2d[y0:y0 + wh, x0:x0 + ww]
                lon2d = lon2d[y0:y0 + wh, x0:x0 + ww]
        else:
            x0, y0 = 0, 0
        hh, ww = a.shape
        yy, xx = np.mgrid[0:hh, 0:ww]
        yy = yy + y0
        xx = xx + x0
        vals = a.ravel()
        sub = pd.DataFrame({
            "org": org, "catalog": catalog, "collection": collection,
            "variable": variable, "time": times[ti], "reference_time": None,
            "y": yy.ravel().astype("int64"), "x": xx.ravel().astype("int64"),
            "lat": (lat2d.ravel() if lat2d is not None
                    else lat0 + res_y * (yy.ravel() + 0.5)),
            "lon": (lon2d.ravel() if lon2d is not None
                    else lon0 + res_x * (xx.ravel() + 0.5)),
            "value": np.where(np.isnan(vals), None, vals),
        })
        if lat2d is not None:
            # a NaN coordinate marks a PAD cell (ragged reduced-Gaussian
            # rows rectangularized) — not a real pixel; drop it. Bitmap-
            # missing pixels keep their coordinates and stay as nulls.
            sub = sub[sub["lat"].notna()]
        frames.append(sub)
    out = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        columns=_GRID_COLS)
    return out[_GRID_COLS]


def _binary_scan(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.format("binaryFile").load(path)


class _BaseFilePlugin:
    """Common binaryFile → mapInPandas plumbing; subclasses provide
    ``_decode(content) -> (values(T,H,W), times, transform, variables)``."""

    name = "base"
    extensions: tuple[str, ...] = ()
    magic_bytes: tuple[bytes, ...] = ()

    def can_handle(self, path: str, head: bytes | None = None) -> bool:
        ext = path.lower().rsplit(".", 1)[-1]
        if ext in self.extensions:
            return True
        return head is not None and any(head.startswith(m)
                                        for m in self.magic_bytes)

    # -- decode seam ------------------------------------------------------
    def _decode(self, content: bytes, path: str | None = None):
        """→ (values list per variable (T,H,W), times, transform,
        variables). `path` carries the source filename for formats whose
        timestamp lives there (GeoTIFF, geotiff.py:100-103)."""
        raise NotImplementedError

    def _decode_variable(self, content: bytes, variable: str,
                         path: str | None = None):
        out = self._decode(content, path)
        values, times, transform, variables = out[:4]
        coords = out[4] if len(out) > 4 else None
        if variable not in variables:
            raise KeyError(f"{variable!r} not in {variables}")
        return values[variables.index(variable)], times, transform, coords

    # -- contract ---------------------------------------------------------
    def list_variables(self, spark: SparkSession, path: str) -> list[str]:
        row = _binary_scan(spark, path).select("path", "content").head()
        return list(self._decode(row.content, row.path)[3])

    def get_timestamps(self, spark: SparkSession, path: str,
                       variable: str) -> list:
        row = _binary_scan(spark, path).select("path", "content").head()
        return list(self._decode(row.content, row.path)[1])

    def open_variable(self, spark: SparkSession, path: str, variable: str,
                      *, timestamp=None, window=None,
                      collection: str = "c") -> DataFrame:
        decode = self._decode_variable

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for fpath, content in zip(pdf["path"], pdf["content"]):
                    values, times, transform, coords = decode(
                        content, variable, fpath)
                    yield _emit_rows(values, times, variable, transform,
                                     collection=collection,
                                     window=window, timestamp=timestamp,
                                     coords=coords)

        return (_binary_scan(spark, path).select("path", "content")
                .mapInPandas(gen, schema=GRID_SCHEMA))

    def open_file(self, spark: SparkSession, path: str, *,
                  collection: str = "c") -> DataFrame:
        """Every variable of one file as one frame (one partition) from a
        single driver decode shipped through Arrow — the ingest path;
        list_variables + open_variable per variable decode 1 + V times."""
        row = _binary_scan(spark, path).select("path", "content").head()
        out = self._decode(row.content, row.path)
        values, times, transform, variables = out[:4]
        coords = out[4] if len(out) > 4 else None
        pdf = pd.concat(
            [_emit_rows(v, times, name, transform, collection=collection,
                        coords=coords)
             for name, v in zip(variables, values)], ignore_index=True)
        return local_frame(spark, pdf, GRID_SCHEMA).coalesce(1)


class NpzGridPlugin(_BaseFilePlugin):
    """Real, dependency-free grid format for the container: a .npz with
    ``values`` (T,H,W) or dict-of-variable arrays, ``times`` (epoch
    seconds), ``transform`` [lat0, lon0, res]. Exercises the exact
    binaryFile+mapInPandas path the GRIB/NetCDF/GeoTIFF plugins use."""

    name = "npz-grid"
    extensions = ("npz",)
    magic_bytes = (b"PK",)

    def _decode(self, content: bytes, path: str | None = None):
        z = np.load(io.BytesIO(content), allow_pickle=False)
        times = [dt.datetime.fromtimestamp(float(s), dt.timezone.utc)
                 .replace(tzinfo=None) for s in z["times"]]
        transform = tuple(float(v) for v in z["transform"])
        variables = [k for k in z.files if k not in ("times", "transform")]
        values = [z[k] for k in variables]
        return values, times, transform, variables


class Grib2Plugin(_BaseFilePlugin):
    """S1 — GRIB2 scan keyed by shortName (formats/grib.py:61-144),
    dependency-free for the simple-packing subset via grib2_codec:
    multi-message files, lat/lon grids (template 3.0), bitmap missing →
    NaN, scanning-mode orientation, valid time = reference + forecast
    step. Complex/JPEG packing still raises (needs eccodes) through the
    same seam."""

    name = "grib2"
    extensions = ("grib", "grib2", "grb", "grb2")
    magic_bytes = (b"GRIB",)

    def _decode(self, content: bytes, path: str | None = None):
        from georiva_spark.sources.grib2_codec import (
            decode_grib2, grid_latlon_mesh,
        )
        msgs = decode_grib2(content)
        if not msgs:
            raise ValueError("empty GRIB2 payload")
        by_var: dict[str, list] = {}
        for m in msgs:
            # ensemble members (templates 4.1/4.11) surface as distinct
            # variables — shortName:pNN — so each member is selectable
            # through the shared (values, times) contract
            name = m["shortName"]
            if m.get("ens_member") is not None:
                name = f"{name}:p{m['ens_member']}"
            if m.get("derived_code") is not None:
                # derived-forecast products (4.2/4.12): mean/spread etc.
                # surface as distinct selectable variables
                suffix = {0: "mean", 4: "spread"}.get(
                    m["derived_code"], f"d{m['derived_code']}")
                name = f"{name}:{suffix}"
            if m.get("prob_type") is not None:
                # probability products (4.5/4.9): each probability
                # member is its own selectable variable
                name = f"{name}:prob{m.get('prob_num') or 0}"
            by_var.setdefault(name, []).append(m)
        m0 = msgs[0]
        nj = m0["values"].shape[0]
        dj, di = m0["dj"], m0["di"]
        if m0["proj"] is not None:
            # projected grid (LCC / polar stereo / rotated pole): lat/lon
            # are not affine in (y, x) — build the inverse-projected mesh
            # once per file and flip it alongside the values so row 0 is
            # the smallest projected y / rotated lat
            transform = (0.0, 0.0, dj, di)
            mesh = grid_latlon_mesh(m0)
            coords = (mesh if m0["south_up"]
                      else (np.flipud(mesh[0]), np.flipud(mesh[1])))
        else:
            if m0["south_up"]:
                lat0 = m0["la1"] - dj / 2
            else:  # row 0 = north (standard scanning): south edge from la1
                lat0 = m0["la1"] - (nj - 1) * dj - dj / 2
            lon0 = m0["lo1"] - di / 2
            transform = (lat0, lon0, dj, di)   # (lat0, lon0, res_y, res_x)
            coords = None
        # the shared (values, times, transform) contract requires every
        # variable on the same grid and time axis — fail loudly on a
        # mixed file rather than silently dropping/misaligning steps
        geo_keys = ("la1", "lo1", "di", "dj", "scan", "grid_template",
                    "proj")
        for m in msgs[1:]:
            if (m["values"].shape != m0["values"].shape
                    or any(m[k] != m0[k] for k in geo_keys)):
                raise ValueError(
                    "GRIB2 messages define different grids; decode "
                    "per-variable subsets separately")
        variables, values, times = sorted(by_var), [], None
        for name in variables:
            series = sorted(by_var[name], key=lambda m: m["valid_time"])
            vtimes = [m["valid_time"] for m in series]
            if times is None:
                times = vtimes
            elif vtimes != times:
                raise ValueError(
                    f"GRIB2 variable {name!r} has time axis {vtimes} but "
                    f"{variables[0]!r} has {times}; split the file")
            stack = []
            for m in series:
                a = m["values"]
                stack.append(a if m["south_up"] else np.flipud(a))
            values.append(np.stack(stack))
        return values, times, transform, variables, coords


class NetCDFPlugin(_BaseFilePlugin):
    """S2 — NetCDF scan, dependency-free for BOTH containers: classic
    CDF-1/2 (netcdf_codec) and NetCDF-4/HDF5 (hdf5_codec: superblock
    v0/v2, v1 object headers, symbol-table groups, contiguous + chunked
    b-tree-v1 layout, deflate/shuffle filters, DIMENSION_LIST binding).
    CF fill→NaN + packed-data scaling, "<unit> since <epoch>" time axes,
    latitude-orientation handling (formats/netcdf.py:33-184) are shared
    across containers. HDF5 features outside the native subset (v2
    object headers, szip, BE numerics) raise NotImplementedError naming
    the feature — the h5netcdf import gate remains only for those."""

    name = "netcdf"
    extensions = ("nc", "nc4", "cdf")
    magic_bytes = (b"CDF", b"\x89HDF")

    _Y_NAMES = ("lat", "latitude", "y")
    _X_NAMES = ("lon", "longitude", "x")
    _T_NAMES = ("time", "t", "valid_time")

    def _decode(self, content: bytes, path: str | None = None):
        from georiva_spark.sources.netcdf_codec import (
            cf_decode_times, cf_decode_values, decode_netcdf,
        )
        if content[:4] == b"\x89HDF":
            from georiva_spark.sources.hdf5_codec import decode_netcdf4
            d = decode_netcdf4(content)
        else:
            d = decode_netcdf(content)
        vs = d["variables"]

        def axis(names):
            for n in names:
                if n in vs and len(vs[n]["dims"]) == 1:
                    return n
            return None

        y_name, x_name = axis(self._Y_NAMES), axis(self._X_NAMES)
        t_name = axis(self._T_NAMES)
        if y_name is None or x_name is None:
            raise ValueError("no lat/lon axes in classic NetCDF payload")
        lat = np.asarray(vs[y_name]["data"], dtype=np.float64)
        lon = np.asarray(vs[x_name]["data"], dtype=np.float64)
        descending = len(lat) > 1 and lat[0] > lat[-1]
        res_y = float(abs(lat[1] - lat[0])) if len(lat) > 1 else 1.0
        lat0 = float(lat.min()) - res_y / 2
        res_x = float(abs(lon[1] - lon[0])) if len(lon) > 1 else res_y
        lon0 = float(lon.min()) - res_x / 2
        times = (cf_decode_times(vs[t_name])
                 if t_name is not None else [dt.datetime(1970, 1, 1)])

        y_dim = vs[y_name]["dims"][0]
        x_dim = vs[x_name]["dims"][0]
        variables, values = [], []
        for name, var in vs.items():
            if name in (y_name, x_name, t_name):
                continue
            if var["dims"][-2:] != [y_dim, x_dim]:
                continue
            a = cf_decode_values(var)
            if a.ndim == 2:
                a = a[None]
            if descending:  # north-up file → flip so row 0 is south
                a = a[:, ::-1, :]
            variables.append(name)
            values.append(a)
        return values, times, (lat0, lon0, res_y, res_x), variables


class GeoTIFFPlugin(_BaseFilePlugin):
    """S3 — band-indexed GeoTIFF read, dependency-free (struct+zlib+numpy
    via tiff_codec). Mirrors the reference plugin's behavior
    (formats/geotiff.py:37-373): variables exposed as band_1..band_N,
    timestamp parsed from the filename, GDAL nodata → NaN, north-up
    files flipped so row 0 is the southernmost (needs_flip detection,
    geotiff.py:343-345). Handles exactly the envelope the reference's
    own COG writer emits — deflate with predictor 3 (floats) / 2 (ints),
    strips or tiles (ingestion/asset_writer.py:86-99,213-235)."""

    name = "geotiff"
    extensions = ("tif", "tiff", "gtiff")
    magic_bytes = (b"II*\x00", b"MM\x00*")

    # same patterns/order as reference geotiff.py:352-358
    _TIMESTAMP_PATTERNS = (
        (r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})", "%Y-%m-%dT%H:%M:%S"),
        (r"(\d{4}-\d{2}-\d{2})", "%Y-%m-%d"),
        (r"(\d{8})_(\d{4})", None),  # YYYYMMDD_HHMM
        (r"(\d{14})", "%Y%m%d%H%M%S"),
        (r"(\d{8})", "%Y%m%d"),
    )

    @classmethod
    def _parse_timestamp_from_filename(cls, filename: str):
        for pattern, fmt in cls._TIMESTAMP_PATTERNS:
            m = re.search(pattern, filename)
            if not m:
                continue
            try:
                if fmt is None:
                    return dt.datetime.strptime(m.group(1) + m.group(2),
                                                "%Y%m%d%H%M")
                return dt.datetime.strptime(m.group(1), fmt)
            except (ValueError, IndexError):
                continue
        return None

    def _decode(self, content: bytes, path: str | None = None):
        from georiva_spark.sources.tiff_codec import decode_tiff
        bands, nodata, geo, flip = decode_tiff(content)
        spp, h, w = bands.shape
        if geo is None:
            # no georeferencing: identity pixel grid, already south-up
            sx, sy, x0, y_top, flip = 1.0, 1.0, 0.0, 0.0, False
        else:
            sx, sy, x0, y_top = geo
        # grid contract: row 0 = southernmost (see _emit_rows); standard
        # north-up files therefore flip here.
        values = []
        for b in range(spp):
            a = bands[b].astype(np.float64)
            if nodata is not None:
                a = np.where(a == nodata, np.nan, a)
            values.append((np.flipud(a) if flip else a)[None])
        ts = self._parse_timestamp_from_filename(
            (path or "").rsplit("/", 1)[-1]) or dt.datetime(1970, 1, 1)
        lat0 = y_top - sy * h if flip else y_top
        transform = (lat0, x0, sy, sx)      # (lat0, lon0, res_y, res_x)
        variables = [f"band_{b + 1}" for b in range(spp)]
        return values, [ts], transform, variables


NPZ = register_default(NpzGridPlugin())
GRIB2 = register_default(Grib2Plugin())
NETCDF = register_default(NetCDFPlugin())
GEOTIFF = register_default(GeoTIFFPlugin())
