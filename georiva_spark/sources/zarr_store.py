"""Zarr v2 directory-store scan and write (S11/S12 made concrete).

The reference builds virtual-Zarr/kerchunk manifests over per-timestep
COGs and opens them as one lazy xarray cube
(virtual_zarr/virtual_zarr.py:242-399). Here the long grid table is the
cube, so the manifest machinery is unnecessary — but a native Zarr READ
path is still valuable: archives increasingly ship as Zarr stores, and
the format is a *directory of independently compressed chunk files*,
which maps onto Spark better than any whole-file raster format:

- `spark.read.format("binaryFile")` lists the chunk files as splits —
  each executor decodes its chunks with zero coordination;
- spatial windows / timestamp selection prune at the LISTING level
  (chunk indices → file names), so a subset query never even ships the
  untouched chunks' bytes — stronger pushdown than the in-decoder
  window slice the whole-file formats get;
- a 100-TB cube is just more chunk files; scan parallelism is the
  chunk count, no single-file decode bottleneck.

Dependency-free subset: uncompressed, zlib/gzip, AND blosc (zarr's
default compressor — blosclz/lz4/zstd/snappy/zlib inner codecs with the
byte-shuffle AND bit-shuffle filters, via ``blosc_codec.py``), C and F
order (v2) plus the v3 ``transpose`` codec, no zarr filter chain
(zarr-level filters raise NotImplementedError naming the feature).
Spec: https://zarr-specs.readthedocs.io/en/latest/v2/v2.0.html
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zlib
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from georiva_spark.schemas import GRID_SCHEMA

_GRID_COLS = [f.name for f in GRID_SCHEMA.fields]


# Zarr v3 data_type names → numpy dtype strings (little-endian payload;
# the bytes codec's endian configuration flips to big when asked)
_DT3 = {"float64": "f8", "float32": "f4", "float16": "f2",
        "int64": "i8", "int32": "i4", "int16": "i2", "int8": "i1",
        "uint64": "u8", "uint32": "u4", "uint16": "u2", "uint8": "u1"}


def _crc32c_table() -> list[int]:
    poly = 0x82F63B78                   # reflected Castagnoli polynomial
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, RFC 3720 §B.4) — the checksum the Zarr v3
    ``crc32c`` codec appends. Table-driven; matches the published test
    vectors (crc32c(b'123456789') == 0xE3069283)."""
    crc = 0xFFFFFFFF
    t = _CRC32C_TABLE
    for b in data:
        crc = t[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _read_meta3(store: str, array: str) -> dict:
    """Zarr v3 array metadata (zarr.json) normalized into the same dict
    shape the v2 path uses, plus ``v3``/``key_sep`` for chunk-key
    construction. Codec chain support: [bytes] (+ endian), then one of
    gzip / zstd / blosc; transpose, sharding_indexed and crc32c are
    gated with named errors. Spec:
    https://zarr-specs.readthedocs.io/en/latest/v3/core/v3.0.html"""
    with open(os.path.join(store, array, "zarr.json")) as f:
        m3 = json.load(f)
    if m3.get("zarr_format") != 3 or m3.get("node_type") != "array":
        raise NotImplementedError("zarr.json is not a v3 array node")
    grid = m3["chunk_grid"]
    if grid.get("name") != "regular":
        raise NotImplementedError(f"zarr v3 chunk grid {grid.get('name')!r}")
    kenc = m3.get("chunk_key_encoding",
                  {"name": "default", "configuration": {}})
    cfg = kenc.get("configuration") or {}
    if kenc.get("name") == "default":
        sep, prefix = cfg.get("separator", "/"), "c"
    elif kenc.get("name") == "v2":
        sep, prefix = cfg.get("separator", "."), ""
    else:
        raise NotImplementedError(
            f"zarr v3 chunk key encoding {kenc.get('name')!r}")
    if m3["data_type"] not in _DT3:
        raise NotImplementedError(f"zarr v3 data type {m3['data_type']!r}")
    codecs = m3.get("codecs") or [{"name": "bytes"}]
    shard = None
    if codecs and codecs[0].get("name") == "sharding_indexed":
        # sharding: the chunk_grid shape is the SHARD shape; each shard
        # file packs a grid of inner chunks plus an (offset, nbytes)
        # uint64 index at index_location — the shard is the Spark split
        scfg = codecs[0].get("configuration") or {}
        dtype, comp, checksum, perm = _parse_codec_chain(
            scfg.get("codecs") or [{"name": "bytes"}], m3["data_type"])
        _, _, idx_crc, _ = _parse_codec_chain(
            scfg.get("index_codecs") or [{"name": "bytes"}], "uint64")
        shard = {"inner": scfg["chunk_shape"],
                 "index_location": scfg.get("index_location", "end"),
                 "index_crc32c": idx_crc}
    else:
        dtype, comp, checksum, perm = _parse_codec_chain(codecs,
                                                         m3["data_type"])
    return {"zarr_format": 3, "shape": m3["shape"],
            "chunks": grid["configuration"]["chunk_shape"],
            "dtype": dtype,
            "fill_value": _norm_fill(m3.get("fill_value")),
            "compressor": comp, "order": "C", "filters": None,
            "v3": True, "key_sep": sep, "key_prefix": prefix,
            "crc32c": checksum, "shard": shard, "transpose": perm,
            "attrs": m3.get("attributes") or {}}


def _norm_fill(fv):
    """v3 JSON encodes non-finite float fills as strings per spec."""
    if fv == "NaN":
        return float("nan")
    if fv == "Infinity":
        return float("inf")
    if fv == "-Infinity":
        return float("-inf")
    return fv


def _parse_codec_chain(codecs: list[dict], data_type: str):
    """Normalize a v3 codec chain [transpose] [bytes(endian)]
    [+ one compressor] [+ crc32c] → (numpy dtype str, compressor
    dict | None, crc32c flag, transpose order | None). Anything else
    raises by name."""
    dtype = "<" + _DT3[data_type]
    rest = list(codecs)
    perm = None
    if rest and rest[0].get("name") == "transpose":
        perm = list((rest[0].get("configuration") or {}).get("order", []))
        if not perm:
            raise NotImplementedError("zarr v3 transpose without order")
        rest = rest[1:]
    if rest and rest[0].get("name") == "bytes":
        endian = (rest[0].get("configuration") or {}).get("endian",
                                                          "little")
        if endian == "big":
            dtype = ">" + _DT3[data_type]
        rest = rest[1:]
    checksum = False
    if rest and rest[-1].get("name") == "crc32c":
        checksum = True
        rest = rest[:-1]
    if len(rest) > 1:
        raise NotImplementedError(
            "zarr v3 codec chain beyond bytes + one compressor")
    comp = None
    if rest:
        name = rest[0].get("name")
        if name in ("gzip", "zstd", "blosc"):
            comp = {"id": {"gzip": "zlib", "zstd": "zstd3",
                           "blosc": "blosc"}[name]}
        else:
            raise NotImplementedError(f"zarr v3 codec {name!r}")
    return dtype, comp, checksum, perm


def _read_meta(store: str, array: str) -> dict:
    if os.path.exists(os.path.join(store, array, "zarr.json")):
        return _read_meta3(store, array)
    with open(os.path.join(store, array, ".zarray")) as f:
        meta = json.load(f)
    if meta.get("zarr_format") != 2:
        raise NotImplementedError(
            f"zarr_format {meta.get('zarr_format')} (only v2/v3)")
    comp = meta.get("compressor")
    if comp is not None and comp.get("id") not in ("zlib", "gzip", "blosc"):
        raise NotImplementedError(
            f"zarr compressor {comp.get('id')!r} "
            "(blosc/zlib/gzip/None only)")
    if meta.get("filters"):
        raise NotImplementedError("zarr filter chain")
    if meta.get("order", "C") not in ("C", "F"):
        raise NotImplementedError(
            f"zarr order {meta.get('order')!r}")
    # v2 also JSON-encodes non-finite float fills as strings
    meta["fill_value"] = _norm_fill(meta.get("fill_value"))
    zattrs = os.path.join(store, array, ".zattrs")
    if os.path.exists(zattrs):
        with open(zattrs) as f:
            meta["attrs"] = json.load(f)
    return meta


def _nodata_sentinel(meta: dict):
    """The value the scan masks to null, per the reference's semantics
    (virtual_zarr: mask only on the CF ``_FillValue`` attribute, never on
    zarr's structural fill). v2's ``fill_value`` is kept as a sentinel
    when non-null — the long-standing v2 convention — but v3 REQUIRES a
    fill_value (zarr-python defaults it to 0), so treating it as nodata
    silently nulls genuine zeros; for v3 only an explicit ``_FillValue``
    attribute or a NaN fill masks. Returns None for "mask nothing"."""
    attrs = meta.get("attrs") or {}
    if "_FillValue" in attrs:
        return _norm_fill(attrs["_FillValue"])
    if meta.get("v3"):
        fv = meta.get("fill_value")
        return fv if isinstance(fv, float) and np.isnan(fv) else None
    return meta.get("fill_value")


def _chunk_key(meta: dict, idx: tuple[int, ...]) -> str:
    """Chunk file path (relative to the array dir) for chunk indices —
    v2 '0.1.2'; v3 default 'c/0/1/2' (or 'c.0.1.2'), v2-encoding per the
    configured separator."""
    if not meta.get("v3"):
        return ".".join(map(str, idx))
    sep = meta["key_sep"]
    parts = [str(v) for v in idx]
    if meta["key_prefix"]:
        return sep.join([meta["key_prefix"], *parts])
    return sep.join(parts)


def _decode_chunk(content: bytes, meta: dict) -> np.ndarray:
    if meta.get("crc32c"):
        want = int.from_bytes(content[-4:], "little")
        content = content[:-4]
        got = crc32c(content)
        if got != want:
            raise ValueError(
                f"zarr v3 crc32c mismatch: {got:#010x} != {want:#010x}")
    comp = meta.get("compressor")
    if comp is None:
        raw = content
    elif comp.get("id") == "blosc":
        from georiva_spark.sources.blosc_codec import blosc_decompress
        raw = blosc_decompress(content)
    elif comp.get("id") == "zstd3":
        import pyarrow as pa
        raw = pa.Codec("zstd").decompress(
            content, decompressed_size=int(
                np.prod(meta["chunks"])
                * np.dtype(meta["dtype"]).itemsize), asbytes=True)
    else:
        raw = zlib.decompress(content, 47)
    a = np.frombuffer(raw, dtype=np.dtype(meta["dtype"]))
    perm = meta.get("transpose")
    if perm:
        # v3 transpose codec: stored dims are chunk dims permuted by
        # ``order``; reshape to the stored layout, then invert
        stored = [meta["chunks"][p] for p in perm]
        inv = np.argsort(perm)
        return np.ascontiguousarray(a.reshape(stored).transpose(inv))
    if meta.get("order", "C") == "F":
        # v2 F-order chunks (xarray transposes in legacy stores)
        return a.reshape(meta["chunks"], order="F")
    return a.reshape(meta["chunks"])


_SHARD_MISSING = 0xFFFFFFFFFFFFFFFF


def _fill_block(shape, meta: dict):
    """Materialize a missing chunk as a fill-valued block, per the zarr
    spec (absent chunk file / all-ones shard index pair == fill_value).
    Returns None when nothing is materializable: fill_value null (legacy
    v2 stores leave missing data undefined) or a NaN fill on an integer
    dtype (not representable). The block then flows through the SAME
    nodata masking as decoded data, so a v2 sentinel fill or an explicit
    _FillValue comes out as null values while a v3 structural fill
    (e.g. 0) comes out as genuine data — exactly what zarr-python
    returns for a sparsely-written store (r4 advisor item)."""
    fv = meta.get("fill_value")
    if fv is None:
        return None
    dt = np.dtype(meta["dtype"])
    if isinstance(fv, float) and np.isnan(fv) and dt.kind not in "fc":
        return None
    return np.full(shape, fv, dtype=dt)


def _decode_shard(content: bytes, meta: dict):
    """Yield (origin-in-elements, inner ndarray) for every inner chunk
    of one shard file (v3 sharding_indexed): parse the uint64
    (offset, nbytes) index at index_location, then decode each present
    inner chunk through the inner codec chain; a missing pair
    (all-ones) MATERIALIZES as a fill_value block per spec (r5 —
    matching zarr-python on sparsely-written shards; previously those
    cells were dropped)."""
    sh = meta["shard"]
    inner = sh["inner"]
    chunks = meta["chunks"]
    n_per_dim = [-(-c // i) for c, i in zip(chunks, inner)]
    n_tot = int(np.prod(n_per_dim))
    isz = n_tot * 16 + (4 if sh["index_crc32c"] else 0)
    ib = (content[:isz] if sh["index_location"] == "start"
          else content[-isz:])
    if sh["index_crc32c"]:
        want = int.from_bytes(ib[-4:], "little")
        ib = ib[:-4]
        if crc32c(ib) != want:
            raise ValueError("zarr v3 shard index crc32c mismatch")
    offs = np.frombuffer(ib, "<u8").reshape(n_tot, 2)
    inner_meta = {"chunks": inner, "dtype": meta["dtype"],
                  "compressor": meta["compressor"],
                  "crc32c": meta["crc32c"],
                  "transpose": meta.get("transpose")}
    for k, idx in enumerate(np.ndindex(*n_per_dim)):
        off, nb = int(offs[k, 0]), int(offs[k, 1])
        if off == _SHARD_MISSING and nb == _SHARD_MISSING:
            arr = _fill_block(tuple(inner), meta)
            if arr is None:
                continue            # null fill: missing data undefined
        else:
            arr = _decode_chunk(content[off:off + nb], inner_meta)
        yield tuple(i * s for i, s in zip(idx, inner)), arr


def _read_small_array(store: str, array: str) -> np.ndarray:
    """Driver-side read of a SMALL coordinate array (lat/lon/time axes —
    bounded metadata, same role as parsing a file header)."""
    meta = _read_meta(store, array)
    if meta.get("shard"):
        raise NotImplementedError(
            f"sharded coordinate array {array!r} (sharding_indexed on a "
            "1-D axis array)")
    shape, chunks = meta["shape"], meta["chunks"]
    if len(shape) != 1:
        raise ValueError(f"coordinate array {array} is not 1-D")
    out = np.empty(shape[0], dtype=np.dtype(meta["dtype"]))
    nchunks = -(-shape[0] // chunks[0])
    for c in range(nchunks):
        with open(os.path.join(store, array,
                               _chunk_key(meta, (c,))), "rb") as f:
            data = _decode_chunk(f.read(), meta)
        lo = c * chunks[0]
        out[lo:lo + min(chunks[0], shape[0] - lo)] = \
            data[:min(chunks[0], shape[0] - lo)]
    return out


class ZarrStorePlugin:
    """Chunk-parallel Zarr v2 store read → long grid rows.

    Store layout contract (the CF-style cube the reference's virtual
    manifests expose): data arrays of shape (Y, X) or (T, Y, X) with
    1-D coordinate arrays ``lat``/``lon`` (+ ``time`` as epoch seconds
    for 3-D). Rows come out in the south-up grid contract (y=0 the
    southernmost row) regardless of the store's latitude orientation.
    """

    name = "zarr"

    def list_variables(self, store: str) -> list[str]:
        out = []
        for entry in sorted(os.listdir(store)):
            if entry in ("lat", "lon", "time", "latitude", "longitude"):
                continue
            d = os.path.join(store, entry)
            if os.path.isfile(os.path.join(d, ".zarray")) or \
                    os.path.isfile(os.path.join(d, "zarr.json")):
                out.append(entry)
        return out

    def get_timestamps(self, store: str) -> list[dt.datetime]:
        t = _read_small_array(store, "time")
        return [dt.datetime.fromtimestamp(float(s), dt.timezone.utc)
                .replace(tzinfo=None) for s in t]

    def open_file(self, spark: SparkSession, store: str, *,
                  collection: str = "c") -> DataFrame:
        """Every data array as one frame (ingest), each chunk-parallel."""
        parts = [self.open_variable(spark, store, v, collection=collection)
                 for v in self.list_variables(store)]
        return reduce(DataFrame.unionByName, parts)

    def open_variable(self, spark: SparkSession, store: str, variable: str,
                      *, window: tuple[int, int, int, int] | None = None,
                      timestamp: dt.datetime | None = None,
                      collection: str = "c") -> DataFrame:
        meta = _read_meta(store, variable)
        shape, chunks = meta["shape"], meta["chunks"]
        if len(shape) == 2:
            tdim = False
            ny, nx = shape
            cy, cx = chunks
        elif len(shape) == 3:
            tdim = True
            nt, ny, nx = shape
            ct, cy, cx = chunks
        else:
            raise ValueError(f"unsupported zarr rank {len(shape)}")

        lat = _read_small_array(
            store, "lat" if os.path.isdir(os.path.join(store, "lat"))
            else "latitude")
        lon = _read_small_array(
            store, "lon" if os.path.isdir(os.path.join(store, "lon"))
            else "longitude")
        descending = len(lat) > 1 and lat[0] > lat[-1]
        times = (self.get_timestamps(store) if tdim
                 else [dt.datetime(1970, 1, 1)])

        # ---- listing-level chunk pruning --------------------------------
        # window is (x_off, y_off, w, h) in SOUTH-UP grid coordinates;
        # translate to storage rows before choosing chunk indices.
        ys = range(-(-ny // cy))
        xs = range(-(-nx // cx))
        ts = range(-(-nt // ct)) if tdim else [None]
        if window is not None:
            x0, y0, ww, wh = window
            rows = ([ny - (y0 + wh), ny - y0 - 1] if descending
                    else [y0, y0 + wh - 1])
            ys = range(max(0, rows[0] // cy),
                       min(len(ys), rows[1] // cy + 1))
            xs = range(x0 // cx, min(len(xs), (x0 + ww - 1) // cx + 1))
        if tdim and timestamp is not None:
            diffs = [abs((t - timestamp).total_seconds()) for t in times]
            tsel = int(np.argmin(diffs))
            ts = [tsel // ct]
        # absent chunk files materialize as fill_value per spec (r5):
        # enumerate them alongside the present ones (the driver already
        # walks this candidate grid) and ship each as a zero-byte
        # synthetic row through the same decode map — the generator
        # expands it to a fill block, so masking/windowing/clipping are
        # shared with decoded chunks. Stores with a null fill keep the
        # old "no rows" behavior (missing data is undefined there).
        paths = []
        missing = []
        for t in ts:
            for y in ys:
                for x in xs:
                    idx = (t, y, x) if tdim else (y, x)
                    p = os.path.join(store, variable,
                                     _chunk_key(meta, idx))
                    if os.path.exists(p):
                        paths.append(p)
                    else:
                        missing.append(p)
        fillable = _fill_block((1,) * len(meta["chunks"]), meta)
        if not missing or fillable is None:
            missing = []
        if not paths and not missing:
            return spark.createDataFrame([], GRID_SCHEMA)

        fill = _nodata_sentinel(meta)
        lat_b = lat.copy()
        lon_b = lon.copy()
        times_b = list(times)
        tsel_only = (int(np.argmin(
            [abs((t - timestamp).total_seconds()) for t in times]))
            if (tdim and timestamp is not None) else None)

        ndim_k = 3 if tdim else 2

        def _parse_key(fpath: str) -> list[int]:
            # v2: '<t>.<y>.<x>' in the final component; v3 default:
            # '.../c/<t>/<y>/<x>' (or 'c.<t>.<y>.<x>'); v3 v2-encoding:
            # separator-joined final component
            if meta.get("v3") and meta["key_sep"] == "/":
                return [int(v) for v in fpath.split("/")[-ndim_k:]]
            key = fpath.rsplit("/", 1)[-1]
            parts = key.split(meta.get("key_sep", "."))
            if meta.get("v3") and meta.get("key_prefix"):
                parts = parts[1:]
            return [int(v) for v in parts]

        # storage-space window for WITHIN-shard inner-chunk pruning
        # (listing-level pruning already dropped whole shards/chunks)
        stor_win = None
        if window is not None:
            x0, y0, ww, wh = window
            srows = ([ny - (y0 + wh), ny - y0 - 1] if descending
                     else [y0, y0 + wh - 1])
            stor_win = (srows[0], srows[1], x0, x0 + ww - 1)
        sharded = bool(meta.get("shard"))

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for fpath, content in zip(pdf["path"], pdf["content"]):
                    idx = _parse_key(fpath)
                    if tdim:
                        tc, yc, xc = idx
                        corigin = (tc * ct, yc * cy, xc * cx)
                    else:
                        yc, xc = idx
                        corigin = (0, yc * cy, xc * cx)
                    if len(content) == 0:
                        # synthetic row for an absent chunk file:
                        # materialize the whole (outer) chunk as fill
                        a = _fill_block(tuple(meta["chunks"]), meta)
                        blocks = [(corigin, a if tdim else a[None])]
                    elif sharded:
                        blocks = []
                        for ioff, arr in _decode_shard(content, meta):
                            if tdim:
                                borigin = (corigin[0] + ioff[0],
                                           corigin[1] + ioff[1],
                                           corigin[2] + ioff[2])
                                a3 = arr
                            else:
                                borigin = (0, corigin[1] + ioff[0],
                                           corigin[2] + ioff[1])
                                a3 = arr[None]
                            if stor_win is not None:
                                rl, rh, xl, xh = stor_win
                                if (borigin[1] > rh
                                        or borigin[1] + a3.shape[1] <= rl
                                        or borigin[2] > xh
                                        or borigin[2] + a3.shape[2]
                                        <= xl):
                                    continue     # inner chunk outside
                            blocks.append((borigin, a3))
                    else:
                        a = _decode_chunk(content, meta)
                        blocks = [(corigin, a if tdim else a[None])]
                    frames = []
                    for (tlo, ylo, xlo), a in blocks:
                        a = a.astype(np.float64)
                        if fill is not None and not (
                                isinstance(fill, float)
                                and np.isnan(fill)):
                            a = np.where(a == fill, np.nan, a)
                        # clip padded edge blocks to the array bounds
                        a = a[:, :max(0, min(a.shape[1], ny - ylo)),
                              :max(0, min(a.shape[2], nx - xlo))]
                        if a.shape[1] == 0 or a.shape[2] == 0:
                            continue
                        hh, ww_ = a.shape[1], a.shape[2]
                        yy, xx = np.mgrid[0:hh, 0:ww_]
                        rows_g = ylo + yy        # storage row index
                        # south-up contract: flip when lat descending
                        gy = (ny - 1 - rows_g) if descending else rows_g
                        for ti in range(a.shape[0]):
                            tglob = tlo + ti
                            if tglob >= len(times_b):
                                continue
                            if (tsel_only is not None
                                    and tglob != tsel_only):
                                continue
                            vals = a[ti].ravel()
                            frames.append(pd.DataFrame({
                                "org": "default", "catalog": "t",
                                "collection": collection,
                                "variable": variable,
                                "time": times_b[tglob],
                                "reference_time": None,
                                "y": gy.ravel().astype("int64"),
                                "x": (xlo + xx).ravel().astype("int64"),
                                "lat": lat_b[rows_g.ravel()],
                                "lon": lon_b[(xlo + xx).ravel()],
                                "value": np.where(np.isnan(vals), None,
                                                  vals),
                            }))
                    if frames:
                        yield pd.concat(frames,
                                        ignore_index=True)[_GRID_COLS]

        srcs = []
        if paths:
            srcs.append(spark.read.format("binaryFile").load(paths)
                        .select("path", "content"))
        if missing:
            from georiva_spark.functions.frames import local_frame
            srcs.append(local_frame(
                spark,
                [(p, b"") for p in missing], "path string, content binary"))
        src = srcs[0]
        for s in srcs[1:]:
            src = src.unionByName(s)
        df = src.mapInPandas(gen, schema=GRID_SCHEMA)
        if window is not None:
            from pyspark.sql import functions as F
            x0, y0, ww, wh = window
            df = df.where((F.col("x") >= x0) & (F.col("x") < x0 + ww)
                          & (F.col("y") >= y0) & (F.col("y") < y0 + wh))
        return df


_DT3_INV = {"f8": "float64", "f4": "float32", "f2": "float16",
            "i8": "int64", "i4": "int32", "i2": "int16", "i1": "int8",
            "u8": "uint64", "u4": "uint32", "u2": "uint16", "u1": "uint8"}


def write_zarr(store: str, arrays: dict[str, np.ndarray],
               chunks: dict[str, tuple] | None = None,
               fill_value: float | None = None,
               compress: bool = True,
               compressor: str = "zlib",
               zarr_format: int = 2,
               checksum: bool = False,
               shard_inner: dict[str, tuple] | None = None,
               order: str = "C") -> None:
    """Minimal Zarr directory-store writer (tests + export): C-order
    chunks, zlib/gzip or blosc compressor (``compressor="blosc:<cname>[:bit]"``,
    e.g. ``"blosc:lz4"`` — zarr-python's default layout — or
    ``"blosc:lz4:bit"`` for the bit-shuffle filter), edge chunks
    padded to full chunk shape per spec. ``zarr_format=3`` writes the v3
    layout: per-array ``zarr.json`` (bytes + gzip/blosc codec chain) and
    ``c/``-prefixed slash-separated chunk keys. ``arrays`` maps
    name → ndarray; 1-D coordinate arrays get one chunk by default."""
    parts = compressor.split(":")
    blosc_cname = parts[1] if len(parts) > 1 else "lz4"
    blosc_bit = len(parts) > 2 and parts[2] == "bit"
    use_blosc = compress and compressor.startswith("blosc")
    if use_blosc:
        from georiva_spark.sources.blosc_codec import blosc_compress
    v3 = zarr_format == 3
    if order not in ("C", "F") or (v3 and order == "F"):
        raise ValueError("order='F' is a v2 layout (v3 uses the "
                         "transpose codec)")
    if v3:
        os.makedirs(store, exist_ok=True)
        with open(os.path.join(store, "zarr.json"), "w") as f:
            json.dump({"zarr_format": 3, "node_type": "group"}, f)
    for name, a in arrays.items():
        a = np.ascontiguousarray(a)
        ch = tuple((chunks or {}).get(name, ()) or
                   (a.shape if a.ndim == 1 else
                    tuple(min(s, 64) for s in a.shape)))
        adir = os.path.join(store, name)
        os.makedirs(adir, exist_ok=True)
        pad_fill = (fill_value if fill_value is not None
                    else np.nan if (v3 and a.dtype.kind == "f") else 0)
        sh_in = tuple((shard_inner or {}).get(name, ()))
        if sh_in and not v3:
            raise ValueError("sharding requires zarr_format=3")
        if v3:
            codecs = [{"name": "bytes",
                       "configuration": {"endian": "little"}}]
            if compress:
                codecs.append(
                    {"name": "blosc",
                     "configuration": {"cname": blosc_cname, "clevel": 5,
                                       "shuffle": ("bitshuffle"
                                                   if blosc_bit
                                                   else "shuffle"),
                                       "typesize": a.dtype.itemsize,
                                       "blocksize": 0}}
                    if use_blosc else
                    {"name": "gzip", "configuration": {"level": 6}})
            if checksum:
                codecs.append({"name": "crc32c"})
            if sh_in:
                codecs = [{"name": "sharding_indexed",
                           "configuration": {
                               "chunk_shape": list(sh_in),
                               "codecs": codecs,
                               "index_codecs": [
                                   {"name": "bytes",
                                    "configuration":
                                        {"endian": "little"}},
                                   {"name": "crc32c"}],
                               "index_location": "end"}}]
            # v3 REQUIRES a fill_value, but it is structural (the value
            # an unwritten chunk reads as), NOT a nodata sentinel — so
            # float arrays default to NaN (encoded "NaN" per spec, as
            # JSON has no NaN literal) rather than 0, which would alias
            # genuine zero data. An explicit caller fill is additionally
            # recorded as a CF ``_FillValue`` attribute, which is what
            # the scan masks on (xarray writes nodata the same way).
            if fill_value is not None:
                fv3 = ("NaN" if isinstance(fill_value, float)
                       and np.isnan(fill_value) else fill_value)
            elif a.dtype.kind == "f":
                fv3 = "NaN"
            else:
                fv3 = 0
            meta = {
                "zarr_format": 3, "node_type": "array",
                "shape": list(a.shape),
                "data_type": _DT3_INV[a.dtype.str.lstrip("<>|=")],
                "chunk_grid": {"name": "regular",
                               "configuration":
                                   {"chunk_shape": list(ch)}},
                "chunk_key_encoding": {"name": "default",
                                       "configuration":
                                           {"separator": "/"}},
                "fill_value": fv3,
                "codecs": codecs,
            }
            if fill_value is not None:
                meta["attributes"] = {"_FillValue": fv3}
            with open(os.path.join(adir, "zarr.json"), "w") as f:
                json.dump(meta, f)
        else:
            comp_meta = None
            if compress:
                comp_meta = ({"id": "blosc", "cname": blosc_cname,
                              "clevel": 5,
                              "shuffle": 2 if blosc_bit else 1,
                              "blocksize": 0}
                             if use_blosc
                             else {"id": "zlib", "level": 6})
            meta = {
                "zarr_format": 2, "shape": list(a.shape),
                "chunks": list(ch), "dtype": a.dtype.str,
                "compressor": comp_meta,
                "fill_value": fill_value, "order": order,
                "filters": None,
            }
            with open(os.path.join(adir, ".zarray"), "w") as f:
                json.dump(meta, f)
        def _enc(raw: bytes) -> bytes:
            if not compress:
                payload = raw
            elif use_blosc:
                payload = blosc_compress(raw, a.dtype.itemsize,
                                         cname=blosc_cname,
                                         shuffle="bit" if blosc_bit
                                         else True)
            elif v3:
                co = zlib.compressobj(6, zlib.DEFLATED, 31)  # true gzip
                payload = co.compress(raw) + co.flush()
            else:
                payload = zlib.compress(raw, 6)
            if v3 and checksum:
                payload += crc32c(payload).to_bytes(4, "little")
            return payload

        def _padded(block: np.ndarray, shape: tuple) -> bytes:
            if block.shape != shape:              # pad edge chunks
                pad = np.full(shape, pad_fill, dtype=a.dtype)
                pad[tuple(slice(0, s) for s in block.shape)] = block
                block = pad
            return np.asarray(block).tobytes(order=order)

        grid = [range(-(-s // c)) for s, c in zip(a.shape, ch)]
        import itertools
        for idx in itertools.product(*grid):
            sl = tuple(slice(i * c, (i + 1) * c) for i, c in zip(idx, ch))
            block = a[sl]
            if sh_in:
                # assemble one shard: concatenated encoded inner chunks
                # + (offset, nbytes) uint64 index + its crc32c at end
                if block.shape != ch:
                    pad = np.full(ch, pad_fill, dtype=a.dtype)
                    pad[tuple(slice(0, s)
                              for s in block.shape)] = block
                    block = pad
                body = bytearray()
                index: list[int] = []
                igrid = [range(-(-c // i))
                         for c, i in zip(ch, sh_in)]
                for iidx in itertools.product(*igrid):
                    isl = tuple(slice(j * i, (j + 1) * i)
                                for j, i in zip(iidx, sh_in))
                    pay = _enc(_padded(block[isl], sh_in))
                    index += [len(body), len(pay)]
                    body += pay
                ib = b"".join(v.to_bytes(8, "little") for v in index)
                payload = bytes(body) + ib + \
                    crc32c(ib).to_bytes(4, "little")
            else:
                payload = _enc(_padded(block, ch))
            if v3:
                kp = os.path.join(adir, "c", *map(str, idx))
                os.makedirs(os.path.dirname(kp), exist_ok=True)
            else:
                kp = os.path.join(adir, ".".join(map(str, idx)))
            with open(kp, "wb") as f:
                f.write(payload)


ZARR = ZarrStorePlugin()
