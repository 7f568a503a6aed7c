"""Dependency-free GRIB2 codec (stdlib struct + numpy) for the
simple-packing subset.

The reference decodes GRIB via cfgrib/eccodes (formats/grib.py:61-144),
absent from this container. GRIB2's wire format is plain big-endian
sections, and the overwhelmingly common encoding for the reference's
feeds (lat/lon grid + simple packing) needs no library:

- Section 0/8 framing ("GRIB"…"7777"), multi-message files
- Section 1 reference time
- Section 3 grid definition template 3.0 (lat/lon), scanning modes
- Section 4 product template 4.0 (parameter + forecast offset)
- Section 5 data representation template 5.0 (simple packing:
  v = (R + X·2^E)·10^-D with X an nbits unsigned big-endian bit field)
- Section 6 bitmap (missing points → NaN)

Complex packing (5.2) and complex packing with spatial differencing
(5.3, orders 1/2 — the NCEP default encoding) decode natively per WMO
templates 7.2/7.3: group references/widths/lengths bit-fields, then a
contiguous variable-width value stream, then the gmin shift and the
first/second-order undifferencing recurrence. PNG packing (5.41) decodes
natively via the dependency-free codec in png_codec.py (zlib + scanline
filters — same section-5 layout as 5.0, X values as PNG pixel samples).
JPEG2000 packing (5.40 — the encoding GFS/NCEP products actually ship)
decodes natively via j2k_codec.py (MQ coder, EBCOT T1, reversible 5/3
wavelet, full codestream parse); lossless J2K reproduces the X integers
exactly, so the same quantization oracle applies. CCSDS/AEC packing
(5.42 — some ECMWF archives) decodes natively via aec_codec.py
(CCSDS 121.0 Rice coding: unit-delay preprocessing, zero-run /
second-extension / k-split / uncompressed options). Missing-value
management with complex packing is handled (octet 23 modes 1/2); other
representation templates raise NotImplementedError naming the variant.

The writer quantizes with floor((v-R)·2^-E) — a valid encoder choice
that keeps the quantized values exactly reproducible by integer/double
arithmetic in an external SQL oracle (see q_ingest_grib2).
"""

from __future__ import annotations

import datetime as dt
import math
import struct

import numpy as np

# (discipline, category, number) → shortName for common parameters
# (WMO GRIB2 code tables 4.1/4.2; cfgrib uses the same shortNames)
PARAM_SHORTNAMES = {
    (0, 0, 0): "t", (0, 0, 6): "dpt", (0, 1, 8): "tp", (0, 1, 1): "r",
    (0, 2, 2): "u", (0, 2, 3): "v", (0, 3, 0): "pres", (0, 3, 1): "prmsl",
    (2, 0, 192): "sm",
}
_SHORTNAME_PARAMS = {v: k for k, v in PARAM_SHORTNAMES.items()}


def _u(buf: bytes, off: int, n: int) -> int:
    return int.from_bytes(buf[off:off + n], "big")


def _s(buf: bytes, off: int, n: int) -> int:
    """GRIB signed = sign-magnitude (MSB is the sign bit)."""
    v = _u(buf, off, n)
    sign_bit = 1 << (8 * n - 1)
    return -(v & ~sign_bit) if v & sign_bit else v


def _unpack_bits(data: bytes, nbits: int, n: int) -> np.ndarray:
    if nbits == 0:
        return np.zeros(n, dtype=np.int64)
    bits = np.unpackbits(np.frombuffer(data, np.uint8),
                         count=n * nbits).reshape(n, nbits)
    weights = (1 << np.arange(nbits - 1, -1, -1)).astype(np.int64)
    return bits.astype(np.int64) @ weights


def _pack_bits(x: np.ndarray, nbits: int) -> bytes:
    bits = ((x[:, None] >> np.arange(nbits - 1, -1, -1)) & 1).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _take_bits(bits: np.ndarray, start: int, nvals: int,
               width: int) -> tuple[np.ndarray, int]:
    """Read `nvals` big-endian fields of `width` bits from an unpacked
    0/1 bit array, returning (values, next bit offset)."""
    if width == 0:
        return np.zeros(nvals, dtype=np.int64), start
    sl = bits[start:start + nvals * width].reshape(nvals, width)
    w = (1 << np.arange(width - 1, -1, -1)).astype(np.int64)
    return sl.astype(np.int64) @ w, start + nvals * width


def _sm_val(buf: bytes, off: int, n: int) -> int:
    return _s(buf, off, n)


def _unpack_complex(s5: bytes, s7: bytes,
                    npoints: int) -> tuple[np.ndarray, np.ndarray | None]:
    """Templates 5.2/5.3 → (X int64, missing mask or None). Layout per
    WMO 7.2/7.3: [5.3 only: order+1 extra descriptors of ND octets,
    sign-magnitude] then NG group refs (nbits each), NG group widths,
    NG scaled group lengths — each run zero-padded to an octet boundary
    — then the data values as one CONTIGUOUS variable-width bit stream
    (group g's length_g values at width_g bits).

    Missing-value management (octet 23 = 1 or 2, the NCEP default for
    precip): a raw value of all-ones at the group width marks a primary
    missing point (all-ones − 1 = secondary under mode 2); a width-0
    group whose REFERENCE is all-ones at the reference width is missing
    wholesale. Spatial differencing applies to the NON-missing sequence
    only (g2clib comunpack semantics)."""
    tmpl = _u(s5, 9, 2)
    nbits = s5[19]
    mgmt = s5[22]
    if mgmt not in (0, 1, 2):
        raise NotImplementedError(
            f"complex-packing missing-value management {mgmt}")
    ng = _u(s5, 31, 4)
    ref_width, wbits = s5[35], s5[36]
    ref_len, len_inc = _u(s5, 37, 4), s5[41]
    last_len = _u(s5, 42, 4)
    lbits = s5[46]

    payload = s7[5:]
    pos = 0
    order = 0
    extra: list[int] = []
    if tmpl == 3:
        order, nd = s5[47], s5[48]
        if order not in (1, 2):
            raise NotImplementedError(f"spatial differencing order {order}")
        for _ in range(order + 1):          # originals..., then gmin
            extra.append(_sm_val(payload, pos, nd))
            pos += nd

    bits = np.unpackbits(np.frombuffer(payload[pos:], np.uint8))
    off = 0
    refs, off = _take_bits(bits, off, ng, nbits)
    off = (off + 7) & ~7
    widths, off = _take_bits(bits, off, ng, wbits)
    widths = widths + ref_width
    off = (off + 7) & ~7
    slens, off = _take_bits(bits, off, ng, lbits)
    off = (off + 7) & ~7
    lens = ref_len + len_inc * slens
    if ng:
        lens[-1] = last_len
    if int(lens.sum()) != npoints:
        raise ValueError(f"group lengths sum {int(lens.sum())} != {npoints}")

    # contiguous variable-width stream: per-group bit offsets, then one
    # vectorized gather per distinct width
    starts = np.zeros(ng, dtype=np.int64)
    np.cumsum((lens * widths)[:-1], out=starts[1:])
    x = np.repeat(refs, lens)
    vals = np.zeros(npoints, dtype=np.int64)
    raws = np.zeros(npoints, dtype=np.int64)
    doc_start = np.zeros(ng, dtype=np.int64)
    np.cumsum(lens[:-1], out=doc_start[1:])
    point_width = np.repeat(widths, lens)
    for w in np.unique(widths):
        if w == 0:
            continue
        sel = np.flatnonzero(widths == w)
        nv = lens[sel]
        within = (np.arange(int(nv.sum()), dtype=np.int64)
                  - np.repeat(np.concatenate(([0], np.cumsum(nv[:-1]))), nv))
        bitpos = off + np.repeat(starts[sel], nv) + within * w
        idx = bitpos[:, None] + np.arange(w, dtype=np.int64)[None, :]
        weights = (1 << np.arange(w - 1, -1, -1)).astype(np.int64)
        out_idx = np.repeat(doc_start[sel], nv) + within
        vals[out_idx] = bits[idx].astype(np.int64) @ weights
        raws[out_idx] = vals[out_idx]
    x = x + vals

    miss = None
    if mgmt and npoints > 0:
        miss = np.zeros(npoints, dtype=np.int8)
        # width>0 groups: raw all-ones = primary, all-ones−1 = secondary
        wpos = point_width > 0
        all1 = (1 << point_width[wpos]) - 1
        sub = np.zeros(int(wpos.sum()), dtype=np.int8)
        sub[raws[wpos] == all1] = 1
        if mgmt == 2:
            sub[raws[wpos] == all1 - 1] = 2
        miss[wpos] = sub
        # width-0 groups: reference all-ones at the ref width = missing
        if nbits > 0:
            ref1 = (1 << nbits) - 1
            grp_missing = (widths == 0) & (refs == ref1)
            grp_sec = np.zeros(ng, dtype=bool)
            if mgmt == 2:
                grp_sec = (widths == 0) & (refs == ref1 - 1)
            miss = np.where(np.repeat(grp_missing, lens), 1, miss)
            miss = np.where(np.repeat(grp_sec, lens), 2, miss)
        miss = miss.astype(np.int8)
        if not miss.any():
            miss = None

    if tmpl == 3 and npoints > 0:
        gmin = extra[-1]
        if miss is None:
            x[order:] += gmin
            k = min(order, npoints)
            x[:k] = extra[:k]
            if order == 1:
                np.cumsum(x, out=x)
            elif npoints > 2:
                # second difference = two nested prefix sums: rebuild
                # first differences e[i]=f[i]-f[i-1], then values
                e = np.cumsum(np.concatenate(([x[1] - x[0]], x[2:])))
                x = np.concatenate(([x[0]], x[0] + np.cumsum(e)))
        else:
            # undifference the NON-missing sequence only (g2clib)
            nm = np.flatnonzero(miss == 0)
            seq = x[nm].copy()
            n = seq.size
            if n:
                seq[order:] += gmin
                k = min(order, n)
                seq[:k] = extra[:k]
                if order == 1:
                    np.cumsum(seq, out=seq)
                elif n > 2:
                    e = np.cumsum(np.concatenate(([seq[1] - seq[0]],
                                                  seq[2:])))
                    seq = np.concatenate(([seq[0]],
                                          seq[0] + np.cumsum(e)))
                x[nm] = seq
    return x, miss


def _earth_radius(s3: bytes) -> float:
    """Sphere radius (m) from the section-3 earth-shape octets 15-30.
    Projected NWP grids are defined on a sphere: code 6 = 6 371 229 m
    (the NCEP default), code 0 = 6 367 470 m, code 1 = explicit scaled
    radius. Ellipsoidal shapes (2-5, 7-9) are gated — the projection
    closed forms here are the spherical ones eccodes also applies to
    these grids."""
    shape = s3[14]
    if shape == 6:
        return 6371229.0
    if shape == 0:
        return 6367470.0
    if shape == 1:
        scale, val = s3[15], _u(s3, 16, 4)
        if val == 0 or val == 0xFFFFFFFF:
            raise ValueError("earth shape 1 with no scaled radius")
        return val * 10.0 ** (-scale)
    raise NotImplementedError(f"ellipsoidal earth shape {shape} for a "
                              "projected grid")


def _parse_grid(s3: bytes) -> dict:
    """Section 3 → grid dict. Templates: 3.0 (lat/lon), 3.1 (rotated
    lat/lon), 3.20 (polar stereographic), 3.30 (Lambert conformal).
    For projected grids (20/30) `di`/`dj` are Dx/Dy in METERS and
    la2/lo2 are the inverse-projected far corner; `proj` carries the
    closed-form parameters for per-pixel lat/lon reconstruction
    (reference reads all of these via eccodes, formats/grib.py:61-144)."""
    tmpl = _u(s3, 12, 2)
    if tmpl in (0, 1):
        ni, nj = _u(s3, 30, 4), _u(s3, 34, 4)
        la1, lo1 = _s(s3, 46, 4) / 1e6, _s(s3, 50, 4) / 1e6
        la2, lo2 = _s(s3, 55, 4) / 1e6, _s(s3, 59, 4) / 1e6
        di, dj = _u(s3, 63, 4) / 1e6, _u(s3, 67, 4) / 1e6
        scan = s3[71]
        proj = None
        if tmpl == 1:
            sp_lat, sp_lon = _s(s3, 72, 4) / 1e6, _s(s3, 76, 4) / 1e6
            angle = struct.unpack(">f", s3[80:84])[0]
            proj = {"kind": "rotated", "sp_lat": sp_lat, "sp_lon": sp_lon,
                    "angle": float(angle)}
        return {"template": tmpl, "ni": ni, "nj": nj, "la1": la1,
                "lo1": lo1, "la2": la2, "lo2": lo2, "di": di, "dj": dj,
                "scan": scan, "proj": proj}
    if tmpl == 40:
        # regular Gaussian grid (ECMWF): layout mirrors 3.0 but octets
        # 68-71 carry N (parallels pole→equator); latitudes are the
        # roots of P_2N(sin φ).
        if s3[10] != 0:
            # REDUCED Gaussian grid (ERA5 / IFS native): the octet-11
            # list gives Ni per parallel; each row spans the full
            # longitude circle at its own spacing 360/Ni. Decodes to a
            # NaN-padded (nj, max Ni) rectangle whose pad cells carry no
            # geographic coordinate and are dropped at row emission —
            # the long grid table holds exactly sum(Ni) real pixels.
            esz = s3[10]
            nj = _u(s3, 34, 4)
            la1, lo1 = _s(s3, 46, 4) / 1e6, _s(s3, 50, 4) / 1e6
            la2, lo2 = _s(s3, 55, 4) / 1e6, _s(s3, 59, 4) / 1e6
            ngauss = _u(s3, 67, 4)
            scan = s3[71]
            if len(s3) < 72 + nj * esz:
                raise ValueError("reduced Gaussian point-count list "
                                 "truncated")
            row_ni = [_u(s3, 72 + k * esz, esz) for k in range(nj)]
            ni = max(row_ni)
            proj = {"kind": "gaussian_reduced", "n": ngauss,
                    "row_ni": row_ni}
            return {"template": tmpl, "ni": ni, "nj": nj, "la1": la1,
                    "lo1": lo1, "la2": la2, "lo2": lo2,
                    "di": 360.0 / ni, "dj": 90.0 / max(ngauss, 1),
                    "scan": scan, "proj": proj,
                    "npoints": int(sum(row_ni))}
        ni, nj = _u(s3, 30, 4), _u(s3, 34, 4)
        la1, lo1 = _s(s3, 46, 4) / 1e6, _s(s3, 50, 4) / 1e6
        la2, lo2 = _s(s3, 55, 4) / 1e6, _s(s3, 59, 4) / 1e6
        di = _u(s3, 63, 4) / 1e6
        ngauss = _u(s3, 67, 4)
        scan = s3[71]
        proj = {"kind": "gaussian", "n": ngauss}
        return {"template": tmpl, "ni": ni, "nj": nj, "la1": la1,
                "lo1": lo1, "la2": la2, "lo2": lo2, "di": di,
                "dj": 90.0 / max(ngauss, 1), "scan": scan, "proj": proj}
    if tmpl == 10:
        # Mercator: Di/Dj in meters at the true-scale latitude LaD
        from georiva_spark.functions.geo import (
            mercator_sphere_inverse_np, mercator_sphere_np,
        )
        radius = _earth_radius(s3)
        ni, nj = _u(s3, 30, 4), _u(s3, 34, 4)
        la1, lo1 = _s(s3, 38, 4) / 1e6, _s(s3, 42, 4) / 1e6
        lad = _s(s3, 47, 4) / 1e6
        la2, lo2 = _s(s3, 51, 4) / 1e6, _s(s3, 55, 4) / 1e6
        scan = s3[59]
        di, dj = _u(s3, 64, 4) / 1e3, _u(s3, 68, 4) / 1e3
        x1, y1 = mercator_sphere_np(la1, lo1, lad, 0.0, radius)
        proj = {"kind": "mercator", "lat_ts": lad, "radius": radius,
                "x1": float(x1), "y1": float(y1)}
        sx = -1.0 if scan & 0x80 else 1.0
        sy = 1.0 if scan & 0x40 else -1.0
        la2c, lo2c = mercator_sphere_inverse_np(
            float(x1) + sx * di * (ni - 1), float(y1) + sy * dj * (nj - 1),
            lad, 0.0, radius)
        return {"template": tmpl, "ni": ni, "nj": nj, "la1": la1,
                "lo1": lo1, "la2": float(la2c), "lo2": float(lo2c),
                "di": di, "dj": dj, "scan": scan, "proj": proj}
    if tmpl in (20, 30):
        from georiva_spark.functions.geo import (
            lcc_sphere_inverse_np, lcc_sphere_np,
            polar_stereo_sphere_inverse_np, polar_stereo_sphere_np,
        )
        radius = _earth_radius(s3)
        nx, ny = _u(s3, 30, 4), _u(s3, 34, 4)
        la1, lo1 = _s(s3, 38, 4) / 1e6, _s(s3, 42, 4) / 1e6
        lad, lov = _s(s3, 47, 4) / 1e6, _s(s3, 51, 4) / 1e6
        dx, dy = _u(s3, 55, 4) / 1e3, _u(s3, 59, 4) / 1e3
        centre, scan = s3[63], s3[64]
        south = bool(centre & 0x80)
        if tmpl == 20:
            proj = {"kind": "ps", "lat_ts": lad, "lon0": lov,
                    "south": south, "radius": radius}
            fwd = lambda la, lo: polar_stereo_sphere_np(  # noqa: E731
                la, lo, lad, lov, south=south, radius=radius)
            inv = lambda x, y: polar_stereo_sphere_inverse_np(  # noqa: E731
                x, y, lad, lov, south=south, radius=radius)
        else:
            latin1 = _s(s3, 65, 4) / 1e6
            latin2 = _s(s3, 69, 4) / 1e6
            proj = {"kind": "lcc", "lat1": latin1, "lat2": latin2,
                    "lat0": lad, "lon0": lov, "radius": radius}
            fwd = lambda la, lo: lcc_sphere_np(  # noqa: E731
                la, lo, latin1, latin2, lad, lov, radius=radius)
            inv = lambda x, y: lcc_sphere_inverse_np(  # noqa: E731
                x, y, latin1, latin2, lad, lov, radius=radius)
        x1, y1 = fwd(la1, lo1)
        sx = -1.0 if scan & 0x80 else 1.0
        sy = 1.0 if scan & 0x40 else -1.0
        la2, lo2 = inv(float(x1) + sx * dx * (nx - 1),
                       float(y1) + sy * dy * (ny - 1))
        proj.update({"x1": float(x1), "y1": float(y1)})
        return {"template": tmpl, "ni": nx, "nj": ny, "la1": la1,
                "lo1": lo1, "la2": float(la2), "lo2": float(lo2),
                "di": dx, "dj": dy, "scan": scan, "proj": proj}
    raise NotImplementedError(f"grid template {tmpl}")


def gaussian_latitudes(n: int) -> np.ndarray:
    """The 2N Gaussian latitudes (degrees, descending north→south):
    arcsin of the roots of the Legendre polynomial P_2N — the ECMWF
    regular Gaussian grid parallels (N = parallels pole→equator)."""
    nodes, _ = np.polynomial.legendre.leggauss(2 * n)
    return np.degrees(np.arcsin(np.sort(nodes)[::-1]))


def grid_latlon_mesh(msg: dict) -> tuple[np.ndarray, np.ndarray] | None:
    """(lat, lon) 2-D meshes in MESSAGE STORAGE ORDER (row j, col i) for
    a projected-grid message, or None for plain lat/lon grids (affine
    transform suffices). Coordinates are rounded to micro-degrees —
    GRIB2's own coordinate precision — which also makes them exactly
    reproducible by an external SQL oracle applying the same closed
    form."""
    proj = msg.get("proj")
    if proj is None:
        return None
    ni, nj = msg["values"].shape[1], msg["values"].shape[0]
    scan = msg["scan"]
    if proj["kind"] in ("gaussian", "gaussian_reduced"):
        lats = gaussian_latitudes(proj["n"])        # descending N→S
        # locate the la1 row and walk nj rows in the scan direction
        j0 = int(np.argmin(np.abs(lats - msg["la1"])))
        stepj = 1 if not (scan & 0x40) else -1      # -j: index grows S
        idx = j0 + stepj * np.arange(nj)
        if idx.min() < 0 or idx.max() >= lats.size:
            raise ValueError("Gaussian grid rows outside the latitude "
                             "table; la1/N mismatch")
        rowlats = lats[idx]
        if abs(rowlats[-1] - msg["la2"]) > 1e-3:
            raise ValueError("Gaussian grid la2 does not match the "
                             "latitude table")
        if proj["kind"] == "gaussian_reduced":
            # each parallel spans the full circle at its own spacing
            # 360/Ni; pad cells past Ni stay NaN → dropped at emission
            lat = np.full((nj, ni), np.nan)
            lon = np.full((nj, ni), np.nan)
            for j, n_j in enumerate(proj["row_ni"]):
                lat[j, :n_j] = rowlats[j]
                lon[j, :n_j] = (msg["lo1"]
                                + np.arange(n_j, dtype=np.float64)
                                * (360.0 / n_j))
        else:
            si = -msg["di"] if scan & 0x80 else msg["di"]
            lons = msg["lo1"] + si * np.arange(ni, dtype=np.float64)
            lon_g, lat_g = np.meshgrid(lons, rowlats)
            lat, lon = lat_g, lon_g
    elif proj["kind"] == "rotated":
        dj, di = msg["dj"], msg["di"]
        latr1, lonr1 = msg["la1"], msg["lo1"]
        sj = dj if scan & 0x40 else -dj
        si = -di if scan & 0x80 else di
        latr = latr1 + sj * np.arange(nj, dtype=np.float64)
        lonr = lonr1 + si * np.arange(ni, dtype=np.float64)
        lonr_g, latr_g = np.meshgrid(lonr, latr)
        from georiva_spark.functions.geo import rotated_pole_to_lonlat_np
        lat, lon = rotated_pole_to_lonlat_np(
            latr_g, lonr_g, proj["sp_lat"], proj["sp_lon"], proj["angle"])
    else:
        dx, dy = msg["di"], msg["dj"]
        sx = -1.0 if scan & 0x80 else 1.0
        sy = 1.0 if scan & 0x40 else -1.0
        xs = proj["x1"] + sx * dx * np.arange(ni, dtype=np.float64)
        ys = proj["y1"] + sy * dy * np.arange(nj, dtype=np.float64)
        xg, yg = np.meshgrid(xs, ys)
        if proj["kind"] == "mercator":
            from georiva_spark.functions.geo import (
                mercator_sphere_inverse_np,
            )
            lat, lon = mercator_sphere_inverse_np(
                xg, yg, proj["lat_ts"], 0.0, proj["radius"])
        elif proj["kind"] == "ps":
            from georiva_spark.functions.geo import (
                polar_stereo_sphere_inverse_np,
            )
            lat, lon = polar_stereo_sphere_inverse_np(
                xg, yg, proj["lat_ts"], proj["lon0"],
                south=proj["south"], radius=proj["radius"])
        else:
            from georiva_spark.functions.geo import lcc_sphere_inverse_np
            lat, lon = lcc_sphere_inverse_np(
                xg, yg, proj["lat1"], proj["lat2"], proj["lat0"],
                proj["lon0"], radius=proj["radius"])
    lon = ((lon + 180.0) % 360.0) - 180.0
    lat = np.floor(lat * 1e6 + 0.5) / 1e6
    lon = np.floor(lon * 1e6 + 0.5) / 1e6
    return lat, lon


def decode_grib2(content: bytes) -> list[dict]:
    """Parse every message → [{"shortName", "discipline", "category",
    "number", "ref_time", "valid_time", "values" (H,W float64, NaN for
    bitmap-missing), "la1","lo1","la2","lo2","di","dj","scan",
    "south_up"}]. Values are unscaled to physical units."""
    msgs = []
    pos = 0
    while pos < len(content):
        if content[pos:pos + 4] != b"GRIB":
            if not content[pos:].strip(b"\0"):
                break
            raise ValueError(f"bad GRIB indicator at {pos}")
        discipline = content[pos + 6]
        edition = content[pos + 7]
        if edition != 2:
            raise NotImplementedError(f"GRIB edition {edition}")
        total = _u(content, pos + 8, 8)
        msgs.append(_decode_message(content[pos:pos + total], discipline))
        pos += total
    return msgs


def _decode_message(m: bytes, discipline: int) -> dict:
    pos = 16
    sections: dict[int, bytes] = {}
    while pos < len(m):
        if m[pos:pos + 4] == b"7777":
            break
        ln = _u(m, pos, 4)
        sections[m[pos + 4]] = m[pos:pos + ln]
        pos += ln

    s1 = sections[1]
    ref_time = dt.datetime(_u(s1, 12, 2), s1[14], s1[15], s1[16], s1[17],
                           s1[18])

    s3 = sections[3]
    grid = _parse_grid(s3)
    ni, nj = grid["ni"], grid["nj"]
    la1, lo1 = grid["la1"], grid["lo1"]
    la2, lo2 = grid["la2"], grid["lo2"]
    di, dj = grid["di"], grid["dj"]
    scan = grid["scan"]

    s4 = sections[4]
    ptmpl = _u(s4, 7, 2)
    if ptmpl not in (0, 1, 2, 5, 8, 9, 11, 12):
        raise NotImplementedError(f"product template {ptmpl}")
    category, number = s4[9], s4[10]
    unit = s4[17]
    fstep = _u(s4, 18, 4)
    step = {0: dt.timedelta(minutes=fstep), 1: dt.timedelta(hours=fstep),
            2: dt.timedelta(days=fstep), 13: dt.timedelta(seconds=fstep)
            }.get(unit, dt.timedelta(hours=fstep))
    stat_process = None
    interval_end = None
    ens_type = ens_member = ens_size = None
    derived_code = None
    off8 = 34
    if ptmpl in (1, 11):
        # ensemble templates insert (type, perturbation number, ensemble
        # size) at octets 35-37; everything after shifts by 3
        ens_type, ens_member, ens_size = s4[34], s4[35], s4[36]
        off8 = 37
    if ptmpl in (2, 12):
        # derived-forecast templates (4.2/4.12 — GEFS ensemble
        # mean/spread products): octet 35 = derivation code (code table
        # 4.7: 0 unweighted mean, 4 spread, ...), octet 36 = ensemble
        # size; everything after shifts by 2
        derived_code, ens_size = s4[34], s4[35]
        off8 = 36
    prob_num = prob_type = prob_lower = prob_upper = None
    if ptmpl in (5, 9):
        # probability-forecast templates (4.5 point-in-time / 4.9 over
        # an interval — NCEP PQPF/ECMWF EPS probability products):
        # octets 35-36 probability number/total, 37 probability type
        # (code table 4.9: 0 below-lower, 1 above-upper, 2 between,
        # 3 above-lower, 4 below-upper), then (scale, scaled value)
        # sign-magnitude pairs for the lower and upper limits
        prob_num, prob_type = s4[34], s4[36]
        prob_lower = _s(s4, 38, 4) * 10.0 ** (-_s(s4, 37, 1))
        prob_upper = _s(s4, 43, 4) * 10.0 ** (-_s(s4, 42, 1))
        off8 = 47
    if ptmpl in (8, 9, 11, 12):
        # statistically processed over an interval — accumulations and
        # means (precip totals): valid time is the END of the interval
        interval_end = dt.datetime(_u(s4, off8, 2), s4[off8 + 2],
                                   s4[off8 + 3], s4[off8 + 4],
                                   s4[off8 + 5], s4[off8 + 6])
        if s4[off8 + 7] >= 1:              # first time-range's process
            stat_process = s4[off8 + 12]

    s5 = sections[5]
    npoints = _u(s5, 5, 4)
    tmpl = _u(s5, 9, 2)
    if tmpl not in (0, 2, 3, 40, 41, 42):
        raise NotImplementedError(
            f"data representation template 5.{tmpl} unsupported; simple "
            "(5.0), complex (5.2/5.3), JPEG2000 (5.40), PNG (5.41) and "
            "CCSDS/AEC (5.42) packing decode natively")
    ref_val = struct.unpack(">f", s5[11:15])[0]
    e_scale = _s(s5, 15, 2)
    d_scale = _s(s5, 17, 2)
    nbits = s5[19]

    npts_total = grid.get("npoints", ni * nj)
    s6 = sections[6]
    bitmap = None
    if s6[5] == 0:
        bitmap = np.unpackbits(np.frombuffer(s6[6:], np.uint8),
                               count=npts_total).astype(bool)
    elif s6[5] != 255:
        raise NotImplementedError(f"bitmap indicator {s6[5]}")

    s7 = sections[7]
    miss = None
    if tmpl == 0:
        x = _unpack_bits(s7[5:], nbits, npoints)
    elif tmpl == 40:
        from georiva_spark.sources.j2k_codec import j2k_decode
        if nbits == 0:
            x = np.zeros(npoints, dtype=np.int64)
        else:
            img = j2k_decode(s7[5:])
            if img.size != npoints:
                raise ValueError(
                    f"JPEG2000 image {img.shape} != {npoints} points")
            x = img.ravel().astype(np.int64)
    elif tmpl == 41:
        from georiva_spark.sources.png_codec import png_decode
        if nbits == 0:
            x = np.zeros(npoints, dtype=np.int64)
        else:
            x, pw, ph = png_decode(s7[5:])
            if pw * ph != npoints:
                raise ValueError(
                    f"PNG image {pw}x{ph} != {npoints} packed points")
    elif tmpl == 42:
        # template 5.42: octet 22 CCSDS flags, 23 block size, 24-25 RSI
        from georiva_spark.sources.aec_codec import aec_decode
        aflags = s5[21]
        ablock = s5[22]
        arsi = _u(s5, 23, 2)
        if aflags & 0x01:
            raise NotImplementedError("AEC_DATA_SIGNED samples")
        if aflags & 0x02:
            raise NotImplementedError("AEC_DATA_3BYTE mode")
        if aflags & 0x10:
            raise NotImplementedError("AEC_RESTRICTED coding")
        if aflags & 0x20:
            raise NotImplementedError("AEC_PAD_RSI alignment")
        if not aflags & 0x04:
            raise NotImplementedError("AEC LSB-first bit order")
        if nbits == 0:
            x = np.zeros(npoints, dtype=np.int64)
        else:
            x = aec_decode(s7[5:], npoints, nbits, block_size=ablock,
                           rsi=arsi, preprocess=bool(aflags & 0x08))
    else:
        x, miss = _unpack_complex(s5, s7, npoints)
    packed = (ref_val + x.astype(np.float64) * 2.0 ** e_scale) \
        * 10.0 ** (-d_scale)
    if miss is not None:
        packed = np.where(miss > 0, np.nan, packed)
    if bitmap is None:
        flat = packed
    else:
        flat = np.full(npts_total, np.nan)
        flat[bitmap] = packed
    row_ni = (grid["proj"] or {}).get("row_ni") if grid["proj"] else None
    if row_ni is not None:
        # ragged reduced grid → NaN-padded rectangle; pad cells get no
        # lat/lon from grid_latlon_mesh and vanish at emission
        values = np.full((nj, ni), np.nan)
        off = 0
        for j, n_j in enumerate(row_ni):
            values[j, :n_j] = flat[off:off + n_j]
            off += n_j
    else:
        values = flat.reshape(nj, ni)
    key = (discipline, category, number)
    return {
        "shortName": PARAM_SHORTNAMES.get(
            key, f"d{discipline}c{category}n{number}"),
        "discipline": discipline, "category": category, "number": number,
        "ref_time": ref_time,
        "valid_time": (interval_end if interval_end is not None
                       else ref_time + step),
        "stat_process": stat_process,
        "ens_type": ens_type, "ens_member": ens_member,
        "ens_size": ens_size, "derived_code": derived_code,
        "prob_num": prob_num, "prob_type": prob_type,
        "prob_lower": prob_lower, "prob_upper": prob_upper,
        "values": values, "la1": la1, "lo1": lo1, "la2": la2, "lo2": lo2,
        "di": di, "dj": dj, "scan": scan,
        "grid_template": grid["template"], "proj": grid["proj"],
        # +j scanning flag (0x40): rows already run south→north
        # (for projected grids: projected y increases with row index)
        "south_up": bool(scan & 0x40),
    }


# ---------------------------------------------------------------------------
# Writer — simple packing, floor quantization
# ---------------------------------------------------------------------------

def _sm(v: int, n: int) -> bytes:
    """Sign-magnitude big-endian."""
    return ((abs(v) | (1 << (8 * n - 1))) if v < 0 else v).to_bytes(n, "big")


def _sec(num: int, body: bytes) -> bytes:
    return (len(body) + 5).to_bytes(4, "big") + bytes([num]) + body


def encode_grib2_message(values: np.ndarray, *, shortname: str,
                         ref_time: dt.datetime, forecast_hours: int = 0,
                         la1: float, lo1: float, di: float, dj: float,
                         e_scale: int = -24, south_up: bool = False,
                         packing: int = 0, spatial_order: int = 2,
                         group_size: int = 20,
                         missing_management: bool = False,
                         accum_hours: int | None = None,
                         grid_def: dict | None = None,
                         ens_member: int | None = None,
                         ens_type: int = 3,
                         ens_size: int = 0,
                         derived_code: int | None = None,
                         probability: dict | None = None) -> bytes:
    """One GRIB2 message: lat/lon grid (3.0), product 4.0, packing 5.0
    (simple, default), 5.2 (complex, fixed `group_size` groups), 5.3
    (complex + spatial differencing of `spatial_order`) or 5.41 (PNG);
    always X = floor((v-R)·2^-E), D=0. NaNs become bitmap missing
    points — or, with ``missing_management`` (complex packing only),
    in-field primary missing values per octet 23 = 1 (the NCEP
    convention: all-ones raw value at the group width / all-ones
    width-0 group reference). (la1, lo1) is the FIRST grid point
    (row 0); row order is north→south unless south_up sets the +j
    scanning flag.

    ``grid_def`` selects a non-lat/lon grid template:
    {"kind": "rotated", "sp_lat", "sp_lon", "angle"} (template 3.1 —
    la1/lo1/di/dj are then ROTATED-frame degrees), {"kind": "ps",
    "lat_ts", "lon0", "south", "dx", "dy"} (3.20) or {"kind": "lcc",
    "lat1", "lat2", "lad", "lon0", "dx", "dy"} (3.30) — for the
    projected pair la1/lo1 stay the true coordinates of the first grid
    point and dx/dy are meters; earth shape is written as code 6
    (sphere 6 371 229 m)."""
    a = np.asarray(values, dtype=np.float64)
    nj, ni = a.shape
    red_ni = (grid_def or {}).get("row_ni") \
        if (grid_def or {}).get("kind") == "gaussian_reduced" else None
    if red_ni is not None:
        # ragged reduced-Gaussian input: a is the NaN-padded rectangle;
        # the wire stream holds exactly the first Ni_j cells of row j
        flat = np.concatenate([a[j, :red_ni[j]] for j in range(nj)])
    else:
        flat = a.ravel()
    mask = np.isfinite(flat)
    data = flat[mask]
    disc, cat, num = _SHORTNAME_PARAMS.get(shortname, (255, 255, 255))

    r = np.float32(data.min()) if data.size else np.float32(0.0)
    # float32 rounding of the reference value may land ABOVE the true
    # minimum, which would make X negative — nudge down one ulp. (Inputs
    # that are exactly float32 — the oracle-checked path — never nudge.)
    if data.size and float(r) > data.min():
        r = np.nextafter(r, np.float32(-np.inf), dtype=np.float32)
    x = np.floor((data - float(r)) * 2.0 ** (-e_scale)).astype(np.int64)
    nbits = max(1, int(x.max()).bit_length()) if x.size else 0

    # octets 6-12: centre(2) subcentre(2) master(1) local(1) sig(1)
    s1 = (bytes([0, 0, 0, 0, 1, 0, 1]) + ref_time.year.to_bytes(2, "big")
          + bytes([ref_time.month, ref_time.day, ref_time.hour,
                   ref_time.minute, ref_time.second, 0, 1]))
    scan = 0x40 if south_up else 0x00
    # octets 15-30: earth shape(1) + 3×(scale(1)+scaled radius(4))
    earth = (bytes([6, 0]) + (0).to_bytes(4, "big")
             + bytes([0]) + (0).to_bytes(4, "big")
             + bytes([0]) + (0).to_bytes(4, "big"))
    kind = (grid_def or {}).get("kind", "latlon")
    if kind in ("latlon", "rotated"):
        la2 = la1 + (nj - 1) * (dj if south_up else -dj)
        lo2 = lo1 + (ni - 1) * di
        tnum = 1 if kind == "rotated" else 0
        s3 = (bytes([0]) + (ni * nj).to_bytes(4, "big") + bytes([0, 0])
              + tnum.to_bytes(2, "big") + earth
              + ni.to_bytes(4, "big") + nj.to_bytes(4, "big")
              + (0).to_bytes(4, "big") + (0xFFFFFFFF).to_bytes(4, "big")
              + _sm(round(la1 * 1e6), 4) + _sm(round(lo1 * 1e6), 4)
              + bytes([0x30])
              + _sm(round(la2 * 1e6), 4) + _sm(round(lo2 * 1e6), 4)
              + round(di * 1e6).to_bytes(4, "big")
              + round(dj * 1e6).to_bytes(4, "big") + bytes([scan]))
        if kind == "rotated":
            s3 += (_sm(round(grid_def["sp_lat"] * 1e6), 4)
                   + _sm(round(grid_def["sp_lon"] * 1e6), 4)
                   + struct.pack(">f", float(grid_def.get("angle", 0.0))))
    elif kind == "mercator":
        from georiva_spark.functions.geo import (
            mercator_sphere_inverse_np, mercator_sphere_np,
        )
        lat_ts = grid_def["lat_ts"]
        dx, dy = grid_def["dx"], grid_def["dy"]
        x1m, y1m = mercator_sphere_np(la1, lo1, lat_ts)
        sy = 1.0 if south_up else -1.0
        la2m, lo2m = mercator_sphere_inverse_np(
            float(x1m) + dx * (ni - 1), float(y1m) + sy * dy * (nj - 1),
            lat_ts)
        s3 = (bytes([0]) + (ni * nj).to_bytes(4, "big") + bytes([0, 0])
              + (10).to_bytes(2, "big") + earth
              + ni.to_bytes(4, "big") + nj.to_bytes(4, "big")
              + _sm(round(la1 * 1e6), 4) + _sm(round(lo1 * 1e6), 4)
              + bytes([0x08])
              + _sm(round(lat_ts * 1e6), 4)
              + _sm(round(float(la2m) * 1e6), 4)
              + _sm(round(float(lo2m) * 1e6), 4)
              + bytes([scan])
              + (0).to_bytes(4, "big")            # orientation
              + round(dx * 1e3).to_bytes(4, "big")
              + round(dy * 1e3).to_bytes(4, "big"))
    elif kind in ("gaussian", "gaussian_reduced"):
        ngauss = grid_def["n"]
        if nj != 2 * ngauss:
            raise ValueError(f"full-globe Gaussian grid needs nj == 2N "
                             f"({nj} != {2 * ngauss})")
        lats = gaussian_latitudes(ngauss)
        la1g = lats[-1] if south_up else lats[0]
        la2g = lats[0] if south_up else lats[-1]
        if kind == "gaussian_reduced":
            # ni / di are coded MISSING; the per-parallel point counts
            # ride the octet-11 list (2-octet entries, interpretation 1)
            npts = int(sum(red_ni))
            lo2 = lo1 + 360.0 - 360.0 / max(red_ni)
            s3 = (bytes([0]) + npts.to_bytes(4, "big") + bytes([2, 1])
                  + (40).to_bytes(2, "big") + earth
                  + (0xFFFFFFFF).to_bytes(4, "big")
                  + nj.to_bytes(4, "big")
                  + (0).to_bytes(4, "big")
                  + (0xFFFFFFFF).to_bytes(4, "big")
                  + _sm(round(la1g * 1e6), 4) + _sm(round(lo1 * 1e6), 4)
                  + bytes([0x30])
                  + _sm(round(la2g * 1e6), 4) + _sm(round(lo2 * 1e6), 4)
                  + (0xFFFFFFFF).to_bytes(4, "big")
                  + ngauss.to_bytes(4, "big") + bytes([scan])
                  + b"".join(n.to_bytes(2, "big") for n in red_ni))
        else:
            lo2 = lo1 + (ni - 1) * di
            s3 = (bytes([0]) + (ni * nj).to_bytes(4, "big")
                  + bytes([0, 0])
                  + (40).to_bytes(2, "big") + earth
                  + ni.to_bytes(4, "big") + nj.to_bytes(4, "big")
                  + (0).to_bytes(4, "big")
                  + (0xFFFFFFFF).to_bytes(4, "big")
                  + _sm(round(la1g * 1e6), 4) + _sm(round(lo1 * 1e6), 4)
                  + bytes([0x30])
                  + _sm(round(la2g * 1e6), 4) + _sm(round(lo2 * 1e6), 4)
                  + round(di * 1e6).to_bytes(4, "big")
                  + ngauss.to_bytes(4, "big") + bytes([scan]))
    elif kind in ("ps", "lcc"):
        tnum = 20 if kind == "ps" else 30
        lad = (grid_def["lat_ts"] if kind == "ps" else grid_def["lad"])
        centre = 0x80 if (kind == "ps" and grid_def.get("south")) else 0x00
        s3 = (bytes([0]) + (ni * nj).to_bytes(4, "big") + bytes([0, 0])
              + tnum.to_bytes(2, "big") + earth
              + ni.to_bytes(4, "big") + nj.to_bytes(4, "big")
              + _sm(round(la1 * 1e6), 4) + _sm(round(lo1 * 1e6), 4)
              + bytes([0x08])
              + _sm(round(lad * 1e6), 4)
              + _sm(round(grid_def["lon0"] * 1e6), 4)
              + round(grid_def["dx"] * 1e3).to_bytes(4, "big")
              + round(grid_def["dy"] * 1e3).to_bytes(4, "big")
              + bytes([centre, scan]))
        if kind == "lcc":
            s3 += (_sm(round(grid_def["lat1"] * 1e6), 4)
                   + _sm(round(grid_def["lat2"] * 1e6), 4)
                   + _sm(round(-90 * 1e6), 4) + _sm(0, 4))
    else:
        raise NotImplementedError(f"grid_def kind {kind!r}")
    if sum(x is not None for x in (ens_member, derived_code,
                                   probability)) > 1:
        raise ValueError("a message is either a perturbed member (4.1/"
                         "4.11), a derived product (4.2/4.12), or a "
                         "probability forecast (4.5/4.9)")
    ens = (bytes([ens_type, ens_member, ens_size])
           if ens_member is not None else b"")
    if derived_code is not None:
        # 4.2/4.12: (derivation code, ensemble size) after octet 34
        ens = bytes([derived_code, ens_size])
    if probability is not None:
        # 4.5/4.9 probability block after octet 34: number/total/type
        # then (scale, sign-magnitude scaled value) lower/upper limit
        # pairs; limits carried at scale 3 (milli-units)
        ens = (bytes([probability.get("num", 0),
                      probability.get("total", 1),
                      probability["type"], 3])
               + _sm(round(probability.get("lower", 0.0) * 1000), 4)
               + bytes([3])
               + _sm(round(probability.get("upper", 0.0) * 1000), 4))
    if accum_hours is None:
        tnum = ((2 if derived_code is not None else 1) if ens else 0)
        if probability is not None:
            tnum = 5
        s4 = ((0).to_bytes(2, "big") + tnum.to_bytes(2, "big")
              + bytes([cat, num, 0, 0, 0]) + (0).to_bytes(2, "big")
              + bytes([0, 1])                                  # unit: hours
              + forecast_hours.to_bytes(4, "big")
              # octets 23-28 / 29-34: two (type, scale, value) surfaces
              + bytes([1, 0]) + (0).to_bytes(4, "big")
              + bytes([255, 0]) + (0).to_bytes(4, "big")
              + ens)
    else:
        # template 4.8 (or 4.11 with ensemble octets) — statistical
        # processing (accumulation) over [ref+forecast,
        # ref+forecast+accum]; layout is 4.0 through octet 34, then the
        # ensemble triple (4.11 only), then end-of-interval + one range
        end = ref_time + dt.timedelta(hours=forecast_hours + accum_hours)
        tnum = (12 if derived_code is not None else 11) if ens else 8
        if probability is not None:
            tnum = 9
        s4 = ((0).to_bytes(2, "big") + tnum.to_bytes(2, "big")
              + bytes([cat, num, 0, 0, 0]) + (0).to_bytes(2, "big")
              + bytes([0, 1])
              + forecast_hours.to_bytes(4, "big")
              + bytes([1, 0]) + (0).to_bytes(4, "big")
              + bytes([255, 0]) + (0).to_bytes(4, "big")       # → octet 34
              + ens
              + end.year.to_bytes(2, "big")
              + bytes([end.month, end.day, end.hour, end.minute,
                       end.second])
              + bytes([1]) + (0).to_bytes(4, "big")  # 1 range, 0 missing
              + bytes([1, 2, 1])          # accumulation, incr type, hours
              + accum_hours.to_bytes(4, "big")
              + bytes([255]) + (0).to_bytes(4, "big"))
    if missing_management:
        if packing not in (2, 3):
            raise ValueError("missing management needs complex packing")
        s5, s7 = _encode_complex_missing(
            flat, packing, spatial_order, group_size, float(r),
            e_scale)
        body = (_sec(1, s1) + _sec(3, s3) + _sec(4, s4) + _sec(5, s5)
                + _sec(6, bytes([255])) + _sec(7, s7))
        total = 16 + len(body) + 4
        head = (b"GRIB" + bytes([0, 0, disc if disc != 255 else 0, 2])
                + total.to_bytes(8, "big"))
        return head + body + b"7777"
    npk = flat.size if mask.all() else int(mask.sum())
    if packing == 0:
        s5 = (npk.to_bytes(4, "big")
              + (0).to_bytes(2, "big")                       # template 5.0
              + struct.pack(">f", float(r)) + _sm(e_scale, 2)
              + _sm(0, 2) + bytes([nbits, 0]))
        s7 = _pack_bits(x, nbits) if nbits else b""
    elif packing in (2, 3):
        s5, s7 = _encode_complex(x, packing, spatial_order, group_size,
                                 npk, float(r), e_scale)
    elif packing == 40:
        from georiva_spark.sources.j2k_codec import j2k_encode
        # template 5.40 shares 5.0's section-5 layout + 2 J2K octets
        s5 = (npk.to_bytes(4, "big")
              + (40).to_bytes(2, "big")
              + struct.pack(">f", float(r)) + _sm(e_scale, 2)
              + _sm(0, 2) + bytes([nbits, 0])
              + bytes([0, 255]))      # lossless, no explicit target ratio
        if nbits == 0:
            s7 = b""
        elif mask.all() and red_ni is None:
            s7 = j2k_encode(x.reshape(nj, ni), nbits)
        else:
            # bitmap present (or ragged reduced stream): pack the npk
            # valid points as a 1-row image
            s7 = j2k_encode(x.reshape(1, npk), nbits)
    elif packing == 41:
        from georiva_spark.sources.png_codec import png_encode
        if nbits > 32:
            raise ValueError(
                f"PNG packing holds at most 32-bit samples; X needs "
                f"{nbits} bits — raise e_scale")
        # template 5.41 shares 5.0's section-5 layout (R, E, D, depth)
        s5 = (npk.to_bytes(4, "big")
              + (41).to_bytes(2, "big")
              + struct.pack(">f", float(r)) + _sm(e_scale, 2)
              + _sm(0, 2) + bytes([nbits, 0]))
        if nbits == 0:
            s7 = b""
        elif mask.all() and red_ni is None:
            s7 = png_encode(x, ni, nj, nbits)
        else:
            # bitmap present (or ragged reduced stream): pack the npk
            # valid points as a 1-row image
            s7 = png_encode(x, npk, 1, nbits)
    elif packing == 42:
        from georiva_spark.sources.aec_codec import aec_encode
        # template 5.42 = 5.0's layout + CCSDS flags / block size / RSI
        aflags, ablock, arsi = 0x04 | 0x08, 32, 128   # MSB + preprocess
        s5 = (npk.to_bytes(4, "big")
              + (42).to_bytes(2, "big")
              + struct.pack(">f", float(r)) + _sm(e_scale, 2)
              + _sm(0, 2) + bytes([nbits, 0])
              + bytes([aflags, ablock]) + arsi.to_bytes(2, "big"))
        s7 = (aec_encode(x, nbits, block_size=ablock, rsi=arsi)
              if nbits else b"")
    else:
        raise NotImplementedError(f"packing template 5.{packing}")
    if mask.all():
        s6 = bytes([255])
    else:
        s6 = bytes([0]) + np.packbits(
            mask.astype(np.uint8)).tobytes()

    body = (_sec(1, s1) + _sec(3, s3) + _sec(4, s4) + _sec(5, s5)
            + _sec(6, s6) + _sec(7, s7))
    total = 16 + len(body) + 4
    head = (b"GRIB" + bytes([0, 0, disc if disc != 255 else 0, 2])
            + total.to_bytes(8, "big"))
    return head + body + b"7777"


def _encode_complex(x: np.ndarray, packing: int, order: int,
                    group_size: int, npk: int, r: float,
                    e_scale: int) -> tuple[bytes, bytes]:
    """Section 5 (template 5.2/5.3) + section 7 bodies for the scaled
    non-negative integers `x`. Groups are fixed `group_size` runs
    (ref_len=group_size, inc=1, scaled lens 0 bits, last length in
    octets 43-46) — a valid, deliberately simple grouping choice."""
    n = x.size
    h = x.astype(np.int64).copy()
    extra = b""
    if packing == 3:
        if order not in (1, 2):
            raise NotImplementedError(f"spatial differencing order {order}")
        d = h.copy()
        if order == 1 and n > 1:
            d[1:] = h[1:] - h[:-1]
        elif order == 2 and n > 2:
            d[2:] = h[2:] - 2 * h[1:-1] + h[:-2]
        gmin = int(d[order:].min()) if n > order else 0
        originals = ([int(v) for v in h[:order]] + [0] * order)[:order]
        h = d
        h[order:] -= gmin
        h[:min(order, n)] = 0
        nd = 4
        extra = b"".join(_sm(v, nd) for v in originals) + _sm(gmin, nd)

    ng = (n + group_size - 1) // group_size if n else 0
    refs = np.zeros(ng, dtype=np.int64)
    widths = np.zeros(ng, dtype=np.int64)
    chunks: list[np.ndarray] = []
    for g in range(ng):
        seg = h[g * group_size:(g + 1) * group_size]
        refs[g] = seg.min()
        span = int(seg.max() - seg.min())
        w = span.bit_length()
        widths[g] = w
        if w:
            rel = seg - refs[g]
            chunks.append(
                ((rel[:, None] >> np.arange(w - 1, -1, -1)) & 1)
                .astype(np.uint8).ravel())
    nbits = int(refs.max()).bit_length() if ng else 0
    wbits = int(widths.max()).bit_length() if ng else 0
    last_len = n - (ng - 1) * group_size if ng else 0

    s5 = (npk.to_bytes(4, "big") + packing.to_bytes(2, "big")
          + struct.pack(">f", r) + _sm(e_scale, 2) + _sm(0, 2)
          + bytes([nbits, 0])
          + bytes([1, 0])                       # general split, no missing
          + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
          + ng.to_bytes(4, "big")
          + bytes([0, wbits])                   # ref width 0
          + group_size.to_bytes(4, "big") + bytes([1])
          + last_len.to_bytes(4, "big") + bytes([0]))   # 0-bit scaled lens
    if packing == 3:
        s5 += bytes([order, 4])

    s7 = bytearray(extra)
    s7 += _pack_bits(refs, nbits) if nbits else b""
    s7 += _pack_bits(widths, wbits) if wbits else b""
    if chunks:
        s7 += np.packbits(np.concatenate(chunks)).tobytes()
    return s5, bytes(s7)


def _encode_complex_missing(a: np.ndarray, packing: int, order: int,
                            group_size: int, r: float,
                            e_scale: int) -> tuple[bytes, bytes]:
    """Complex packing with PRIMARY missing-value management (octet
    23 = 1): NaNs ride in-field as all-ones raw values (group width) or
    all-ones width-0 group references; group widths reserve the marker.
    Spatial differencing runs over the non-missing sequence only."""
    n = a.size
    finite = np.isfinite(a)
    x = np.zeros(n, dtype=np.int64)
    x[finite] = np.floor((a[finite] - r) * 2.0 ** (-e_scale)) \
        .astype(np.int64)
    h = x.copy()
    extra = b""
    if packing == 3:
        if order not in (1, 2):
            raise NotImplementedError(f"spatial differencing order {order}")
        nm = np.flatnonzero(finite)
        seq = x[nm].astype(np.int64)
        d = seq.copy()
        if order == 1 and seq.size > 1:
            d[1:] = seq[1:] - seq[:-1]
        elif order == 2 and seq.size > 2:
            d[2:] = seq[2:] - 2 * seq[1:-1] + seq[:-2]
        gmin = int(d[order:].min()) if seq.size > order else 0
        originals = ([int(v) for v in seq[:order]] + [0] * order)[:order]
        d[order:] -= gmin
        d[:min(order, seq.size)] = 0
        h[nm] = d
        nd = 4
        extra = b"".join(_sm(v, nd) for v in originals) + _sm(gmin, nd)

    ng = (n + group_size - 1) // group_size if n else 0
    refs = np.zeros(ng, dtype=np.int64)
    widths = np.zeros(ng, dtype=np.int64)
    all_missing = np.zeros(ng, dtype=bool)
    chunks: list[np.ndarray] = []
    for g in range(ng):
        lo, hi = g * group_size, (g + 1) * group_size
        seg, fin = h[lo:hi], finite[lo:hi]
        if not fin.any():
            all_missing[g] = True       # ref patched to the marker below
            continue
        vals = seg[fin]
        ref = int(vals.min())
        span = int(vals.max() - ref)
        if fin.all() and span == 0:
            refs[g] = ref
            continue                     # constant group, width 0
        # ALWAYS reserve all-ones for the missing marker: the decoder
        # treats an all-ones raw value as missing in EVERY group when
        # octet 23 != 0, so a fully-finite group whose span is exactly
        # 2^k-1 would otherwise decode its maximum as NaN
        w = max((span + 1).bit_length(), 1)
        refs[g], widths[g] = ref, w
        raw = np.where(fin, seg - ref, (1 << w) - 1).astype(np.int64)
        chunks.append(((raw[:, None]
                        >> np.arange(w - 1, -1, -1)) & 1)
                      .astype(np.uint8).ravel())
    max_ref = int(refs[~all_missing].max()) if (~all_missing).any() else 0
    nbits = max(1, (max_ref + 1).bit_length())   # marker > every real ref
    refs[all_missing] = (1 << nbits) - 1
    wbits = int(widths.max()).bit_length() if ng else 0
    last_len = n - (ng - 1) * group_size if ng else 0

    s5 = (n.to_bytes(4, "big") + packing.to_bytes(2, "big")
          + struct.pack(">f", r) + _sm(e_scale, 2) + _sm(0, 2)
          + bytes([nbits, 0])
          + bytes([1, 1])                       # general split, PRIMARY mgmt
          + struct.pack(">f", 9999.0)           # primary substitute
          + (0).to_bytes(4, "big")              # secondary (unused)
          + ng.to_bytes(4, "big")
          + bytes([0, wbits])                   # ref width 0
          + group_size.to_bytes(4, "big") + bytes([1])
          + last_len.to_bytes(4, "big") + bytes([0]))   # 0-bit scaled lens
    if packing == 3:
        s5 += bytes([order, 4])

    s7 = bytearray(extra)
    s7 += _pack_bits(refs, nbits) if nbits else b""
    s7 += _pack_bits(widths, wbits) if wbits else b""
    if chunks:
        s7 += np.packbits(np.concatenate(chunks)).tobytes()
    return s5, bytes(s7)
