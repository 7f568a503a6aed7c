"""Seeded input generators for the benchmark workloads.

Everything a workload feeds the program comes from here and is a pure
function of the workload seed: the same seed gives the same grid, the same
boundary sets, GRIB2 payloads, documents and request parameters. Nothing
here imports Spark, so the numpy references used by the correctness checks
come from the same functions the inputs do.

Grid values are multiples of 1/64, so GRIB2 simple packing (reference value
plus integers times 2^-24) round-trips them exactly and every mean the
checks compare is exact dyadic arithmetic up to summation order.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from dataclasses import dataclass

import numpy as np

# ---- grid -------------------------------------------------------------------

#: tag_pixels' broadcast gate, in mask rows (operators/zonal.py)
MASK_BROADCAST_GATE = 2_000_000


@dataclass(frozen=True)
class GridSpec:
    """A regional lat/lon grid with the affine contract
    lat = lat0 + res*(y + 0.5), lon = lon0 + res*(x + 0.5), y = 0 south."""
    seed: int
    h: int
    w: int
    res: float
    lat0: float
    lon0: float
    coef: tuple[int, int, int, int]     # value hash: a*y + b*x + c*t + d
    history: int                        # months written in setup
    landings: int                       # GRIB2 files that land in the loop
    start: dt.datetime                  # time of month 0

    @property
    def extent(self) -> tuple[float, float, float, float]:
        return (self.lon0, self.lat0, self.lon0 + self.w * self.res,
                self.lat0 + self.h * self.res)


def grid_spec(seed: int) -> GridSpec:
    rng = np.random.default_rng([seed, 1])
    # odd multipliers keep the value hash well mixed over (t, y, x)
    a, b, c = (int(v) * 2 + 1 for v in rng.integers(50, 5000, 3))
    d = int(rng.integers(0, 4096))
    return GridSpec(seed=seed, h=96, w=160, res=0.0625, lat0=-3.0,
                    lon0=10.0, coef=(a, b, c, d), history=10, landings=24,
                    start=dt.datetime(2020, 3, 1))


def month_time(spec: GridSpec, t: int) -> dt.datetime:
    m = spec.start.month - 1 + t
    return dt.datetime(spec.start.year + m // 12, m % 12 + 1, 1)


def grid_values(spec: GridSpec, t: int) -> np.ndarray:
    """(h, w) float64 field of month ``t``; row 0 is the southern row."""
    a, b, c, d = spec.coef
    y = np.arange(spec.h, dtype=np.int64)[:, None]
    x = np.arange(spec.w, dtype=np.int64)[None, :]
    k = (a * y + b * x + c * t + d) % 4096
    return k.astype(np.float64) / 64.0 - 20.0


def grid_value_sql(spec: GridSpec) -> str:
    """The same value hash as a Spark SQL expression over (t, y, x)."""
    a, b, c, d = spec.coef
    return (f"cast(pmod({a} * y + {b} * x + {c} * t + {d}, 4096) as double)"
            " / 64 - 20")


def pixel_centers(spec: GridSpec) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of every pixel centre, each (h, w)."""
    lat = spec.lat0 + spec.res * (np.arange(spec.h) + 0.5)
    lon = spec.lon0 + spec.res * (np.arange(spec.w) + 0.5)
    return np.meshgrid(lon, lat)


# ---- polygons ---------------------------------------------------------------

def _ring(cx: float, cy: float, radius: float, n: int,
          rng: np.random.Generator, jitter: float) -> list[list[float]]:
    ang = np.sort(rng.uniform(0, 2 * math.pi, n))
    r = radius * (1.0 + jitter * rng.uniform(-1, 1, n))
    pts = [[float(cx + ri * math.cos(t)), float(cy + ri * math.sin(t))]
           for ri, t in zip(r, ang)]
    return pts + [pts[0]]


def _rect(w: float, s: float, e: float, n: float) -> list[list[float]]:
    return [[w, s], [e, s], [e, n], [w, n], [w, s]]


def _geojson(rings: list[list[list[float]]]) -> str:
    return json.dumps({"type": "Polygon", "coordinates": rings})


def boundary_sets(spec: GridSpec) -> dict[str, list[tuple]]:
    """Named boundary sets as (boundary_id, level, name, geojson) rows.

    - ``shapes``: 6 rectangles and 4 many-edge stars (96 vertices) on two
      levels, far under the mask gate;
    - ``holes``: continental polygons with holes whose bounding boxes
      reach far past the grid, so the mask-size estimate at the grid's
      true resolution is over the broadcast gate.
    """
    rng = np.random.default_rng([spec.seed, 2])
    w0, s0, e0, n0 = spec.extent
    cx, cy = (w0 + e0) / 2, (s0 + n0) / 2
    out: dict[str, list[tuple]] = {}
    shapes = []
    for i in range(6):
        w = float(rng.uniform(w0 - 0.5, e0 - 3.0))
        s = float(rng.uniform(s0 - 0.5, n0 - 2.5))
        shapes.append((100 + i, 1 + i % 2, f"rect{i}",
                       _geojson([_rect(w, s, w + float(rng.uniform(1, 5)),
                                       s + float(rng.uniform(1, 4)))])))
    shapes += [
        (200 + i, 1 + i % 2, f"star{i}", _geojson([_ring(
            float(rng.uniform(w0 + 2, e0 - 2)),
            float(rng.uniform(s0 + 2, n0 - 2)),
            float(rng.uniform(1.0, 2.5)), 96, rng, 0.25)]))
        for i in range(4)]
    out["shapes"] = shapes
    rows = []
    for i in range(3):
        outer = _ring(cx + float(rng.uniform(-1, 1)),
                      cy + float(rng.uniform(-1, 1)),
                      float(rng.uniform(28, 32)), 64, rng, 0.05)
        hole = _ring(float(rng.uniform(w0 + 4, e0 - 4)),
                     float(rng.uniform(s0 + 3, n0 - 3)),
                     float(rng.uniform(1.0, 2.5)), 48, rng, 0.2)
        rows.append((300 + i, 0, f"holes{i}", _geojson([outer, hole[::-1]])))
    out["holes"] = rows
    return out


def mask_estimate_rows(rows: list[tuple], res: float) -> float:
    """tag_pixels' size estimate: Σ bbox area / res²."""
    total = 0.0
    for r in rows:
        ring = np.asarray(json.loads(r[3])["coordinates"][0])
        total += ((ring[:, 0].max() - ring[:, 0].min())
                  * (ring[:, 1].max() - ring[:, 1].min()))
    return total / (res * res)


def inside(geojson: str, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Even-odd containment of points in a GeoJSON Polygon: a point is
    inside when a ray to +lon crosses the rings an odd number of times,
    with edges half-open in latitude (y1 <= p < y2)."""
    acc = np.zeros(lon.shape, dtype=bool)
    for ring in json.loads(geojson)["coordinates"]:
        pts = np.asarray(ring, dtype=np.float64)
        for (x1, y1), (x2, y2) in zip(pts[:-1], pts[1:]):
            if y1 == y2:
                continue
            crosses = (y1 <= lat) != (y2 <= lat)
            xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
            acc ^= crosses & (lon < xint)
    return acc


# ---- GRIB2 landing files ----------------------------------------------------

def grib2_field(spec: GridSpec, t: int) -> np.ndarray:
    """Month ``t`` in GRIB2 scanning order (row 0 = northern row)."""
    return grid_values(spec, t)[::-1]


def grib2_geometry(spec: GridSpec) -> dict:
    """encode_grib2_message keywords placing the first grid point at the
    north-west pixel centre."""
    return dict(la1=spec.lat0 + (spec.h - 0.5) * spec.res,
                lo1=spec.lon0 + 0.5 * spec.res, di=spec.res, dj=spec.res)


# ---- analyst requests -------------------------------------------------------

def request_params(spec: GridSpec, n: int) -> list[dict]:
    """``n`` seeded parameter draws for point / bbox / regrid requests."""
    rng = np.random.default_rng([spec.seed, 3])
    w0, s0, e0, n0 = spec.extent
    out = []
    for _ in range(n):
        bw = float(rng.uniform(w0, e0 - 3.0))
        bs = float(rng.uniform(s0, n0 - 2.0))
        out.append({
            "point": (float(rng.uniform(s0 + 0.1, n0 - 0.1)),
                      float(rng.uniform(w0 + 0.1, e0 - 0.1))),
            "bbox": (bw, bs, bw + 3.0, bs + 2.0),
            "area": _geojson([_ring(bw + 1.5, bs + 1.0, 0.9, 40, rng,
                                    0.2)]),
        })
    return out


# ---- corpus -----------------------------------------------------------------

_WORDS = (
    "the of and to in a is that for it as was with be by on not he this are "
    "or his from at which but have an they you were her she there been one "
    "river basin rain flood grid cell model forecast season storm coast "
    "station sensor record archive survey harvest market village valley "
    "bridge school clinic water supply report signal field crop drought "
    "wind pressure cloud ocean current summer winter spring autumn north "
    "south east west delta plain ridge forest desert island harbor canal"
).split()

CORPUS_SHARDS = 1
DOCS_PER_SHARD = 64
EMB_DIM = 8


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    lang: str
    source: str
    shard: str


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def corpus_docs(seed: int) -> list[Doc]:
    """Crawl shards of documents. Every shard carries a few exact
    duplicates and near duplicates so the dedup legs have work; ids are
    unique across shards."""
    rng = np.random.default_rng([seed, 4])
    docs = []
    for s in range(CORPUS_SHARDS):
        shard = f"shard-{s}"
        texts: list[str] = []
        for i in range(DOCS_PER_SHARD):
            doc_id = 1000 * (s + 1) + i
            if i % 12 == 5 and texts:
                text = texts[-1]                        # exact duplicate
            elif i % 12 == 9 and texts:
                text = texts[-1] + " " + _text(rng, 2)  # near duplicate
            else:
                text = _text(rng, int(rng.integers(35, 60)))
            texts.append(text)
            docs.append(Doc(doc_id, text, ("en", "de", "fr")[i % 3],
                            ("web", "books")[i % 2], shard))
    return docs


def embedding(doc_id: int, seed: int) -> list[float]:
    rng = np.random.default_rng([seed, 5, doc_id])
    centre = doc_id % 4
    v = rng.normal(0, 0.1, EMB_DIM)
    v[centre] += 1.0
    return [float(x) for x in v]


def code(doc_id: int, seed: int) -> int:
    """A 56-bit perceptual code; duplicates of the same content get codes
    within a small Hamming distance of each other."""
    rng = np.random.default_rng([seed, 6, doc_id // 4])
    base = int(rng.integers(0, 1 << 55))
    return base ^ (1 << (doc_id % 56)) if doc_id % 4 else base


def takedown_requests(seed: int, docs: list[Doc], n: int,
                      per_request: int = 2) -> list[list[int]]:
    """``n`` disjoint id sets, each from one shard, shards in turn. No
    shard loses more than half its documents, so none is ever emptied."""
    rng = np.random.default_rng([seed, 7])
    pool = [d.doc_id for d in docs]
    rng.shuffle(pool)
    by_shard: dict[int, list[int]] = {}
    for i in pool:
        by_shard.setdefault(i // 1000, []).append(i)
    shards = sorted(by_shard)
    out = []
    for r in range(n):
        left = by_shard[shards[r % len(shards)]]
        if len(left) - per_request < DOCS_PER_SHARD // 2:
            break
        out.append(sorted(left.pop() for _ in range(per_request)))
    return out


def recrawl_extra(seed: int, shard: str, round_no: int) -> list[Doc]:
    """Fresh documents a re-crawl of ``shard`` delivers beside its
    original content."""
    rng = np.random.default_rng([seed, 8, round_no])
    s = int(shard.split("-")[1])
    return [Doc(900_000 + 100 * round_no + 10 * s + i,
                _text(rng, int(rng.integers(35, 60))), "en", "web", shard)
            for i in range(3)]


def probe_queries(seed: int, docs: list[Doc], round_no: int,
                  n: int = 8) -> list[Doc]:
    """Probe documents for the MinHash / IVF reads: near copies of seeded
    corpus documents."""
    rng = np.random.default_rng([seed, 9, round_no])
    picks = rng.choice(len(docs), size=n, replace=False)
    return [Doc(800_000 + 100 * round_no + k,
                docs[i].text + " " + _text(rng, 1), "en", "web", "probe")
            for k, i in enumerate(picks)]
