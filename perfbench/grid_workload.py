"""``grid_analysis_refresh`` workload: the georiva write path and analyst
reads beside it.

One client, closed loop. Setup writes a seeded regional grid history into
the partitioned grid store and encodes the GRIB2 files that land later.
The loop runs whole blocks of analyst requests (each a STAC search, then
one zonal / area / point / temporal / regrid operator over the found
months) with one landing in each: a GRIB2 file goes through
``ingest_file`` into the grid store and the derivation engine re-derives
the promotion and climatology (value / anomaly / trend) units it feeds.
Outputs are checked against numpy references built from the same
generator, outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

from perfbench import gen
from perfbench.harness import Run, parquet_files

SEARCH_MONTHS = 6           # months a zonal / point / regrid request covers
ZONAL = ("zonal_stats", "zonal_rollup", "area_timeseries")
#: one block of the closed loop, one request per slot. It holds every
#: operator the workload measures, so a run of any length measures the same
#: mix. Three of the six analyst requests mask polygons, and they take most
#: of the read time: rectangles and many-edge stars under the mask gate, a
#: set of continental polygons with holes over it, and one area series.
#: One GRIB2 file lands.
BLOCK = (
    "zonal_rollup:shapes", "point_timeseries", "zonal_stats:holes",
    "land", "area_timeseries", "climatology", "regrid_bilinear",
)
REGRID_SHAPE = (12, 20)     # target lattice at twice the grid spacing


class GridWorkload:
    BLOCK = BLOCK
    #: setups per run; setup_s is the session start plus their median
    SETUPS = 2
    #: op kinds write_mean_s averages: the landings
    WRITE_KINDS = ("write",)

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.spec = gen.grid_spec(run.seed)
        self.sets = gen.boundary_sets(self.spec)
        self.params = gen.request_params(self.spec, 64)
        self.lon, self.lat = gen.pixel_centers(self.spec)
        self._masks: dict[str, np.ndarray] = {}
        self._fields: dict[int, np.ndarray] = {}

    # ---- setup ---------------------------------------------------------
    def setup(self, rep: int) -> None:
        """Fresh store, landing files, catalog and engine under
        ``grid<rep>``."""
        from pyspark.sql import functions as F

        from georiva_spark.plans import (CatalogContext, DerivationEngine,
                                         RecipeRegistry)
        from georiva_spark.plans.recipes import (ClimatologyRecipe,
                                                 PromotionRecipe)
        from georiva_spark.sources import grid_store
        from georiva_spark.sources.grib2_codec import encode_grib2_message

        spec, tr, spark = self.spec, self.run.tracer, self.spark
        base = self.run.path(f"grid{rep}")
        self.store = os.path.join(base, "store")
        self.out_dir = os.path.join(base, "products")
        hw = spec.h * spec.w
        t_sec = ", ".join(str(int(gen.month_time(spec, t).replace(
            tzinfo=dt.timezone.utc).timestamp()))
            for t in range(spec.history))
        hist = (spark.range(hw * spec.history)
                .select(F.expr(f"id div {hw}").alias("t"),
                        F.expr(f"(id div {spec.w}) % {spec.h}").alias("y"),
                        F.expr(f"id % {spec.w}").alias("x"))
                .select(F.lit("default").alias("org"),
                        F.lit("t").alias("catalog"),
                        F.lit("g").alias("collection"),
                        F.lit("t").alias("variable"),
                        F.expr(f"timestamp_seconds(element_at(array({t_sec}),"
                               " cast(t + 1 as int)))").alias("time"),
                        F.lit(None).cast("timestamp").alias("reference_time"),
                        "y", "x",
                        (F.col("y") * spec.res + (spec.lat0 + spec.res / 2))
                        .alias("lat"),
                        (F.col("x") * spec.res + (spec.lon0 + spec.res / 2))
                        .alias("lon"),
                        F.expr(gen.grid_value_sql(spec)).alias("value")))
        with tr.span("sources.grid_store"):
            grid_store.write_grid(hist, self.store, mode="overwrite")
        # landing files: {org}/{catalog}/{collection}/{variable}/Y/M/D/file
        self.files = []
        for k in range(spec.landings):
            t = spec.history + k
            when = gen.month_time(spec, t)
            d = os.path.join(base, "landing", "default", "t", "g", "t",
                             f"{when:%Y/%m/%d}")
            os.makedirs(d, exist_ok=True)
            p = os.path.join(d, f"g_{when:%Y%m}.grib2")
            with open(p, "wb") as f:
                f.write(encode_grib2_message(
                    gen.grib2_field(spec, t), shortname="t", ref_time=when,
                    **gen.grib2_geometry(spec)))
            self.files.append(p)
        self.items = [self._item(t) for t in range(spec.history)]
        self.ctx = CatalogContext(spark, self.items,
                                  grid_loader=self._load)
        reg = RecipeRegistry()
        reg.register(PromotionRecipe("g", "g-published"))
        y0 = gen.month_time(spec, spec.history - 1).year
        reg.register(ClimatologyRecipe(
            "g", "g-climatology", periods=[(y0, y0 + 1)],
            quantities=["value", "anomaly", "trend"], baseline=(y0, y0)))
        self.engine = DerivationEngine(spark, reg, self.ctx,
                                       output_dir=self.out_dir)
        self.items_df = self._items_frame()
        self.landed = 0
        self.input_bytes = 0
        self.units = {"completed": 0, "skipped": 0}

    def _item(self, t: int) -> dict:
        return {"item_id": t + 1, "collection": "g", "variable": "t",
                "time": gen.month_time(self.spec, t), "tier": "staging",
                "checksum": f"g-{self.spec.seed}-{t}"}

    def _load(self, item: dict):
        """The catalog's asset loader: a staging item is one date
        partition of the grid store, a published item one unit output."""
        if item["tier"] == "staging":
            from georiva_spark.schemas import GRID_SCHEMA
            part = os.path.join(self.store, "collection=g", "variable=t",
                                f"date={item['time']:%Y-%m-%d}")
            schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                               for f in GRID_SCHEMA.fields
                               if f.name not in ("collection", "variable"))
            return (self.spark.read.schema(
                        f"{schema}, collection string, variable string, "
                        "date date")
                    .option("basePath", self.store).parquet(part)
                    .drop("date"))
        return self.spark.read.parquet(
            os.path.join(self.out_dir, f"unit={item['unit_hash']}"))

    def _items_frame(self):
        from georiva_spark.functions.frames import local_frame
        w, s, e, n = self.spec.extent
        rows = [(it["item_id"], "g", it["time"], [w, s, e, n])
                for it in self.items if it["tier"] == "staging"]
        return local_frame(self.spark, rows, "item_id long, collection "
                           "string, time timestamp, bounds array<double>")

    # ---- requests ------------------------------------------------------
    def months(self) -> int:
        return self.spec.history + self.landed

    def _search(self, n_months: int, bbox) -> list[int]:
        """STAC search for the latest ``n_months`` → month indices found."""
        from georiva_spark import catalog
        top = self.months() - 1
        start = gen.month_time(self.spec, top - n_months + 1)
        with self.run.tracer.span("catalog"):
            page = catalog.stac_search(self.items_df, collection="g",
                                       start=start, bbox=bbox,
                                       limit=100).collect()
        return sorted(r.item_id - 1 for r in page)

    def _grid(self, months: list[int]):
        from georiva_spark.sources import grid_store
        with self.run.tracer.span("sources.grid_store"):
            return grid_store.read_grid(
                self.spark, self.store, collection="g", variable="t",
                start=gen.month_time(self.spec, months[0]),
                end=gen.month_time(self.spec, months[-1]))

    def read(self, i: int, slot: str) -> None:
        from pyspark.sql import functions as F

        from georiva_spark.operators import regrid, temporal, timeseries, zonal
        spec, tr = self.spec, self.run.tracer
        p = self.params[i % len(self.params)]
        w, s, e, n = p["bbox"]
        op, _, bset = slot.partition(":")
        state = {"params": i % len(self.params)}
        if bset:
            state["set"], state["rows"] = bset, self.sets[bset]

        def fn():
            months = self._search(
                12 if op == "climatology" else SEARCH_MONTHS, p["bbox"])
            state["months"] = months
            grid = self._grid(months)
            sub = grid.where(F.col("lat").between(s, n)
                             & F.col("lon").between(w, e))
            if op in ZONAL:
                with tr.span("operators.zonal"):
                    if op == "zonal_stats":
                        out = zonal.zonal_stats(grid, state["rows"],
                                                res_deg=spec.res)
                    elif op == "zonal_rollup":
                        out = zonal.zonal_rollup(grid, state["rows"],
                                                 res_deg=spec.res)
                    else:
                        out = zonal.area_timeseries(grid, p["area"])
                    return out.collect()
            if op == "point_timeseries":
                with tr.span("operators.timeseries"):
                    return timeseries.point_timeseries(
                        grid, *p["point"], spec.lat0, spec.lon0,
                        spec.res).collect()
            if op == "regrid_bilinear":
                with tr.span("operators.regrid"):
                    return regrid.regrid_bilinear(
                        grid, (spec.lat0, spec.lon0, spec.res),
                        (s, w, 2 * spec.res), REGRID_SHAPE,
                        (spec.h, spec.w)).collect()
            with tr.span("operators.temporal"):
                return temporal.climatology(sub).collect()

        self.run.do("read", op, fn, state)

    def write(self) -> None:
        """One GRIB2 file lands: ingest, register, dispatch its units."""
        # importing raster_formats registers the GRIB2 plugin; the format
        # registry is empty until then
        import georiva_spark.sources.raster_formats  # noqa: F401
        from georiva_spark.plans import Trigger
        from georiva_spark.sources.ingestion import ingest_file
        if self.landed >= self.spec.landings:
            return
        t = self.spec.history + self.landed
        path = self.files[self.landed]
        tr = self.run.tracer

        def fn():
            with tr.span("sources.ingestion"):
                ingest_file(self.spark, path, [], grid_dir=self.store)
            item = self._item(t)
            self.items.append(item)
            self.items_df = self._items_frame()
            with tr.span("plans.engine"):
                recs = self.engine.dispatch_for_triggers(
                    [Trigger(kind="staging_item", item=item)],
                    origin="landing")
            return self._count_units(recs)

        self.input_bytes += os.path.getsize(path)
        self.landed += 1
        self.run.do("write", f"land_{t}", fn, {"t": t})

    def _count_units(self, recs) -> dict:
        out = {"completed": 0, "skipped": 0, "other": 0}
        for r in recs:
            k = r.status if r.status in out else "other"
            out[k] += 1
        self.units["completed"] += out["completed"]
        self.units["skipped"] += out["skipped"]
        return out

    def step(self, i: int) -> None:
        slot = BLOCK[i % len(BLOCK)]
        if slot == "land":
            self.write()
        else:
            self.read(i, slot)

    # ---- correctness ---------------------------------------------------
    def field(self, t: int) -> np.ndarray:
        if t not in self._fields:
            self._fields[t] = gen.grid_values(self.spec, t)
        return self._fields[t]

    def mask(self, geojson: str) -> np.ndarray:
        if geojson not in self._masks:
            self._masks[geojson] = gen.inside(geojson, self.lon, self.lat)
        return self._masks[geojson]

    def bbox_mask(self, bbox) -> np.ndarray:
        w, s, e, n = bbox
        return ((self.lat >= s) & (self.lat <= n)
                & (self.lon >= w) & (self.lon <= e))

    def check_op(self, op) -> bool:
        if not op.ok:
            return False
        if op.kind == "read":
            return self._check_read(op)
        return op.result["completed"] >= 1 and op.result["other"] == 0

    def _month_of(self, ts: dt.datetime) -> int:
        s = self.spec.start
        return (ts.year - s.year) * 12 + ts.month - s.month

    def _check_read(self, op) -> bool:
        months, rows = op.state["months"], op.result
        top = self.spec.history + sum(
            1 for o in self.run.ops
            if o.kind == "write" and o.start_s < op.start_s)
        want = 12 if op.name == "climatology" else SEARCH_MONTHS
        if months != list(range(max(0, top - want), top)):
            return False
        p = self.params[op.state["params"]]
        if op.name in ("zonal_stats", "zonal_rollup"):
            return self._check_zonal(op.state["rows"], months, rows,
                                     rollup=op.name == "zonal_rollup")
        if op.name == "area_timeseries":
            m = self.mask(p["area"])
            got = {self._month_of(r.time): r.value for r in rows}
            return got.keys() == set(months) and all(
                _close(got[t], self.field(t)[m].mean()) for t in months)
        if op.name == "point_timeseries":
            lat, lon = p["point"]
            y = int(np.floor((lat - self.spec.lat0) / self.spec.res))
            x = int(np.floor((lon - self.spec.lon0) / self.spec.res))
            got = {self._month_of(r.time): r.value for r in rows}
            return got == {t: self.field(t)[y, x] for t in months}
        if op.name == "regrid_bilinear":
            return self._check_regrid(p["bbox"], months, rows)
        bm = self.bbox_mask(p["bbox"])
        ref = np.stack([self.field(t) for t in months]).mean(axis=0)
        if len(rows) != int(bm.sum()):
            return False
        return all(_close(r.value, ref[r.y, r.x]) for r in rows)

    def _zonal_ref(self, geojson: str, t: int) -> dict | None:
        v = self.field(t)[self.mask(geojson)]
        if v.size == 0:
            return None
        return {"count": v.size, "mean": v.mean(), "min": v.min(),
                "max": v.max(), "sum": v.sum(), "std": v.std()}

    def _check_zonal(self, bset, months, rows, rollup: bool) -> bool:
        got = {}
        level_rows = {}
        for r in rows:
            # Row is a tuple: r.count would be tuple.count, so index by name
            if r["boundary_id"] is None:
                level_rows[(r["level"], self._month_of(r["time"]))] = r
            elif r["count"] is not None:
                got[(r["boundary_id"], self._month_of(r["time"]))] = r
        expect_levels: dict = {}
        for bid, level, _, geo in bset:
            for t in months:
                ref = self._zonal_ref(geo, t)
                r = got.pop((bid, t), None)
                if ref is None:
                    if r is not None:
                        return False
                    continue
                if r is None or r["count"] != ref["count"] or not all(
                        _close(r[k], ref[k])
                        for k in ("mean", "min", "max", "sum", "std")):
                    return False
                acc = expect_levels.setdefault((level, t), [0, 0.0])
                acc[0] += ref["count"]
                acc[1] += ref["sum"]
        if got:
            return False
        if rollup:
            for key, (cnt, total) in expect_levels.items():
                r = level_rows.get(key)
                if (r is None or r["count"] != cnt
                        or not _close(r["sum"], total)):
                    return False
        return True

    def _check_regrid(self, bbox, months, rows) -> bool:
        spec = self.spec
        w, s, _, _ = bbox
        h, wd = REGRID_SHAPE
        d_res = 2 * spec.res
        ty, tx = np.meshgrid(np.arange(h), np.arange(wd), indexing="ij")
        fy = (s + (ty + 0.5) * d_res - spec.lat0) / spec.res - 0.5
        fx = (w + (tx + 0.5) * d_res - spec.lon0) / spec.res - 0.5
        y0, x0 = np.floor(fy), np.floor(fx)
        wy, wx = fy - y0, fx - x0
        got = {(self._month_of(r.time), r.y, r.x): r.value for r in rows}
        if len(got) != len(months) * h * wd:
            return False
        for t in months:
            f = self.field(t)
            num = np.zeros((h, wd))
            den = np.zeros((h, wd))
            # neighbours that clamp onto the same pixel merge, as in the
            # program's groupBy over (target, source) rows
            for dy in (0, 1):
                for dx in (0, 1):
                    yy = np.clip(y0 + dy, 0, spec.h - 1).astype(int)
                    xx = np.clip(x0 + dx, 0, spec.w - 1).astype(int)
                    wt = (wy if dy else 1 - wy) * (wx if dx else 1 - wx)
                    num += np.where(wt > 0, wt * f[yy, xx], 0.0)
                    den += np.where(wt > 0, wt, 0.0)
            ref = num / den
            for a in range(h):
                for b in range(wd):
                    if not _close(got[(t, a, b)], ref[a, b]):
                        return False
        return True

    def verify(self) -> None:
        """Landed months equal their GRIB2 source, promoted products equal
        the landed months, and the climatology value product's mean matches
        numpy over the months it covers."""
        from pyspark.sql import functions as F

        from georiva_spark.sources import grid_store
        run, spec = self.run, self.spec
        agg = [F.count("value").alias("n"), F.sum("value").alias("s"),
               F.sum(F.col("value") * F.col("y")).alias("sy"),
               F.sum(F.col("value") * F.col("x")).alias("sx")]

        def ref_aggs(f):
            y = np.arange(spec.h)[:, None]
            x = np.arange(spec.w)[None, :]
            return (f.size, f.sum(), (f * y).sum(), (f * x).sum())

        def matches(row, ref):
            return row.n == ref[0] and all(
                _close(a, b) for a, b in zip(row[1:], ref[1:]))

        promoted = {it["properties"]["promoted_from"]: it
                    for it in self.items if it["tier"] == "published"
                    and it["collection"] == "g-published"}
        for t in range(spec.history, self.months()):
            ref = ref_aggs(self.field(t))
            day = gen.month_time(spec, t).date()
            landed = grid_store.read_grid(self.spark, self.store,
                                          collection="g", variable="t",
                                          start=day, end=day)
            run.check(matches(landed.agg(*agg).head(), ref),
                      f"landed month {t} differs from its GRIB2 source")
            it = promoted.get(str(t + 1))
            run.check(it is not None and matches(
                self._load(it).agg(*agg).head(), ref),
                f"promoted month {t} differs from the landed month")
        clim = [it for it in self.items if it["tier"] == "published"
                and it["collection"] == "g-climatology"
                and it["variable"] == "value"]
        y0 = gen.month_time(spec, spec.history - 1).year
        covered = [t for t in range(self.months())
                   if y0 <= gen.month_time(spec, t).year <= y0 + 1]
        if clim and covered:
            mean = np.stack([self.field(t) for t in covered]).mean(axis=0)
            run.check(matches(self._load(clim[-1]).agg(*agg).head(),
                              ref_aggs(mean)),
                      "climatology value product differs from numpy")
        else:
            run.check(False, "no climatology value product was published")

    def context(self) -> dict:
        reads = [o for o in self.run.ops if o.kind == "read" and o.ok]
        hw = self.spec.h * self.spec.w
        rows = sum(len(o.state.get("months", ())) * hw for o in reads)
        busy = sum(o.dur_s for o in reads)
        landed = [os.path.join(self.store, "collection=g", "variable=t",
                               f"date={gen.month_time(self.spec, t):%Y-%m-%d}")
                  for t in range(self.spec.history, self.months())]
        stored = _tree_bytes(self.out_dir) + sum(map(_tree_bytes, landed))
        return {
            "analysis_mrows_per_s": rows / busy / 1e6 if busy else None,
            "stored_bytes_per_input_byte":
                stored / self.input_bytes if self.input_bytes else None,
            "files_landed": self.landed,
            "engine_units": dict(self.units),
        }

    def engine_outputs(self) -> tuple[int, float]:
        return parquet_files(self.out_dir)

    def index_files(self) -> tuple[int, int]:
        return 0, 0


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _close(a, b, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= abs_ + rel * abs(float(b))
