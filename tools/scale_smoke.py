"""Scale smoke: run the headline raster operators at the reference's
"global grid" size (7200×3600 ≈ 25.9 M pixels per timestep,
ingestion/asset_writer.py:199-203) — the size the COG pipeline was built
around — generated in-flight from spark.range (no I/O), multiple
timesteps.

A second section lands one month on a monthly history and times the
derivation engine's re-derivation (one Promotion unit and the value,
anomaly and trend units of a climatology over the whole history).

Usage: python tools/scale_smoke.py [timesteps]
       python tools/scale_smoke.py landing [months ...]   (default 12 60 240)
Prints one timing line per operator or landing; appends nothing.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from georiva_spark.operators import regrid, temporal, zonal
from georiva_spark.session import get_spark

W, H = 7200, 3600          # global grid (asset_writer.py:199-203)
RES = 0.05
LAT0, LON0 = -90.0, -180.0


def global_grid(spark, timesteps: int):
    """25.9M pixels × T timesteps, value = deterministic f(t, y, x)."""
    px = spark.range(W * H).select(
        (F.col("id") % H).alias("y"), (F.col("id") / H).cast("long").alias("x"))
    ts = spark.range(timesteps).select(
        F.expr("timestamp'2020-01-01' + make_interval(0,1,0,0,0,0,0) * id")
        .alias("time"))
    g = px.crossJoin(ts)
    return g.select(
        F.lit("global").alias("collection"), F.lit("v").alias("variable"),
        "time", "y", "x",
        (F.lit(LAT0) + (F.col("y") + 0.5) * F.lit(RES)).alias("lat"),
        (F.lit(LON0) + (F.col("x") + 0.5) * F.lit(RES)).alias("lon"),
        (F.sin(F.col("y") / 100.0) * F.cos(F.col("x") / 100.0) * 10.0
         + F.month("time")).alias("value"))


LANDING_PX = 64            # a landing's grid: 64 × 64 pixels per month


def land_once(spark, months: int, label: str = "landing") -> None:
    """Write ``months`` monthly slices from 2000-01 into a grid store,
    then land the next month and time the engine's dispatch for it."""
    from georiva_spark.plans import (CatalogContext, DerivationEngine,
                                     RecipeRegistry, Trigger)
    from georiva_spark.plans.recipes import ClimatologyRecipe, PromotionRecipe
    from georiva_spark.schemas import GRID_SCHEMA
    from georiva_spark.sources import grid_store

    n = LANDING_PX
    root = tempfile.mkdtemp(prefix="landing-smoke-")
    store = os.path.join(root, "store")
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in GRID_SCHEMA.fields
                       if f.name not in ("collection", "variable"))

    def month(t: int) -> dt.datetime:
        return dt.datetime(2000 + t // 12, t % 12 + 1, 1)

    def write(t0: int, t1: int) -> None:
        grid_store.write_grid(spark.range(n * n * (t1 - t0)).select(
            F.lit("default").alias("org"), F.lit("t").alias("catalog"),
            F.lit("g").alias("collection"), F.lit("t").alias("variable"),
            F.expr(f"cast(add_months(date'2000-01-01', "
                   f"cast(id div {n * n} + {t0} as int)) as timestamp)")
            .alias("time"),
            F.lit(None).cast("timestamp").alias("reference_time"),
            F.expr(f"(id div {n}) % {n}").alias("y"),
            F.expr(f"id % {n}").alias("x"),
            (F.expr(f"(id div {n}) % {n}") + 0.5).alias("lat"),
            (F.expr(f"id % {n}") + 0.5).alias("lon"),
            (F.sin(F.col("id") / 97.0) * 10.0).alias("value")), store)

    def item(t: int) -> dict:
        return {"item_id": t + 1, "collection": "g", "variable": "t",
                "time": month(t), "tier": "staging", "checksum": f"m{t}"}

    def load(it: dict):
        part = os.path.join(store, "collection=g", "variable=t",
                            f"date={it['time']:%Y-%m-%d}")
        return (spark.read.schema(f"{schema}, collection string, "
                                  "variable string, date date")
                .option("basePath", store).parquet(part).drop("date"))

    try:
        write(0, months)
        ctx = CatalogContext(spark, [item(t) for t in range(months)],
                             grid_loader=load)
        reg = RecipeRegistry()
        reg.register(PromotionRecipe("g", "g-published"))
        reg.register(ClimatologyRecipe(
            "g", "g-climatology", periods=[(2000, month(months).year)],
            quantities=["value", "anomaly", "trend"], baseline=(2000, 2000)))
        engine = DerivationEngine(spark, reg, ctx,
                                  output_dir=os.path.join(root, "products"))
        write(months, months + 1)
        landed = item(months)
        ctx.items.append(landed)
        sc = spark.sparkContext
        group = f"{label} {months}"
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            recs = engine.dispatch_for_triggers(
                [Trigger(kind="staging_item", item=landed)], origin="landing")
            el = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = sum(tracker.getStageInfo(s).numCompletedTasks
                    for j in jobs for s in tracker.getJobInfo(j).stageIds
                    if tracker.getStageInfo(s) is not None)
        done = sum(r.status == "completed" for r in recs)
        print(f"{label} after {months} months: {el:.2f}s engine wall, "
              f"{len(jobs)} jobs, {tasks} tasks, {done} units completed")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main():
    if sys.argv[1:2] == ["landing"]:
        spark = get_spark("scale-smoke-landing",
                          extra_conf={"spark.driver.memory": "4g"})
        land_once(spark, 12, label="warm-up landing")
        for months in [int(a) for a in sys.argv[2:]] or [12, 60, 240]:
            land_once(spark, months)
        return
    t_n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("scale-smoke",
                      extra_conf={"spark.driver.memory": "48g"})
    grid = global_grid(spark, t_n)
    n = W * H * t_n

    t0 = time.perf_counter()
    c = temporal.climatology(grid, "annual").count()
    el = time.perf_counter() - t0
    print(f"climatology: {el:.1f}s over {n/1e6:.1f}M rows "
          f"({n/el/1e6:.1f}M rows/s) -> {c} pixels")

    boxes = [(1, 1, "africa", -20.0, -35.0, 52.0, 38.0),
             (2, 1, "europe", -11.0, 35.0, 40.0, 71.0),
             (3, 1, "pacific", 140.0, -50.0, 180.0, 10.0)]
    rows = []
    for bid, level, name, w, s, e, nn in boxes:
        gj = ('{"type": "Polygon", "coordinates": [[[%f, %f], [%f, %f], '
              '[%f, %f], [%f, %f], [%f, %f]]]}' % (w, s, e, s, e, nn, w, nn, w, s))
        rows.append((bid, level, name, gj))
    boundaries = spark.createDataFrame(
        rows, "boundary_id long, level int, name string, geometry string")
    t0 = time.perf_counter()
    z = zonal.zonal_stats(grid, boundaries, keys=("variable", "time")).count()
    el = time.perf_counter() - t0
    print(f"zonal_stats(3 boundaries): {el:.1f}s over {n/1e6:.1f}M rows "
          f"({n/el/1e6:.1f}M rows/s) -> {z} stat rows")

    t0 = time.perf_counter()
    r = temporal.resample(grid, "month").count()
    el = time.perf_counter() - t0
    print(f"resample(month): {el:.1f}s ({n/el/1e6:.1f}M rows/s) -> {r} rows")

    t0 = time.perf_counter()
    zr = zonal.zonal_rollup(grid, boundaries, keys=("variable",)).count()
    el = time.perf_counter() - t0
    print(f"zonal_rollup(GROUPING SETS, 3 boundaries + levels): {el:.1f}s "
          f"({n/el/1e6:.1f}M rows/s) -> {zr} rows")

    # bilinear 2x downsample of one timestep: 25.9M -> 6.5M target pixels,
    # broadcast 4-neighbour weighted join
    one = grid.where(F.col("time") == F.lit("2020-01-01").cast("timestamp"))
    t0 = time.perf_counter()
    b = regrid.regrid_bilinear(
        one, src=(LAT0, LON0, RES), dst=(LAT0, LON0, RES * 2),
        dst_shape=(H // 2, W // 2), src_shape=(H, W)).count()
    el = time.perf_counter() - t0
    n1 = W * H
    print(f"regrid_bilinear(2x down, 1 step): {el:.1f}s "
          f"({n1/el/1e6:.1f}M src rows/s) -> {b} rows")


if __name__ == "__main__":
    main()
