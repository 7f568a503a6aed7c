"""Shared materialization seam: "grid in, served catalog out".

Mirrors ``ingestion/materialization.py`` (AssetMaterializer): both
pipelines that publish raster data — file ingestion AND the derivation
engine — end at the same sequence, so derived items can never drift from
ingested ones (the drift is what left the reference's derived collections
extent-less before the shared step existed):

    mask → stats → idempotent grid write → item upsert → extent expand

Long-format divergences from the reference's array world:
- "Apply the geometry mask with nodata=NaN" becomes *dropping* rows whose
  pixel center falls outside the boundary — in the long format nodata
  rows are simply absent (P11 valid-pixel semantics), and every
  downstream agg is count-based, so absence ≡ NaN.
- "Write COG + JSON sidecar" becomes the idempotent dynamic
  partition-overwrite into the grid table (``overwrite_slice``) — the
  run-lock analog: re-materializing the same slice from the same inputs
  rewrites the same partitions byte-stably and touches nothing else.
- "Upsert Asset rows / expand Collection extent" become keyed upserts
  into the items / collections catalog tables. Stats ride on the item
  row (the styling/catalog honesty contract: what the catalog shows is
  computed from what was written, in the same pass).
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from georiva_spark.operators.stats import collection_extent, global_stats
from georiva_spark.operators.zonal import tag_pixels
from georiva_spark.sources.catalog_store import upsert_by_key
from georiva_spark.sources.grid_store import overwrite_slice

ITEM_KEYS = ("collection", "variable", "time")


def materialize(grid: DataFrame, *,
                grid_path: Optional[str] = None,
                catalog_dir: Optional[str] = None,
                boundary_geojson: Optional[str] = None,
                checksum: str = "",
                item_keys: Sequence[str] = ITEM_KEYS) -> dict:
    """Run the shared materialization sequence for one grid batch.

    Returns {"grid", "items", "extent"} DataFrames; when ``grid_path`` /
    ``catalog_dir`` are given, also persists (grid partitions
    overwritten idempotently; items/collections upserted by key).
    """
    if boundary_geojson is not None:
        # one boundary tags a pixel at most once, so the tagged rows are
        # exactly the grid's rows inside it
        grid = tag_pixels(grid, [(1, 0, "mask", boundary_geojson)]).drop(
            "boundary_id", "level", "name")

    stats = global_stats(grid, keys=item_keys)
    items = (grid.groupBy(*item_keys)
             .agg(F.count(F.lit(1)).alias("n_pixels"),
                  (F.max("y") + 1).cast("int").alias("height"),
                  (F.max("x") + 1).cast("int").alias("width"),
                  F.min("lon").alias("west"), F.max("lon").alias("east"),
                  F.min("lat").alias("south"), F.max("lat").alias("north"))
             .join(stats, on=list(item_keys))
             .withColumn("checksum", F.lit(checksum)))
    extent = collection_extent(grid)

    if grid_path is not None:
        overwrite_slice(grid, grid_path)
    if catalog_dir is not None:
        upsert_by_key(items, os.path.join(catalog_dir, "items"),
                      keys=list(item_keys), partition_by=["collection"])
        coll_path = os.path.join(catalog_dir, "collections")
        merged = extent
        if os.path.exists(coll_path):
            # EXPAND, never replace (extent_handler.expand): a batch that
            # covers one day of one tile must not shrink the stored extent
            current = grid.sparkSession.read.parquet(coll_path)
            merged = (current.unionByName(extent)
                      .groupBy("collection")
                      .agg(F.min("time_min").alias("time_min"),
                           F.max("time_max").alias("time_max"),
                           F.min("west").alias("west"),
                           F.max("east").alias("east"),
                           F.min("south").alias("south"),
                           F.max("north").alias("north")))
        upsert_by_key(merged, coll_path, keys=["collection"])
    return {"grid": grid, "items": items, "extent": extent}


def rematerialize_derived(spark, grid_path: str, catalog: "list[dict]", *,
                          catalog_dir: Optional[str] = None,
                          dry_run: bool = False) -> dict:
    """Replay the shared materialization over existing DERIVED items —
    the backfill for pre-materializer history
    (``rematerialize_derived_assets`` management command,
    processing/tests/test_rematerialize.py). An item is derived iff its
    properties carry a ``derivation`` marker; plain ingested items are
    left alone. ``dry_run`` reports the work list and writes nothing.

    Scale shape: one pruned read per derived (collection, variable, time)
    slice; the rewrite is the same idempotent partition overwrite as the
    live path, so a backfill interrupted halfway is simply rerun."""
    from georiva_spark.sources.grid_store import read_grid

    derived = [it for it in catalog
               if any(str(k).startswith("derivation")
                      for k in (it.get("properties") or {}))]
    done = []
    for it in derived:
        if dry_run:
            done.append({**it, "action": "would_rematerialize"})
            continue
        sl = (read_grid(spark, grid_path,
                        collection=it["collection"],
                        variable=it.get("variable"))
              .where(F.col("time") == F.lit(it["time"])))
        if sl.limit(1).count() == 0:
            done.append({**it, "action": "skipped_no_rows"})
            continue
        # cut lineage from the source files: the rewrite targets the SAME
        # partitions the slice was read from — without materializing first,
        # the dynamic overwrite deletes its own input mid-job
        sl = sl.localCheckpoint(eager=True)
        materialize(sl, grid_path=grid_path, catalog_dir=catalog_dir,
                    checksum=it.get("checksum", ""))
        done.append({**it, "action": "rematerialized"})
    return {"selected": len(derived), "results": done}
