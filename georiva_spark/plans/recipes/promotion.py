"""Promotion recipe: 1:1 staging item → published item
(reference: processing/recipes/promotion.py:27-92).

The transform passes the grid through (optionally dropping all-nodata
pixels, promotion.py:27-38); the point of the recipe is the ledger
semantics — each arriving staging item maps to exactly one unit (T2 1:1
case, promotion.py:76-92).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from georiva_spark.plans.recipe import (
    CatalogContext, OutputItem, ProductionUnit, ResolvedInput,
)


class PromotionRecipe:
    recipe_id = "promotion"
    version = "1"

    def __init__(self, source_collection: str, target_collection: str,
                 drop_nodata: bool = False):
        self.source_collection = source_collection
        self.target_collection = target_collection
        self.drop_nodata = drop_nodata

    def enumerate_units(self, ctx: CatalogContext) -> list[ProductionUnit]:
        return [{"source_item_id": it["item_id"]}
                for it in ctx.find(collection=self.source_collection,
                                   tier="staging")]

    def candidate_units(self, trigger, ctx: CatalogContext) -> list[ProductionUnit]:
        it = trigger.item
        if (trigger.kind == "staging_item" and it is not None
                and it.get("collection") == self.source_collection):
            return [{"source_item_id": it["item_id"]}]
        return []

    def resolve_inputs(self, unit: ProductionUnit,
                       ctx: CatalogContext) -> list[ResolvedInput]:
        matches = ctx.find(item_id=unit["source_item_id"])
        if not matches:
            return [ResolvedInput(role="source", tier="staging",
                                  item_id=None, checksum="", required=True)]
        it = matches[0]
        return [ResolvedInput(role="source", tier=it.get("tier", "staging"),
                              item_id=it["item_id"], checksum=it["checksum"],
                              load=ctx.loader_for(it), time=it.get("time"))]

    def transform(self, spark: SparkSession, unit: ProductionUnit,
                  resolved: list[ResolvedInput]) -> tuple[OutputItem, DataFrame]:
        src = resolved[0]
        df = src.load() if src.load is not None else None
        if df is not None:
            df = df.withColumn("collection", F.lit(self.target_collection))
            if self.drop_nodata:
                df = df.where(F.col("value").isNotNull())
        # the promoted item keeps the source item's timestep (no job)
        return (OutputItem(collection=self.target_collection, variable="value",
                           time=src.time,
                           properties={"promoted_from": str(unit["source_item_id"])}),
                df)
