"""Climatology recipe family (reference: processing/recipes/climatology.py):
units = periods × seasons × quantities over a source series collection;
quantity ∈ {value, anomaly, relative_anomaly, trend}; the transform
season-filters the series and derives every quantity of a (period,
season) from one per-pixel aggregate of per-year partials
(climatology.py:131-162), which the units of a level share.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from georiva_spark.functions.scalars import safe_divide
from georiva_spark.operators import filters, temporal
from georiva_spark.plans.recipe import (
    CatalogContext, OutputItem, ProductionUnit, ResolvedInput,
)

QUANTITIES = ("value", "anomaly", "relative_anomaly", "trend")


class ClimatologyRecipe:
    recipe_id = "climatology"
    version = "1"

    def __init__(self, source_collection: str, target_collection: str,
                 periods: list[tuple[int, int]],
                 seasons: list[str] = ("annual",),
                 quantities: list[str] = ("value",),
                 baseline: tuple[int, int] | None = None):
        for q in quantities:
            if q not in QUANTITIES:
                raise ValueError(f"unknown quantity {q!r}")
        self.source_collection = source_collection
        self.target_collection = target_collection
        self.periods = [tuple(p) for p in periods]
        self.seasons = list(seasons)
        self.quantities = list(quantities)
        self.baseline = tuple(baseline) if baseline else None
        # (key, frame) of the last aggregate built; see _aggregate
        self._shared: tuple | None = None

    # ---- unit enumeration (periods × seasons × quantities) ----------------
    def enumerate_units(self, ctx: CatalogContext) -> list[ProductionUnit]:
        return [{"period": list(p), "season": s, "quantity": q}
                for p in self.periods for s in self.seasons
                for q in self.quantities]

    def candidate_units(self, trigger, ctx: CatalogContext) -> list[ProductionUnit]:
        """A new source timestep affects every unit whose period covers its
        year (event→unit routing, T2)."""
        it = trigger.item
        if (trigger.kind != "staging_item" or it is None
                or it.get("collection") != self.source_collection):
            return []
        year = it["time"].year
        needs_baseline = {"anomaly", "relative_anomaly"}
        out = []
        for unit in self.enumerate_units(ctx):
            a, b = unit["period"]
            covered = a <= year <= b
            if not covered and self.baseline and unit["quantity"] in needs_baseline:
                covered = self.baseline[0] <= year <= self.baseline[1]
            if covered:
                out.append(unit)
        return out

    # ---- input resolution -------------------------------------------------
    def _series_items(self, ctx: CatalogContext,
                      years: tuple[int, int]) -> list[dict]:
        return [it for it in ctx.find(collection=self.source_collection,
                                      tier="staging")
                if years[0] <= it["time"].year <= years[1]]

    def resolve_inputs(self, unit: ProductionUnit,
                       ctx: CatalogContext) -> list[ResolvedInput]:
        period = tuple(unit["period"])
        out: list[ResolvedInput] = []
        series = self._series_items(ctx, period)
        if not series:
            out.append(ResolvedInput(role="series", tier="staging",
                                     item_id=None, checksum="", required=True))
        for it in series:
            out.append(ResolvedInput(role="series", tier="staging",
                                     item_id=it["item_id"],
                                     checksum=it["checksum"],
                                     load=ctx.loader_for(it)))
        if unit["quantity"] in ("anomaly", "relative_anomaly"):
            if self.baseline is None:
                out.append(ResolvedInput(role="baseline", tier="staging",
                                         item_id=None, checksum="",
                                         required=True))
            else:
                base = self._series_items(ctx, self.baseline)
                if not base:
                    out.append(ResolvedInput(role="baseline", tier="staging",
                                             item_id=None, checksum="",
                                             required=True))
                for it in base:
                    out.append(ResolvedInput(role="baseline", tier="staging",
                                             item_id=it["item_id"],
                                             checksum=it["checksum"],
                                             load=ctx.loader_for(it)))
        return out

    # ---- pure compute ------------------------------------------------------
    def _aggregate(self, spark: SparkSession, season: str,
                   period: tuple[int, int],
                   resolved: list[ResolvedInput]) -> DataFrame:
        """Every quantity of a (period, season) from one per-pixel
        aggregate, so value, anomaly and trend scan the series once
        (Raptor's one scan per pixel).

        The union of the unit's inputs is season-filtered and reduced to
        a (pixel, year) partial of Σvalue and count(value); one groupBy
        over the pixel then sums the period's and the baseline's years
        with conditional sums and fits the slope of the period's yearly
        means (numpy ``polyfit(deg=1)`` == covar_pop/var_pop). Years are
        selected inside that groupBy, never by a filter on the series:
        Catalyst would push such a filter below the partial and give each
        quantity its own scan. A pixel gets a row only if it has a
        pixel-year in the period (the period's summed count is then not
        null), and every ratio goes through ``safe_divide``: an all-null
        pixel-year has count 0.

        The last aggregate built stays in one slot, keyed by the session,
        the season, the period, the baseline and the (item_id, checksum)
        of every input. A level's units are transformed in
        ``enumerate_units`` order, quantities innermost, before the level
        is written once, so its units share one subtree and Spark reuses
        the partial's exchange across them. The slot holds a lazy plan
        whose file listings were taken when it was built; it cannot serve
        a stale listing, because a reused key means every input item has
        the checksum it had then, and a re-landed or changed item changes
        its checksum and so misses the slot."""
        inputs = sorted({r.item_id: r for r in resolved
                         if r.load is not None}.values(),
                        key=lambda r: r.item_id)
        key = (spark, season, period, self.baseline,
               tuple((r.item_id, r.checksum) for r in inputs))
        if self._shared is not None and self._shared[0] == key:
            return self._shared[1]
        series = filters.season_filter(
            reduce(DataFrame.unionByName, (r.load() for r in inputs)),
            season)
        yearly = (series.groupBy(*temporal.PIXEL_KEY,
                                 F.year("time").alias("yr"))
                  .agg(F.sum("value").alias("s"),
                       F.count("value").alias("n")))

        def mean(years: tuple[int, int] | None) -> Column:
            if years is None:
                return F.lit(None).cast("double")
            inside = F.col("yr").between(*years)
            return safe_divide(F.sum(F.when(inside, F.col("s"))),
                               F.sum(F.when(inside, F.col("n"))))

        in_period = F.col("yr").between(*period)
        year = F.when(in_period, F.col("yr"))
        diff = F.col("value") - F.col("_base")
        agg = (yearly.groupBy(*temporal.PIXEL_KEY)
               .agg(F.sum(F.when(in_period, F.col("n"))).alias("_n"),
                    mean(period).alias("value"),
                    mean(self.baseline).alias("_base"),
                    safe_divide(
                        F.covar_pop(year, F.when(
                            in_period, safe_divide(F.col("s"), F.col("n")))),
                        F.var_pop(year)).alias("trend"))
               .where(F.col("_n").isNotNull())
               .select(*temporal.PIXEL_KEY, "value", diff.alias("anomaly"),
                       safe_divide(diff, F.col("_base"))
                       .alias("relative_anomaly"), "trend"))
        self._shared = (key, agg)
        return agg

    def transform(self, spark: SparkSession, unit: ProductionUnit,
                  resolved: list[ResolvedInput]) -> tuple[OutputItem, DataFrame]:
        period = tuple(unit["period"])
        season, quantity = unit["season"], unit["quantity"]
        out = (self._aggregate(spark, season, period, resolved)
               .select(*temporal.PIXEL_KEY, F.col(quantity).alias("value"))
               .withColumn("collection", F.lit(self.target_collection)))
        item_time = dt.datetime(period[0], 1, 1)
        return (OutputItem(
            collection=self.target_collection, variable=quantity,
            time=item_time,
            properties={"season": season, "period": f"{period[0]}-{period[1]}",
                        "quantity": quantity}), out)
