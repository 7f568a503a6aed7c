"""Derivation-engine behaviour tests — mirrors the reference's
processing/tests/test_engine.py / test_invocation.py scenarios:
idempotency skip, hash-change recompute, readiness park + resurrection,
origin stamping, lineage writes, transitive invalidation, reclaim."""

import datetime as dt
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from georiva_spark.plans import (
    CatalogContext, DerivationEngine, RecipeRegistry, Trigger,
)
from georiva_spark.plans.recipes import ClimatologyRecipe, PromotionRecipe
from georiva_spark.testing import grid_from_arrays, month_starts


def _staging_catalog(spark, n_months=24, collection="src", start_year=2020,
                     grids=None):
    """One staging item per monthly slice; constant value = year index + 1.
    ``grids`` (item id → grid), when given, is filled and stays the
    loader's source, so a test can re-land a slice."""
    times = month_starts(dt.datetime(start_year, 1, 1), n_months)
    items = []
    grids = {} if grids is None else grids
    for i, t in enumerate(times):
        val = float(t.year - start_year + 1)
        items.append({"item_id": i + 1, "collection": collection,
                      "variable": "v", "time": t, "tier": "staging",
                      "checksum": f"sha-{i}-{val}"})
        grids[i + 1] = grid_from_arrays(spark, np.full((2, 2), val), [t],
                                        collection=collection)
    return CatalogContext(spark, items,
                          grid_loader=lambda it: grids.get(it["item_id"]))


@pytest.fixture()
def clim_engine(spark):
    ctx = _staging_catalog(spark, 24)
    reg = RecipeRegistry()
    reg.register(ClimatologyRecipe(
        "src", "clim", periods=[(2020, 2021)], seasons=["annual", "JJA"],
        quantities=["value", "anomaly"], baseline=(2020, 2020)))
    return DerivationEngine(spark, reg, ctx)


def test_unit_enumeration_and_completion(spark, clim_engine):
    recs = clim_engine.run_all(origin="backfill")
    # 1 period × 2 seasons × 2 quantities = 4 units
    assert len(recs) == 4
    assert all(r.status == "completed" for r in recs)
    assert all(r.origin == "backfill" for r in recs)
    # derived items registered as published tier
    derived = [i for i in clim_engine.catalog.items if i["tier"] == "published"]
    assert len(derived) == 4


def test_idempotency_skip_and_hash_recompute(spark, clim_engine):
    first = clim_engine.run_all()
    assert {r.status for r in first} == {"completed"}
    again = clim_engine.run_all()
    assert {r.status for r in again} == {"skipped"}
    assert all(r.reason == "input_hash unchanged" for r in again)
    # item ids stable across re-runs (overwrite-in-place)
    assert {r.produced_item_id for r in again} == \
        {r.produced_item_id for r in first}
    # change one source checksum → only sweep_stale recomputes
    clim_engine.catalog.items[0]["checksum"] = "sha-CHANGED"
    redone = clim_engine.sweep_stale()
    assert len(redone) == 4 and {r.status for r in redone} == {"completed"}
    assert all(r.origin == "stale-sweep" for r in redone)


def test_repeat_triggers_stay_skipped(spark, clim_engine):
    """A skipped record is as authoritative as a completed one: the
    third (and every later) identical run must keep skipping, never
    silently re-run the transform (round-2 review finding)."""
    first = clim_engine.run_all()
    items_after = len(clim_engine.catalog.items)
    for _ in range(3):
        again = clim_engine.run_all()
        assert {r.status for r in again} == {"skipped"}
    assert len(clim_engine.catalog.items) == items_after
    assert {r.produced_item_id for r in again} == \
        {r.produced_item_id for r in first}


def test_stale_units_df_matches_driver_hash(spark, clim_engine):
    """The distributed stale scan must agree with the driver-side
    input_hash: clean ledger → empty; one mutated source checksum →
    exactly the affected units, with the Spark-computed hash equal to
    what the python recompute produces."""
    from georiva_spark.plans.recipe import input_hash

    clim_engine.run_all()
    assert clim_engine.stale_units_df().count() == 0
    clim_engine.catalog.items[0]["checksum"] = "sha-CHANGED"
    stale = clim_engine.stale_units_df().collect()
    assert len(stale) == 4   # every unit consumes the mutated month
    # Spark-side sha256 equals the canonical-JSON driver hash
    from georiva_spark.plans.engine import _dedup_checksums
    recipe = clim_engine.registry.get("climatology")
    import json as _json
    for row in stale:
        unit = _json.loads(row.unit_key)
        resolved = recipe.resolve_inputs(unit, clim_engine.catalog)
        want = input_hash(_dedup_checksums(resolved), recipe.version)
        assert row.current_input_hash == want
        assert row.recorded_input_hash != want
    # the driver executor then recomputes exactly that work list
    redone = clim_engine.sweep_stale()
    assert len(redone) == 4
    assert clim_engine.stale_units_df().count() == 0


def test_anomaly_values_from_transform(spark, clim_engine):
    clim_engine.run_all()
    # anomaly vs 2020 baseline: mean over 2020-2021 = 1.5, baseline = 1.0
    import json
    recs = [r for r in clim_engine.runs.values()
            if json.loads(r.unit_key)["quantity"] == "anomaly"
            and json.loads(r.unit_key)["season"] == "annual"]
    assert len(recs) == 1
    # lineage: anomaly unit consumed both series (24) and baseline (12,
    # dedup'd to 24 distinct source items since baseline ⊂ series)
    edges = [e for e in clim_engine.lineage
             if e.derived_item_id == recs[0].produced_item_id]
    assert len(edges) == 24


def test_readiness_park_and_resurrection(spark):
    ctx = CatalogContext(spark, [], grid_loader=None)
    reg = RecipeRegistry()
    reg.register(ClimatologyRecipe("src", "clim", periods=[(2020, 2021)],
                                   quantities=["value"]))
    eng = DerivationEngine(spark, reg, ctx)
    recs = eng.run_all()
    assert {r.status for r in recs} == {"not_ready"}
    assert "missing inputs" in recs[0].reason
    # inputs arrive → resurrection sweep completes the parked unit (T4)
    full = _staging_catalog(spark, 24)
    eng.catalog.items = full.items
    eng.catalog._grid_loader = full._grid_loader
    revived = eng.sweep_not_ready()
    assert {r.status for r in revived} == {"completed"}
    assert all(r.origin == "resurrection" for r in revived)


def test_trigger_routing_promotion(spark):
    ctx = _staging_catalog(spark, 3)
    reg = RecipeRegistry()
    reg.register(PromotionRecipe("src", "pub"))
    eng = DerivationEngine(spark, reg, ctx)
    # one trigger → exactly one unit (1:1 promotion)
    recs = eng.dispatch_for_trigger(
        Trigger(kind="staging_item", item=ctx.items[0]), origin="event")
    assert len(recs) == 1 and recs[0].status == "completed"
    assert recs[0].origin == "event"
    # unrelated collection → no units
    other = {"item_id": 999, "collection": "other", "time": dt.datetime(2020, 1, 1),
             "tier": "staging", "checksum": "x"}
    assert eng.dispatch_for_trigger(Trigger(kind="staging_item", item=other)) == []


def test_promotion_takes_the_staging_items_time_without_a_job(spark):
    """The promoted item keeps its staging item's time, read from the
    resolved input — ``transform`` submits no Spark job for it."""
    ctx = _staging_catalog(spark, 3)
    recipe = PromotionRecipe("src", "pub")
    staged = ctx.items[1]
    unit, = recipe.candidate_units(Trigger("staging_item", staged), ctx)
    resolved = recipe.resolve_inputs(unit, ctx)
    assert resolved[0].time == staged["time"]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("promotion-transform", "promotion transform")
    try:
        out, df = recipe.transform(spark, unit, resolved)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("promotion-transform") == []
    assert out.time == staged["time"]
    assert df.select(F.min("time")).head()[0] == staged["time"]


def test_trigger_routing_climatology_by_year(spark, clim_engine):
    # item in 2020 (covered) routes to all 4 units; item in 2030 → none
    it2020 = clim_engine.catalog.items[0]
    recs = clim_engine.dispatch_for_trigger(Trigger("staging_item", it2020))
    assert len(recs) == 4
    far = dict(it2020, time=dt.datetime(2030, 1, 1))
    assert clim_engine.dispatch_for_trigger(Trigger("staging_item", far)) == []


def test_invalidate_downstream_transitive(spark):
    ctx = _staging_catalog(spark, 12)
    reg = RecipeRegistry()
    reg.register(PromotionRecipe("src", "pub"))
    eng = DerivationEngine(spark, reg, ctx)
    rec = eng.dispatch_for_trigger(Trigger("staging_item", ctx.items[0]))[0]
    promoted = rec.produced_item_id
    # chain: promoted item feeds a second-level recipe
    reg2 = RecipeRegistry()
    reg2.register(PromotionRecipe("pub", "pub2"))
    eng.registry = reg2
    pub_item = [i for i in ctx.items if i["item_id"] == promoted][0]
    rec2 = eng.dispatch_for_trigger(Trigger("staging_item",
                                            dict(pub_item, tier="staging")))[0]
    # invalidation from the original staging item reaches both levels (T5)
    affected = eng.invalidate_downstream([ctx.items[0]["item_id"]])
    assert promoted in affected and rec2.produced_item_id in affected


def test_reclaim_stale_running(spark):
    ctx = _staging_catalog(spark, 3)
    reg = RecipeRegistry()
    reg.register(PromotionRecipe("src", "pub"))
    now = [dt.datetime(2020, 1, 1, 0, 0)]
    eng = DerivationEngine(spark, reg, ctx, now_fn=lambda: now[0])
    from georiva_spark.plans.engine import RunRecord
    eng.runs["stuck"] = RunRecord("promotion", "1", "{}", "stuck",
                                  "running", updated_at=now[0])
    now[0] = dt.datetime(2020, 1, 1, 1, 0)   # 1h later > 30min timeout
    assert eng.reclaim_stale_running() == 1
    assert eng.runs["stuck"].status == "pending"


def test_status_rollup_over_runs_df(spark, clim_engine):
    clim_engine.run_all()
    clim_engine.run_all()
    from georiva_spark.operators.stats import status_rollup
    got = {r.status: r.n for r in status_rollup(clim_engine.runs_df()).collect()}
    assert got == {"skipped": 4}  # ledger keeps latest run per unit


def test_time_limit_ladder_and_soft_limit_path(spark):
    """test_task_time_limits.py invariant: soft < hard < lock timeout, and
    the graceful soft-limit path marks the unit failed (retryable) with
    the lock freed immediately."""
    from georiva_spark.plans.engine import (
        RUN_UNIT_HARD_TIME_LIMIT, RUN_UNIT_SOFT_TIME_LIMIT, RUNNING_TIMEOUT,
        UnitSoftTimeLimit, check_time_budget,
    )

    assert RUN_UNIT_SOFT_TIME_LIMIT < RUN_UNIT_HARD_TIME_LIMIT
    assert RUN_UNIT_HARD_TIME_LIMIT < RUNNING_TIMEOUT

    t0 = dt.datetime(2020, 1, 1)
    check_time_budget(t0, now=t0 + dt.timedelta(minutes=24))  # under budget
    with pytest.raises(UnitSoftTimeLimit):
        check_time_budget(t0, now=t0 + dt.timedelta(minutes=26))

    # a recipe that blows its soft budget fails gracefully and is
    # immediately re-runnable (lock freed now, not at the reclaim sweep)
    ctx = _staging_catalog(spark, 2)
    reg = RecipeRegistry()
    slow = PromotionRecipe("src", "pub")
    orig_transform = slow.transform
    calls = {"n": 0}

    def timed_transform(s, unit, resolved):
        calls["n"] += 1
        if calls["n"] <= 2:  # first pass over both units: out of budget
            check_time_budget(t0, now=t0 + dt.timedelta(minutes=26))
        return orig_transform(s, unit, resolved)

    slow.transform = timed_transform
    reg.register(slow)
    eng = DerivationEngine(spark, reg, ctx)
    first = eng.run_all()
    assert {r.status for r in first} == {"failed"}
    assert all("soft time limit" in r.reason for r in first)
    second = eng.run_all()  # no reclaim needed — lock already free
    assert {r.status for r in second} == {"completed"}


def test_table_primary_ledger_end_to_end(spark, tmp_path):
    """With ledger_dir set, the parquet table is the store of record:
    the dict stays bounded (cache_cap), idempotency lookups fall back to
    pruned table probes, and a fresh engine on the same dir skips all
    work without ever collecting the ledger."""
    ctx = _staging_catalog(spark, 6)
    reg = RecipeRegistry()
    reg.register(PromotionRecipe("src", "pub"))
    led = str(tmp_path / "led")
    eng = DerivationEngine(spark, reg, ctx, ledger_dir=led, cache_cap=2)
    recs = eng.run_all()
    assert {r.status for r in recs} == {"completed"}
    assert len(eng.runs) <= 2              # bounded working set
    assert eng.runs_df().count() == 6      # table holds everything
    again = eng.run_all()                  # probes the table on cache miss
    assert {r.status for r in again} == {"skipped"}
    assert {r.produced_item_id for r in again} == \
        {r.produced_item_id for r in recs}

    eng2 = DerivationEngine(spark, reg, ctx, ledger_dir=led)
    assert eng2.runs == {}                 # nothing collected on attach
    third = eng2.run_all()
    assert {r.status for r in third} == {"skipped"}


def test_table_ledger_distributed_stale_sweep(spark, tmp_path):
    """Ledger mode routes sweep_stale through the distributed
    stale_units_df planner over the parquet tables."""
    ctx = _staging_catalog(spark, 24)
    reg = RecipeRegistry()
    reg.register(ClimatologyRecipe(
        "src", "clim", periods=[(2020, 2021)], seasons=["annual", "JJA"],
        quantities=["value", "anomaly"], baseline=(2020, 2020)))
    eng = DerivationEngine(spark, reg, ctx,
                           ledger_dir=str(tmp_path / "led"))
    eng.run_all()
    assert eng.stale_units_df().count() == 0
    ctx.items[0]["checksum"] = "sha-CHANGED"
    redone = eng.sweep_stale()
    assert len(redone) == 4 and {r.status for r in redone} == {"completed"}
    assert all(r.origin == "stale-sweep" for r in redone)
    assert eng.stale_units_df().count() == 0


def test_table_ledger_reclaim_and_resurrection(spark, tmp_path):
    """T6/T4 over the table: a running row older than the lock timeout is
    reclaimed via a table filter and the pending event lands in the
    ledger; parked units resurrect from the table too."""
    ctx = CatalogContext(spark, [], grid_loader=None)
    reg = RecipeRegistry()
    reg.register(PromotionRecipe("src", "pub"))
    now = [dt.datetime(2020, 1, 1, 0, 0)]
    eng = DerivationEngine(spark, reg, ctx, now_fn=lambda: now[0],
                           ledger_dir=str(tmp_path / "led"))
    from georiva_spark.plans.engine import RunRecord
    stuck = RunRecord("promotion", "1", "{}", "stuck", "running",
                      updated_at=now[0])
    eng._put_run(stuck)
    eng._append_run(stuck)
    eng.runs.clear()                        # force the table path
    now[0] = dt.datetime(2020, 1, 1, 1, 0)  # 1h later > 30min timeout
    assert eng.reclaim_stale_running() == 1
    latest = {r.unit_hash: r.status for r in eng.runs_df().collect()}
    assert latest["stuck"] == "pending"


def test_table_ledger_invalidate_downstream(spark, tmp_path):
    """Transitive invalidation walks the lineage TABLE per round in
    ledger mode (frontier semi-joins, no wholesale edge collect)."""
    ctx = _staging_catalog(spark, 12)
    reg = RecipeRegistry()
    reg.register(PromotionRecipe("src", "pub"))
    eng = DerivationEngine(spark, reg, ctx,
                           ledger_dir=str(tmp_path / "led"))
    rec = eng.dispatch_for_trigger(Trigger("staging_item", ctx.items[0]))[0]
    promoted = rec.produced_item_id
    reg2 = RecipeRegistry()
    reg2.register(PromotionRecipe("pub", "pub2"))
    eng.registry = reg2
    pub_item = [i for i in ctx.items if i["item_id"] == promoted][0]
    rec2 = eng.dispatch_for_trigger(
        Trigger("staging_item", dict(pub_item, tier="staging")))[0]
    eng.lineage.clear()                     # force the table path
    affected = eng.invalidate_downstream([ctx.items[0]["item_id"]])
    assert promoted in affected and rec2.produced_item_id in affected


def test_ledger_compaction_preserves_views_and_recovery(spark, tmp_path):
    """T7 compaction: the event files fold into a latest-state snapshot
    — runs_df/lineage_df identical before and after, superseded event
    files gone, and a fresh engine attaching the compacted dir recovers
    seq/item-id scalars and still skips completed work."""
    import os as _os
    ctx = _staging_catalog(spark, 6)
    reg = RecipeRegistry()
    reg.register(PromotionRecipe("src", "pub"))
    led = str(tmp_path / "led")
    eng = DerivationEngine(spark, reg, ctx, ledger_dir=led, cache_cap=2)
    eng.run_all()
    # force extra transitions so units hold multiple events
    ctx.items[0]["checksum"] = "sha-CHANGED"
    eng.sweep_stale()
    runs_dir = _os.path.join(led, "runs")
    n_before = len([f for f in _os.listdir(runs_dir)
                    if f.endswith(".parquet")])
    assert n_before > 6                       # events, not state
    before_runs = sorted(map(tuple, eng.runs_df().collect()))
    before_lin = sorted(map(tuple, eng.lineage_df().collect()))
    seq_before = eng._seq
    out = eng.compact_ledger()
    assert out["files_removed"] > 0
    n_after = len([f for f in _os.listdir(runs_dir)
                   if f.endswith(".parquet")])
    assert n_after < n_before
    assert sorted(map(tuple, eng.runs_df().collect())) == before_runs
    assert sorted(map(tuple, eng.lineage_df().collect())) == before_lin
    # recovery from the compacted table
    eng2 = DerivationEngine(spark, reg, ctx, ledger_dir=led)
    assert eng2._seq == seq_before
    third = eng2.run_all()
    assert {r.status for r in third} == {"skipped"}
    # sweep() auto-compacts only past the file threshold
    eng2.compact_threshold_files = 0
    res = eng2.sweep()
    assert "compacted_files" in res


def test_compaction_preserves_item_id_high_water_mark(spark, tmp_path):
    """A re-triggered unit's latest event carries produced_item_id=None;
    compaction drops its completed event — the sidecar must still let a
    restarted engine recover the historical max item id, or it would
    re-issue ids colliding with live catalog items."""
    import json as _json
    import os as _os
    ctx = _staging_catalog(spark, 3)
    reg = RecipeRegistry()
    reg.register(PromotionRecipe("src", "pub"))
    led = str(tmp_path / "led")
    eng = DerivationEngine(spark, reg, ctx, ledger_dir=led)
    recs = eng.run_all()
    max_item = max(r.produced_item_id for r in recs)
    # append a superseding event WITHOUT a produced item (as a failed
    # retry would), for the unit that produced the max id
    victim = [r for r in recs if r.produced_item_id == max_item][0]
    seq = eng._seq
    eng._seq += 1
    eng._write_event_file(
        f"{led}/runs",
        [(victim.recipe_id, victim.recipe_version, victim.unit_key,
          victim.unit_hash, "not_ready", victim.input_hash, "retrigger",
          None, None, victim.updated_at, 0, seq)],
        eng._runs_pa_schema(), seq)
    eng.compact_ledger()
    meta = _json.load(open(_os.path.join(led, "_compact_meta.json")))
    assert meta["max_item_id"] >= max_item
    eng2 = DerivationEngine(spark, reg, ctx, ledger_dir=led)
    assert eng2._next_item_id > max_item


class _AboveHalfRecipe(PromotionRecipe):
    """Test-local: promotes the first staging item's pixels whose value
    is above 0.5, so re-landing that item at 0 derives an EMPTY
    output."""
    recipe_id = "above_half"

    def enumerate_units(self, ctx):
        return super().enumerate_units(ctx)[:1]

    def transform(self, spark, unit, resolved):
        item, df = super().transform(spark, unit, resolved)
        return item, df.where(F.col("value") > 0.5)


@pytest.fixture(scope="module")
def level_run(spark, tmp_path_factory):
    """ONE engine writing unit outputs to a real output_dir: a
    climatology level of three units (value/anomaly/trend — one output
    schema) and a one-unit ``above_half`` level, run under a job group.
    Returns (engine, the loader's grids, run records, the jobs that
    started during the run: grouped and ungrouped)."""
    grids: dict = {}
    ctx = _staging_catalog(spark, 24, grids=grids)
    reg = RecipeRegistry()
    reg.register(ClimatologyRecipe(
        "src", "clim", periods=[(2020, 2021)],
        quantities=["value", "anomaly", "trend"], baseline=(2020, 2020)))
    reg.register(_AboveHalfRecipe("src", "above"))
    eng = DerivationEngine(spark, reg, ctx, output_dir=str(
        tmp_path_factory.mktemp("level_write")))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("engine-level-write", "engine level write")
    try:
        recs = eng.run_all()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = {"grouped": set(tracker.getJobIdsForGroup("engine-level-write")),
            "ungrouped": set(tracker.getJobIdsForGroup(None)) - ungrouped}
    return eng, grids, recs, jobs


def test_level_write_keeps_the_callers_job_group(level_run):
    """Every unit write runs on the caller's thread: no job started
    during a multi-unit level lacks the caller's job group (driver
    pool threads drop PySpark local properties)."""
    _, _, recs, jobs = level_run
    assert len(recs) == 4 and {r.status for r in recs} == {"completed"}
    assert jobs["grouped"]
    assert not jobs["ungrouped"], sorted(jobs["ungrouped"])


def test_level_write_partitions_equal_unit_transforms(spark, level_run):
    """Each unit's ``unit=<hash>`` read-back equals its transform's
    output: same columns, same rows."""
    eng, _, recs, _ = level_run
    for rec in recs:
        recipe = eng.registry.get(rec.recipe_id)
        unit = json.loads(rec.unit_key)
        _, want = recipe.transform(
            spark, unit, recipe.resolve_inputs(unit, eng.catalog))
        got = spark.read.parquet(
            os.path.join(eng.output_dir, f"unit={rec.unit_hash}"))
        assert got.columns == want.columns, rec.unit_key
        assert got.count() == want.count() > 0, rec.unit_key
        assert got.exceptAll(want).isEmpty(), rec.unit_key
        assert want.exceptAll(got).isEmpty(), rec.unit_key


def test_level_write_rederived_empty_output_reads_empty(spark,
                                                       level_run):
    """Dynamic partition overwrite replaces only the partitions that
    receive rows: a re-derived unit whose new output is EMPTY must read
    back as 0 rows with the unit's schema — not its old rows, and not
    a missing path."""
    from georiva_spark.testing import grid_from_arrays

    eng, grids, recs, _ = level_run
    above = next(r for r in recs if r.recipe_id == "above_half")
    path = os.path.join(eng.output_dir, f"unit={above.unit_hash}")
    old = spark.read.parquet(path)
    assert old.count() == 4
    item = eng.catalog.items[0]
    grids[item["item_id"]] = grid_from_arrays(
        spark, np.zeros((2, 2)), [item["time"]], collection="src")
    item["checksum"] = "sha-0-zeroed"
    redone = [r for r in eng.run_all() if r.recipe_id == "above_half"]
    assert [r.status for r in redone] == ["completed"]
    got = spark.read.parquet(path)
    assert got.count() == 0
    assert got.schema.simpleString() == old.schema.simpleString()


# ---- climatology recipe: one aggregate per (period, season) ---------------

def _yearly_catalog(spark, years, values, edit=None, loads=None):
    """One staging item per calendar year, each loading that year's 12
    monthly slices of ``values`` (months × H × W, NaN → null). ``edit``
    (year, frame) → frame post-processes a year's frame; ``loads``
    (a list), when given, records every loader call."""
    items, grids = [], {}
    for i, year in enumerate(years):
        times = month_starts(dt.datetime(year, 1, 1), 12)
        g = grid_from_arrays(spark, values[12 * i:12 * (i + 1)], times,
                             collection="src")
        grids[i + 1] = edit(year, g) if edit else g
        items.append({"item_id": i + 1, "collection": "src",
                      "variable": "v", "time": times[0], "tier": "staging",
                      "checksum": f"y{year}"})

    def load(it):
        if loads is not None:
            loads.append(it["item_id"])
        return grids[it["item_id"]]
    return CatalogContext(spark, items, grid_loader=load), grids


def _reference_quantity(recipe, unit, resolved):
    """The climatology composition the recipe replaced: per-role unions,
    each windowed to its years, reduced by the temporal operators and
    joined to the baseline."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from georiva_spark.operators import filters, temporal

    def role(name, years):
        return filters.year_window(reduce(DataFrame.unionByName, [
            r.load() for r in resolved if r.role == name and r.load]),
            *years)

    season, quantity = unit["season"], unit["quantity"]
    series = role("series", unit["period"])
    if quantity == "trend":
        out = temporal.trend(series, season=season)
    else:
        out = temporal.climatology(series, season=season)
        if quantity != "value":
            base = temporal.climatology(role("baseline", recipe.baseline),
                                        season=season)
            out = temporal.anomaly(
                out, base, relative=quantity == "relative_anomaly")
    return out.withColumn("collection", F.lit(recipe.target_collection))


def _same_value(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if np.isnan(a) or np.isnan(b):
        return bool(np.isnan(a) and np.isnan(b))
    return abs(a - b) <= 1e-12 * max(abs(a), abs(b), 1.0)


def test_climatology_quantities_equal_the_operator_composition(spark):
    """Every quantity of every (season, baseline) equals the composition
    of year_window / climatology / anomaly / trend the recipe replaced:
    same columns, same rows, nulls and NaNs in the same cells, values
    within 1e-12 relative. The fixture holds a NaN, a pixel-year that is
    all null (count 0), a zero baseline, a pixel missing in some years
    and a pixel that exists only outside the period."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from georiva_spark.plans.recipes.climatology import QUANTITIES

    years = range(2018, 2023)
    vals = np.random.default_rng(7).normal(10.0, 3.0, (60, 2, 3))
    vals[24:36, 0, 1] = np.nan        # (0, 1): all null through 2020
    vals[:48, 0, 2] = 0.0             # (0, 2): zero baseline everywhere

    def edit(year, g):
        nan_at = ((F.col("y") == 0) & (F.col("x") == 0)
                  & (F.month("time") == 7) & F.lit(year == 2021))
        g = g.withColumn("value", F.when(nan_at, F.lit(float("nan")))
                         .otherwise(F.col("value")))
        if year in (2018, 2021):      # (1, 0): missing in two years
            g = g.where(~((F.col("y") == 1) & (F.col("x") == 0)))
        if year != 2018:              # (1, 1): exists only in 2018
            g = g.where(~((F.col("y") == 1) & (F.col("x") == 1)))
        return g

    ctx, _ = _yearly_catalog(spark, years, vals, edit)
    got, want = [], []
    # baselines inside, outside and overlapping the period 2019-2022;
    # value and trend do not read the baseline and are checked once
    for i, baseline in enumerate(((2020, 2021), (2018, 2018), (2018, 2020))):
        recipe = ClimatologyRecipe(
            "src", "clim", periods=[(2019, 2022)],
            seasons=["annual", "JJA", "DJF"],
            quantities=list(QUANTITIES) if i == 0 else
            ["anomaly", "relative_anomaly"], baseline=baseline)
        for unit in recipe.enumerate_units(ctx):
            resolved = recipe.resolve_inputs(unit, ctx)
            _, out = recipe.transform(spark, unit, resolved)
            ref = _reference_quantity(recipe, unit, resolved)
            assert out.columns == ref.columns, unit
            tag = F.lit(json.dumps([baseline, unit]))
            got.append(out.withColumn("unit", tag))
            want.append(ref.withColumn("unit", tag))
    rows = {}
    for name, frames in (("got", got), ("want", want)):
        for r in reduce(DataFrame.unionByName, frames).collect():
            k = (r.unit, r.y, r.x)
            assert (name, k) not in rows, k
            rows[(name, k)] = r
    got_keys = {k for n, k in rows if n == "got"}
    assert got_keys == {k for n, k in rows if n == "want"}
    assert all(k[1:] != (1, 1) for k in got_keys)
    for k in got_keys:
        g, w = rows[("got", k)], rows[("want", k)]
        assert g.asDict() | {"value": 0} == w.asDict() | {"value": 0}
        assert _same_value(g.value, w.value), (k, g, w)
    # the cells the fixture aims at do occur
    cells = [rows[("got", k)].value for k in got_keys]
    assert any(v is None for v in cells)
    assert any(v is not None and np.isnan(v) for v in cells)


def test_climatology_shared_aggregate_slot(spark, tmp_path):
    """The recipe keeps one aggregate and shares it across a (period,
    season)'s quantities: each (period, season) loads its inputs once,
    the slot holds one entry after several of them, two run_all passes in
    one session write identical outputs, and a changed checksum or a new
    SparkSession misses the slot and derives afresh."""
    loads: list = []
    vals = np.arange(48 * 4, dtype=float).reshape(48, 2, 2) % 17
    ctx, grids = _yearly_catalog(spark, range(2020, 2024), vals,
                                 loads=loads)
    recipe = ClimatologyRecipe(
        "src", "clim", periods=[(2020, 2021), (2021, 2023)],
        seasons=["annual", "JJA"], quantities=["value", "anomaly", "trend"],
        baseline=(2021, 2021))
    reg = RecipeRegistry()
    reg.register(recipe)
    outputs = []
    for run in range(2):
        eng = DerivationEngine(spark, reg, ctx,
                               output_dir=str(tmp_path / f"run{run}"))
        del loads[:]
        recs = eng.run_all()
        assert len(recs) == 12 and {r.status for r in recs} == {"completed"}
        # 2 + 3 years per season, once for all three quantities
        assert sorted(loads) == sorted([1, 2] * 2 + [2, 3, 4] * 2)
        key, _ = recipe._shared
        assert key[1:3] == ("JJA", (2021, 2023))
        outputs.append({r.unit_hash: spark.read.parquet(
            os.path.join(eng.output_dir, f"unit={r.unit_hash}"))
            for r in recs})
    for uh, first in outputs[0].items():
        again = outputs[1][uh]
        assert first.count() == 4
        assert first.exceptAll(again).isEmpty(), uh
        assert again.exceptAll(first).isEmpty(), uh

    unit = {"period": [2020, 2021], "season": "annual", "quantity": "value"}

    def value(session):
        del loads[:]
        _, out = recipe.transform(session, unit,
                                  recipe.resolve_inputs(unit, ctx))
        return {(r.y, r.x): r.value for r in out.collect()}

    before = value(spark)
    assert sorted(loads) == [1, 2]
    assert value(spark) == before and loads == []    # a hit loads nothing
    # a re-landed 2020 (+24 everywhere) carries a new checksum
    grids[1] = grids[1].withColumn("value", F.col("value") + 24.0)
    ctx.items[0]["checksum"] = "y2020-relanded"
    after = value(spark)
    assert sorted(loads) == [1, 2] and after.keys() == before.keys()
    assert all(abs(after[k] - before[k] - 12.0) < 1e-9 for k in before)
    other = spark.newSession()
    assert value(other) == after and sorted(loads) == [1, 2]
    assert recipe._shared[0][0] is other
