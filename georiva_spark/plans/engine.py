"""Derivation engine: the 6-step unit loop of processing/engine.py:287-423
as driver-side planning over Spark jobs.

Semantics reproduced (SURVEY §2.9 T2-T7, §7 hard part 3):
- T2 event→unit routing: ``dispatch_for_trigger`` asks every registered
  recipe for candidate units.
- T3 idempotency: a unit whose recorded input_hash matches the current one
  is *skipped*; outputs are overwritten in place at a deterministic
  partition keyed by unit hash, so re-execution is safe (replaces the
  reference's DerivationRun row lock, engine.py:310-352).
- T4 not-ready parking + resurrection sweep (engine.py:354-364,
  invocation.py:107-155): missing required inputs park the unit; the sweep
  re-runs parked units when inputs appear.
- T5 stale-input invalidation, transitive (invocation.py:71-105,210-247):
  recompute where stored hash != current hash, walking lineage forward to
  fixpoint.
- T6 crashed-worker reclaim (invocation.py:157-201): stale RUNNING rows
  older than the time limit are reset to pending.
- T7 periodic sweeps: ``sweep`` bundles resurrection + reclaim + stale
  recompute, callable from a scheduler or a streaming foreachBatch.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from georiva_spark.plans.recipe import (
    CatalogContext, OutputItem, Recipe, RecipeRegistry, ResolvedInput,
    canonical_json, input_hash, unit_hash,
)

# Bounded derivation units + an aligned lock timeout
# (processing/constants.py; test_task_time_limits.py invariant):
# soft fires first (graceful cleanup inside the unit — run_unit catches
# it, marks the run failed and frees the lock immediately); the lock
# becomes stealable strictly AFTER the hard kill, so a live, time-limited
# unit can never have its lock stolen mid-run, while a worker that dies
# without releasing recovers minutes after the hard kill, not hours.
RUN_UNIT_SOFT_TIME_LIMIT = dt.timedelta(minutes=25)
RUN_UNIT_HARD_TIME_LIMIT = dt.timedelta(minutes=28)
RUNNING_TIMEOUT = dt.timedelta(minutes=30)  # the lock timeout
assert RUN_UNIT_SOFT_TIME_LIMIT < RUN_UNIT_HARD_TIME_LIMIT < RUNNING_TIMEOUT


class UnitSoftTimeLimit(Exception):
    """Raised inside a unit when its soft time budget is exhausted —
    the graceful path: run_unit catches it like any transform failure,
    marking the run failed (retryable) and freeing the lock now instead
    of waiting for the reclaim sweep."""


def check_time_budget(started_at: dt.datetime,
                      now: dt.datetime | None = None,
                      soft_limit: dt.timedelta = RUN_UNIT_SOFT_TIME_LIMIT
                      ) -> None:
    """For long-running recipes to call between stages: raises
    UnitSoftTimeLimit once the soft budget is spent."""
    now = now or dt.datetime.utcnow()
    if now - started_at > soft_limit:
        raise UnitSoftTimeLimit(
            f"unit exceeded soft time limit ({soft_limit})")


def _dedup_checksums(resolved) -> list[str]:
    """Checksums of resolved inputs, deduped by item_id — the same item
    resolved in two roles counts once, keeping the driver input hash
    identical to the lineage-derived distributed recompute
    (stale_units_df). The dedupe key is the natural key by
    construction: streamed items mint item_id =
    recipe.stable_item_id(collection, variable, time) (md5-derived,
    60-bit — restart-stable and collision-safe at crawl scale, r12),
    and engine-derived items take a monotonic counter (unique by
    construction)."""
    seen: set[int] = set()
    out: list[str] = []
    for r in resolved:
        if r.item_id is None or r.item_id in seen:
            continue
        seen.add(r.item_id)
        out.append(r.checksum)
    return out


@dataclass
class Trigger:
    """A catalog event: a (staging) item arrived/changed
    (invocation.py:25-35)."""
    kind: str          # staging_item | item | schedule
    item: dict | None = None


@dataclass
class RunRecord:
    """Run-ledger row (FIXTURES §F4; processing/models.py)."""
    recipe_id: str
    recipe_version: str
    unit_key: str
    unit_hash: str
    status: str                      # pending|running|completed|skipped|not_ready|failed
    input_hash: str | None = None
    origin: str | None = None
    reason: str | None = None
    produced_item_id: int | None = None
    retries: int = 0
    updated_at: dt.datetime = field(default_factory=dt.datetime.utcnow)


@dataclass
class LineageEdge:
    derived_item_id: int
    source_item_id: int
    source_tier: str
    recipe_id: str
    recipe_version: str
    input_hash: str


class DerivationEngine:
    """With ``ledger_dir`` set, the parquet run/lineage tables are the
    LEDGER OF RECORD (the reference keeps these in Postgres,
    processing/models.py): every state change appends an event row with
    a monotonic ``seq``; readers take the latest event per key. The
    driver dict is then only a bounded working-set cache — at millions
    of units nothing is ever collected wholesale; idempotency lookups
    fall back to a pruned parquet probe, and sweeps query the table
    distributed. Without ``ledger_dir`` the in-memory dict remains the
    store (bounded test/interactive mode)."""

    def __init__(self, spark: SparkSession, registry: RecipeRegistry,
                 catalog: CatalogContext, output_dir: str | None = None,
                 now_fn: Callable[[], dt.datetime] | None = None,
                 definitions: list | None = None, max_chain_depth: int = 8,
                 ledger_dir: str | None = None, cache_cap: int = 10_000):
        self.spark = spark
        self.registry = registry
        self.catalog = catalog
        self.output_dir = output_dir
        self.runs: dict[str, RunRecord] = {}          # unit_hash → latest run
        self.lineage: list[LineageEdge] = []
        self._next_item_id = 1_000_000
        self._now = now_fn or dt.datetime.utcnow
        # derived-product declarations drive derivation chaining: a
        # completed derivation into collection C dispatches the declared
        # products consuming C (derivation_chain.py DAG, ADR-0008).
        self.definitions = list(definitions or [])
        self.max_chain_depth = max_chain_depth
        self._chain_depth = 0
        self.ledger_dir: str | None = None
        self.cache_cap = cache_cap
        self._seq = 0
        if ledger_dir is not None:
            self.attach_ledger(ledger_dir)

    # ---- table-primary ledger plumbing -----------------------------------
    def attach_ledger(self, path: str) -> None:
        """Make the parquet tables at ``path`` the ledger of record.
        Recovers only two scalars (max seq, max produced item id) — the
        run/lineage rows themselves stay in the table."""
        from pyspark.sql import functions as F
        self.ledger_dir = path
        os.makedirs(path, exist_ok=True)
        if os.path.isdir(os.path.join(path, "runs")):
            row = (self.spark.read.parquet(f"{path}/runs")
                   .agg(F.max("seq").alias("s"),
                        F.max("produced_item_id").alias("i")).head())
            self._seq = (row.s or 0) + 1
            if row.i is not None:
                self._next_item_id = max(self._next_item_id, row.i + 1)
        if os.path.isdir(os.path.join(path, "lineage")):
            row = (self.spark.read.parquet(f"{path}/lineage")
                   .agg(F.max("seq").alias("s")).head())
            self._seq = max(self._seq, (row.s or 0) + 1)
        # compaction sidecar: latest-state snapshots can DROP the event
        # carrying the historical max produced_item_id (a re-triggered
        # unit's latest event has produced_item_id=None) — the sidecar
        # preserves the high-water marks across compactions so a
        # restarted engine never re-issues a live item id
        meta_p = os.path.join(path, "_compact_meta.json")
        from georiva_spark.sources.commit import read_token_json
        meta = read_token_json(meta_p, who="engine.attach_ledger")
        if meta is not None:
            self._seq = max(self._seq, int(meta.get("max_seq", 0)) + 1)
            self._next_item_id = max(self._next_item_id,
                                     int(meta.get("max_item_id", 0)) + 1)

    @staticmethod
    def _write_event_file(dirpath: str, rows: list[tuple], schema,
                          seq: int) -> None:
        """Append one small parquet file directly with pyarrow — a ledger
        event is a bounded driver-side control row; spinning a Spark
        write job per event would make the driver the bottleneck (the
        read side stays fully distributed). Atomic via rename."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from georiva_spark.sources.commit import install_file
        os.makedirs(dirpath, exist_ok=True)
        cols = {f.name: [r[i] for r in rows]
                for i, f in enumerate(schema)}
        tbl = pa.Table.from_pydict(cols, schema=schema)
        final = os.path.join(
            dirpath, f"part-{seq:012d}-{uuid.uuid4().hex}.parquet")
        tmp = final + ".tmp"
        pq.write_table(tbl, tmp)
        # unique final name -> install through the commit backend seam
        # (r13): rename filesystems os.replace; object stores commit
        # via a registered PointerBackend
        install_file(tmp, final, who="engine._write_event_file")

    @staticmethod
    def _runs_pa_schema():
        import pyarrow as pa
        return pa.schema([
            ("recipe_type", pa.string()), ("recipe_version", pa.string()),
            ("unit_key", pa.string()), ("unit_hash", pa.string()),
            ("status", pa.string()), ("input_hash", pa.string()),
            ("origin", pa.string()), ("reason", pa.string()),
            ("produced_item_id", pa.int64()),
            ("updated_at", pa.timestamp("us")),
            ("retries", pa.int32()), ("seq", pa.int64())])

    @staticmethod
    def _lineage_pa_schema():
        import pyarrow as pa
        return pa.schema([
            ("derived_item_id", pa.int64()), ("source_item_id", pa.int64()),
            ("source_tier", pa.string()), ("recipe_id", pa.string()),
            ("recipe_version", pa.string()), ("input_hash", pa.string()),
            ("seq", pa.int64())])

    def _append_run(self, rec: RunRecord) -> None:
        if self.ledger_dir is None:
            return
        rec_seq = self._seq
        self._seq += 1
        row = [(rec.recipe_id, rec.recipe_version, rec.unit_key,
                rec.unit_hash, rec.status, rec.input_hash, rec.origin,
                rec.reason, rec.produced_item_id, rec.updated_at,
                rec.retries, rec_seq)]
        self._write_event_file(f"{self.ledger_dir}/runs", row,
                               self._runs_pa_schema(), rec_seq)

    def _append_lineage(self, edges: list[LineageEdge]) -> None:
        if self.ledger_dir is None or not edges:
            return
        rec_seq = self._seq
        self._seq += 1
        rows = [(e.derived_item_id, e.source_item_id, e.source_tier,
                 e.recipe_id, e.recipe_version, e.input_hash, rec_seq)
                for e in edges]
        self._write_event_file(f"{self.ledger_dir}/lineage", rows,
                               self._lineage_pa_schema(), rec_seq)

    def _get_run(self, uh: str) -> RunRecord | None:
        """Latest run for a unit — cache first, then a pruned table probe
        (one filtered read; unit_hash min/max stats prune most files)."""
        rec = self.runs.get(uh)
        if rec is not None or self.ledger_dir is None:
            return rec
        if not os.path.isdir(os.path.join(self.ledger_dir, "runs")):
            return None
        from pyspark.sql import functions as F
        rows = (self.spark.read.parquet(f"{self.ledger_dir}/runs")
                .where(F.col("unit_hash") == uh)
                .orderBy(F.col("seq").desc()).limit(1).collect())
        if not rows:
            return None
        r = rows[0]
        rec = RunRecord(recipe_id=r.recipe_type,
                        recipe_version=r.recipe_version,
                        unit_key=r.unit_key, unit_hash=r.unit_hash,
                        status=r.status, input_hash=r.input_hash,
                        origin=r.origin, reason=r.reason,
                        produced_item_id=r.produced_item_id,
                        retries=r.retries or 0, updated_at=r.updated_at)
        self._put_run(rec)
        return rec

    def _put_run(self, rec: RunRecord) -> None:
        self.runs[rec.unit_hash] = rec
        if self.ledger_dir is not None and len(self.runs) > self.cache_cap:
            # bounded working set: evict oldest-inserted entries (the
            # table keeps everything)
            for k in list(self.runs)[:len(self.runs) - self.cache_cap]:
                del self.runs[k]

    # ---- T2: event→unit routing ------------------------------------------
    def dispatch_for_trigger(self, trigger: Trigger,
                             origin: str | None = None) -> list[RunRecord]:
        return self.dispatch_for_triggers([trigger], origin=origin)

    def dispatch_for_triggers(self, triggers: list,
                              origin: str | None = None
                              ) -> list[RunRecord]:
        """Batch T2 routing (r14, guide §2.6): a caller holding SEVERAL
        independent trigger events (a micro-batch of staging shards, a
        takedown's recompute closure) dispatches them as ONE level per
        recipe instead of a serial per-trigger loop — the per-trigger
        loop ran each chain depth-first, so a corpus-wide MERGE product
        re-ran (and re-wrote) once per trigger; batched, each level's
        duplicate merge candidates collapse to one run over ALL the
        level's partials, which is exactly the state the serial loop's
        LAST run produced. Final outputs, items and lineage are
        identical; the intermediate merge re-writes (dead the moment
        the next trigger superseded them) are simply never written."""
        out = []
        for recipe in self.registry.all():
            cands = [(recipe, unit, origin)
                     for trigger in triggers
                     for unit in recipe.candidate_units(trigger,
                                                        self.catalog)]
            recs, seeds = self._run_level(cands)
            out.extend(recs)
            self._chain_from(seeds)
        return out

    def run_all(self, origin: str | None = None) -> list[RunRecord]:
        out = []
        for recipe in self.registry.all():
            cands = [(recipe, unit, origin)
                     for unit in recipe.enumerate_units(self.catalog)]
            recs, seeds = self._run_level(cands)
            out.extend(recs)
            self._chain_from(seeds)
        return out

    # ---- the 6-step unit loop (engine.py:287-423) ------------------------
    def run_unit(self, recipe: Recipe, unit: dict,
                 origin: str | None = None,
                 _defer: list | None = None) -> RunRecord:
        uh = unit_hash({"recipe": recipe.recipe_id, **unit})
        rec = RunRecord(recipe_id=recipe.recipe_id,
                        recipe_version=recipe.version,
                        unit_key=canonical_json(unit), unit_hash=uh,
                        status="running", origin=origin,
                        updated_at=self._now())
        prev = self._get_run(uh)
        if prev is not None:
            rec.retries = prev.retries
        self._put_run(rec)
        self._append_run(rec)   # the lock row (engine.py:310-352)

        try:
            resolved = recipe.resolve_inputs(unit, self.catalog)
        except Exception as e:  # noqa: BLE001 — failure is a ledger state
            return self._mark(rec, "failed", reason=f"resolve: {e}")

        # readiness (recipe.py:202-204): any required input missing → park
        missing = [r.role for r in resolved if r.required and r.item_id is None]
        if missing:
            return self._mark(rec, "not_ready",
                              reason=f"missing inputs: {sorted(set(missing))}")

        ih = input_hash(_dedup_checksums(resolved), recipe.version)
        # idempotency (engine.py:344-352): same inputs, same version →
        # skip. A prior *skipped* record is equally authoritative (it
        # carries the completed run's item + hash) — matching only
        # "completed" would re-run the transform on every second
        # identical trigger.
        if (prev is not None and prev.status in ("completed", "skipped")
                and prev.input_hash == ih):
            rec.status, rec.input_hash = "skipped", ih
            rec.produced_item_id = prev.produced_item_id
            rec.reason = "input_hash unchanged"
            self._append_run(rec)
            return rec

        try:
            out_item, out_df = recipe.transform(self.spark, unit, resolved)
        except Exception as e:  # noqa: BLE001
            rec.retries += 1
            return self._mark(rec, "failed", reason=f"transform: {e}")

        item_id = self._register_item(out_item, uh, ih, prev)
        if _defer is not None:
            # batched dispatch (r14, guide §2.6): the caller writes this
            # unit's output in one job with its level siblings and then
            # finalizes (lineage → completed → chain) in this same
            # phase-1 order — identical per-unit outputs and ledger rows.
            _defer.append((rec, uh, out_df, out_item, item_id,
                           resolved, ih, recipe))
            return rec
        self._write_units([(uh, out_df)])
        rec = self._finalize_completed(rec, recipe, resolved, ih,
                                       item_id)
        self._chain_from([(out_item, item_id)])
        return rec

    def _finalize_completed(self, rec: RunRecord, recipe: Recipe,
                            resolved, ih: str,
                            item_id: int) -> RunRecord:
        """Post-write bookkeeping of a successful unit: lineage edges
        (deduped per (derived, source)), then the completed ledger
        event."""
        seen = set()
        new_edges = []
        for r in resolved:
            if r.item_id is None or r.item_id in seen:
                continue
            seen.add(r.item_id)
            new_edges.append(LineageEdge(
                derived_item_id=item_id, source_item_id=r.item_id,
                source_tier=r.tier, recipe_id=recipe.recipe_id,
                recipe_version=recipe.version, input_hash=ih))
        if self.ledger_dir is None:
            # in-memory mode only: the driver list IS the record. In
            # ledger mode the table is the record and this list would
            # grow unboundedly (and be O(n) rescanned per run) — the
            # exact residency problem the table-primary ledger removed.
            self.lineage = [e for e in self.lineage
                            if e.derived_item_id != item_id]
            self.lineage.extend(new_edges)
        self._append_lineage(new_edges)
        rec.input_hash = ih
        rec.produced_item_id = item_id
        return self._mark(rec, "completed")

    # ---- batched dispatch (r14 optimization, guide §2.6) -----------------
    def _run_level(self, cands: list) -> tuple[list, list]:
        """Run one level of independent (recipe, unit, origin)
        candidates: phase 1 (resolve → hash-skip → transform →
        register) strictly serial in candidate order — item ids, seqs
        and catalog mutations stay deterministic — then ONE write of
        every deferred unit output (`_write_units`), then finalization
        (lineage → completed event) back in phase-1 order. A failed
        level write commits no unit of the level: their ledger rows
        stay `running` and the reclaim sweep re-runs them
        idempotently. A duplicate unit_hash inside one level (two
        completions chaining the same merge) is postponed until after
        the level commits, where it skips on input_hash exactly as it
        would have serially. Returns (records, chain seeds)."""
        out: list[RunRecord] = []
        deferred: list = []
        postponed: list = []
        pending: set[str] = set()
        for recipe, unit, origin in cands:
            uh = unit_hash({"recipe": recipe.recipe_id, **unit})
            if uh in pending:
                postponed.append((recipe, unit, origin))
                continue
            n_before = len(deferred)
            rec = self.run_unit(recipe, unit, origin=origin,
                                _defer=deferred)
            out.append(rec)
            if len(deferred) > n_before:
                pending.add(uh)
        self._write_units([(uh, out_df)
                           for (_, uh, out_df, *_rest) in deferred])
        seeds = []
        for (rec, uh, out_df, out_item, item_id, resolved, ih,
             recipe) in deferred:
            self._finalize_completed(rec, recipe, resolved, ih,
                                     item_id)
            seeds.append((out_item, item_id))
        for recipe, unit, origin in postponed:
            # the level is committed: an identical re-candidate now
            # skips on input_hash (the serial engine's second-chain
            # behaviour); a genuinely different one runs serially.
            out.append(self.run_unit(recipe, unit, origin=origin))
        return out, seeds

    def _chain_from(self, seeds: list) -> None:
        """derivation.completed → downstream dispatch, level by level
        (BFS): each level's candidates across ALL seeds run as one
        `_run_level` batch, so independent downstream products (e.g.
        the datacard and token-manifest partials of one clean shard)
        are written together. Level order equals the serial recursion's
        input sets — a unit triggered at level n sees exactly the
        items levels < n completed — so outputs and input hashes are
        identical to the depth-first engine's. Depth-capped per level
        (the serial cap counted recursion hops the same way)."""
        if not self.definitions:
            return
        base = self._chain_depth
        level = seeds
        try:
            while level and self._chain_depth < self.max_chain_depth:
                cands = []
                for out_item, item_id in level:
                    cands.extend(
                        self._chain_candidates(out_item, item_id))
                if not cands:
                    return
                self._chain_depth += 1
                _, level = self._run_level(cands)
        finally:
            self._chain_depth = base

    # ---- derivation chaining (declarations DAG) --------------------------
    def _chain_candidates(self, out_item: OutputItem,
                          item_id: int) -> list:
        """derivation.completed → downstream candidates: consult the
        declared DAG for products whose inputs include the completed
        collection, then route the event through each product's
        candidate_units → (recipe, unit, origin) triples for
        `_chain_from`'s next level. Depth-capping and the idempotency
        hash-skip that absorbs repeats live in the level runner."""
        from georiva_spark.plans.declarations import downstream_keys
        keys = downstream_keys(self.definitions, out_item.collection)
        if not keys:
            return []
        by_key = {d.key: d for d in self.definitions}
        item = next((it for it in self.catalog.items
                     if it["item_id"] == item_id), None)
        trigger = Trigger(kind="derivation.completed", item=item)
        cands = []
        for k in keys:
            d = by_key[k]
            try:
                rcp = self.registry.get(d.recipe_type)
            except KeyError:
                continue
            # strictly event-routed: the recipe decides which of its
            # units the completed item feeds (a recipe that wants
            # chaining handles kind="derivation.completed"). No
            # enumerate fallback — that would spuriously build every
            # unit of the product on unrelated completions.
            for unit in rcp.candidate_units(trigger, self.catalog):
                cands.append((rcp, unit, f"chain:{d.key}"))
        return cands

    # ---- T4: resurrection sweep ------------------------------------------
    def sweep_not_ready(self) -> list[RunRecord]:
        out = []
        for rec in self._sweep_candidates("not_ready"):
            recipe = self.registry.get(rec.recipe_id)
            import json as _json
            out.append(self.run_unit(recipe, _json.loads(rec.unit_key),
                                     origin="resurrection"))
        return out

    def _sweep_candidates(self, *statuses: str) -> list[RunRecord]:
        """Latest-state runs in ``statuses``. Ledger mode filters the
        TABLE distributed and collects only the matching rows (parked /
        running units ≪ total units); in-memory mode scans the dict."""
        if self.ledger_dir is None:
            return [r for r in self.runs.values() if r.status in statuses]
        if not os.path.isdir(os.path.join(self.ledger_dir, "runs")):
            return []
        from pyspark.sql import functions as F
        rows = self._runs_view().where(F.col("status").isin(*statuses)) \
                                .collect()
        return [RunRecord(recipe_id=r.recipe_type,
                          recipe_version=r.recipe_version,
                          unit_key=r.unit_key, unit_hash=r.unit_hash,
                          status=r.status, input_hash=r.input_hash,
                          origin=r.origin, reason=r.reason,
                          produced_item_id=r.produced_item_id,
                          retries=r.retries or 0, updated_at=r.updated_at)
                for r in rows]

    # ---- T5: stale-input invalidation, transitive ------------------------
    def sweep_stale(self) -> list[RunRecord]:
        """Recompute completed units whose current input hash differs from
        the recorded one (inputs changed underneath).

        Ledger mode: the distributed ``stale_units_df`` planner finds the
        stale set (O(lineage) in Spark, only stale rows collected), then
        the driver re-runs exactly those units. In-memory mode: exact
        per-unit re-resolution over the dict."""
        import json as _json
        out = []
        if self.ledger_dir is not None:
            stale = self.stale_units_df().select("unit_key",
                                                 "recipe_type").collect()
            for r in stale:
                recipe = self.registry.get(r.recipe_type)
                out.append(self.run_unit(recipe, _json.loads(r.unit_key),
                                         origin="stale-sweep"))
            return out
        for rec in self._sweep_candidates("completed", "skipped"):
            recipe = self.registry.get(rec.recipe_id)
            unit = _json.loads(rec.unit_key)
            try:
                resolved = recipe.resolve_inputs(unit, self.catalog)
            except Exception:  # noqa: BLE001
                continue
            ih = input_hash(_dedup_checksums(resolved), recipe.version)
            if ih != rec.input_hash:
                out.append(self.run_unit(recipe, unit, origin="stale-sweep"))
        return out

    def stale_units_df(self, items_df: DataFrame | None = None) -> DataFrame:
        """Distributed stale scan — the ledger-as-DataFrame primary path
        for sweeps over millions of units: join the lineage table against
        current catalog checksums and recompute every derived unit's
        input hash IN SPARK (sha256 over the same canonical-JSON payload
        ``input_hash`` builds), then anti-match against the recorded
        hash. O(lineage edges) distributed work, no driver loop or
        per-unit recipe call. ``items_df`` defaults to the in-memory
        catalog; at scale pass the items table directly.

        Returns (unit_hash, unit_key, recipe_type, produced_item_id,
        recorded_input_hash, current_input_hash) for units whose inputs
        changed underneath. ``sweep_stale`` (driver path, exact for
        recipes that re-resolve inputs) remains the recompute executor;
        this scan is the planner that finds the work.

        Caveat: the scan recomputes the hash from lineage edges, which
        dedup source items — identical to ``input_hash`` for recipes
        that resolve each item once (all shipped recipes)."""
        from pyspark.sql import functions as F
        if items_df is None:
            from georiva_spark.functions.frames import local_frame
            items_df = local_frame(
                self.spark,
                [(it["item_id"], it["checksum"])
                 for it in self.catalog.items],
                "item_id long, checksum string")
        lin = self.lineage_df()
        payload = F.concat(
            F.lit('{"inputs":["'),
            F.array_join(F.array_sort(F.collect_list("checksum")), '","'),
            F.lit('"],"version":"'),
            F.first("recipe_version"), F.lit('"}'))
        cur = (lin.join(items_df, lin.source_item_id == items_df.item_id)
               .groupBy("derived_item_id")
               .agg(F.sha2(payload, 256).alias("current_input_hash")))
        runs = self.runs_df().where(
            F.col("status").isin("completed", "skipped"))
        return (runs.join(cur, runs.produced_item_id == cur.derived_item_id)
                .where(F.col("input_hash") != F.col("current_input_hash"))
                .select("unit_hash", "unit_key", "recipe_type",
                        "produced_item_id",
                        F.col("input_hash").alias("recorded_input_hash"),
                        "current_input_hash"))

    def invalidate_downstream(self, source_item_ids: list[int]) -> list[int]:
        """Transitive forward closure over lineage (invocation.py:210-247):
        BFS from changed sources to every derived item affected. Ledger
        mode walks the TABLE (per-round semi-join, only new frontier ids
        collected — depth rounds, never the whole edge set); in-memory
        mode walks the list."""
        if self.ledger_dir is not None and os.path.isdir(
                os.path.join(self.ledger_dir, "lineage")):
            from pyspark.sql import functions as F
            lin = self.lineage_df().select("derived_item_id",
                                           "source_item_id")
            frontier = set(source_item_ids)
            affected: set[int] = set()
            while frontier:
                nxt = {r.derived_item_id for r in
                       lin.where(F.col("source_item_id")
                                 .isin(*[int(i) for i in frontier]))
                          .select("derived_item_id").distinct().collect()
                       } - affected
                affected |= nxt
                frontier = nxt
            return sorted(affected)
        frontier = set(source_item_ids)
        affected = set()
        while frontier:
            nxt = {e.derived_item_id for e in self.lineage
                   if e.source_item_id in frontier} - affected
            affected |= nxt
            frontier = nxt
        return sorted(affected)

    # ---- T6: crashed-worker reclaim --------------------------------------
    def reclaim_stale_running(self,
                              timeout: dt.timedelta = RUNNING_TIMEOUT) -> int:
        n = 0
        cutoff = self._now() - timeout
        for rec in self._sweep_candidates("running"):
            if rec.updated_at < cutoff:
                rec.status, rec.reason = "pending", "reclaimed stale running"
                rec.updated_at = self._now()
                self._put_run(rec)
                self._append_run(rec)
                n += 1
        return n

    # ---- T7: the periodic sweep bundle -----------------------------------
    def sweep(self) -> dict[str, int]:
        reclaimed = self.reclaim_stale_running()
        resurrected = self.sweep_not_ready()
        stale = self.sweep_stale()
        compacted = self.compact_ledger() if self._should_compact() else {}
        return {"reclaimed": reclaimed, "resurrected": len(resurrected),
                "stale_recomputed": len(stale),
                "compacted_files": compacted.get("files_removed", 0)}

    # ---- ledger compaction (T7) ------------------------------------------
    compact_threshold_files = 512

    def _should_compact(self) -> bool:
        if self.ledger_dir is None:
            return False
        d = os.path.join(self.ledger_dir, "runs")
        if not os.path.isdir(d):
            return False
        n = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        return n > self.compact_threshold_files

    def compact_ledger(self) -> dict[str, int]:
        """Rewrite the ledger event tables as latest-state snapshots and
        drop the superseded event files. The write-side stays one tiny
        file per event (driver latency); without compaction a 1 M-unit
        plan with several status transitions each leaves millions of
        small files and every ``_runs_view()`` scan pays the listing —
        the T7 sweep folds them down. Matches the reference's DB-backed
        run table (processing/models.py), where UPDATE is in-place.

        Concurrency-safe against appends: only the files listed at entry
        are read and deleted; events appended mid-compaction survive. A
        crash between snapshot-write and delete leaves duplicate rows of
        identical content, which the latest-per-key views absorb."""
        out = {"files_removed": 0}
        if self.ledger_dir is None:
            return out
        # preserve the high-water marks the snapshot may drop (see
        # attach_ledger): write the sidecar BEFORE deleting any event
        # file, atomically, taking the max with any previous sidecar
        from pyspark.sql import functions as F
        hi_seq, hi_item = self._seq - 1, self._next_item_id - 1
        runs_dir = os.path.join(self.ledger_dir, "runs")
        if os.path.isdir(runs_dir):
            row = (self.spark.read.parquet(runs_dir)
                   .agg(F.max("seq").alias("s"),
                        F.max("produced_item_id").alias("i")).head())
            hi_seq = max(hi_seq, row.s or 0)
            if row.i is not None:
                hi_item = max(hi_item, row.i)
        meta_p = os.path.join(self.ledger_dir, "_compact_meta.json")
        from georiva_spark.sources.commit import read_token_json
        prev = read_token_json(meta_p, who="engine.compact_ledger")
        if prev is not None:
            hi_seq = max(hi_seq, int(prev.get("max_seq", 0)))
            hi_item = max(hi_item, int(prev.get("max_item_id", 0)))
        from georiva_spark.sources.commit import atomic_write_json
        atomic_write_json(meta_p,
                          {"max_seq": hi_seq, "max_item_id": hi_item},
                          who="engine.compact_ledger")
        for sub, keep in (("runs", "latest_per_unit"),
                          ("lineage", "latest_batch")):
            d = os.path.join(self.ledger_dir, sub)
            if not os.path.isdir(d):
                continue
            files = sorted(os.path.join(d, f) for f in os.listdir(d)
                           if f.endswith(".parquet"))
            if len(files) <= 1:
                continue
            from pyspark.sql import Window, functions as F
            df = self.spark.read.parquet(*files)
            if keep == "latest_per_unit":
                w = Window.partitionBy("unit_hash").orderBy(
                    F.col("seq").desc())
                snap = (df.withColumn("_rn", F.row_number().over(w))
                        .where(F.col("_rn") == 1).drop("_rn"))
            else:
                w = Window.partitionBy("derived_item_id")
                snap = (df.withColumn("_mx", F.max("seq").over(w))
                        .where(F.col("seq") == F.col("_mx")).drop("_mx"))
            tmp = os.path.join(self.ledger_dir, f"_{sub}_compact_tmp")
            (snap.coalesce(max(1, len(files) // 4096))
                 .write.mode("overwrite").parquet(tmp))
            import shutil
            import uuid

            from georiva_spark.sources.commit import install_file
            moved = []
            for f in os.listdir(tmp):
                if f.endswith(".parquet"):
                    dst = os.path.join(
                        d, f"compact-{self._seq:012d}-"
                           f"{uuid.uuid4().hex}.parquet")
                    install_file(os.path.join(tmp, f), dst,
                                 who="engine.compact_ledger")
                    moved.append(dst)
            shutil.rmtree(tmp, ignore_errors=True)
            for f in files:
                os.remove(f)
            out["files_removed"] += len(files) - len(moved)
        return out

    # ---- ledger views ----------------------------------------------------
    def _runs_view(self) -> DataFrame:
        """Latest event per unit_hash from the parquet runs table
        (ledger mode only)."""
        from pyspark.sql import Window, functions as F
        df = self.spark.read.parquet(f"{self.ledger_dir}/runs")
        w = Window.partitionBy("unit_hash").orderBy(F.col("seq").desc())
        return (df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))

    def runs_df(self) -> DataFrame:
        """Latest run per unit — the TABLE in ledger mode (never built
        from the driver dict, which is only a bounded cache there)."""
        if self.ledger_dir is not None and os.path.isdir(
                os.path.join(self.ledger_dir, "runs")):
            return self._runs_view().drop("retries", "seq")
        rows = [(r.recipe_id, r.recipe_version, r.unit_key, r.unit_hash,
                 r.status, r.input_hash, r.origin, r.reason,
                 r.produced_item_id, r.updated_at)
                for r in self.runs.values()]
        from georiva_spark.functions.frames import local_frame
        return local_frame(
            self.spark,
            rows, "recipe_type string, recipe_version string, unit_key string,"
                  " unit_hash string, status string, input_hash string,"
                  " origin string, reason string, produced_item_id long,"
                  " updated_at timestamp")

    def lineage_df(self) -> DataFrame:
        """Current lineage edges — in ledger mode the latest edge batch
        per derived item from the parquet table (a re-derivation appends
        a new batch that supersedes the old one)."""
        if self.ledger_dir is not None and os.path.isdir(
                os.path.join(self.ledger_dir, "lineage")):
            from pyspark.sql import Window, functions as F
            df = self.spark.read.parquet(f"{self.ledger_dir}/lineage")
            w = Window.partitionBy("derived_item_id")
            return (df.withColumn("_mx", F.max("seq").over(w))
                    .where(F.col("seq") == F.col("_mx"))
                    .drop("_mx", "seq"))
        rows = [(e.derived_item_id, e.source_item_id, e.source_tier,
                 e.recipe_id, e.recipe_version, e.input_hash)
                for e in self.lineage]
        from georiva_spark.functions.frames import local_frame
        return local_frame(
            self.spark,
            rows, "derived_item_id long, source_item_id long,"
                  " source_tier string, recipe_id string,"
                  " recipe_version string, input_hash string")

    # ---- persistence (T7 across restarts) --------------------------------
    def save_ledger(self, path: str) -> None:
        """Snapshot the in-memory state into the event-table format, so a
        restarted engine can ``load_ledger``/``attach_ledger`` the same
        path. In ledger mode this is a no-op — the table IS the state."""
        if self.ledger_dir is not None:
            return
        for sub in ("runs", "lineage"):
            if os.path.isdir(os.path.join(path, sub)):
                shutil.rmtree(os.path.join(path, sub))
        rows = [(r.recipe_id, r.recipe_version, r.unit_key, r.unit_hash,
                 r.status, r.input_hash, r.origin, r.reason,
                 r.produced_item_id, r.updated_at, r.retries, i)
                for i, r in enumerate(self.runs.values())]
        self._write_event_file(f"{path}/runs", rows,
                               self._runs_pa_schema(), len(rows))
        if self.lineage:
            # one seq PER DERIVED ITEM's edge batch — the live append
            # gives a whole batch one seq, and lineage_df keeps only the
            # max-seq rows per derived item; a distinct seq per edge
            # would drop all but one edge of every multi-input unit
            # after a save/load round trip
            seq_of: dict[int, int] = {}
            for e in self.lineage:
                seq_of.setdefault(e.derived_item_id,
                                  len(rows) + len(seq_of))
            lrows = [(e.derived_item_id, e.source_item_id, e.source_tier,
                      e.recipe_id, e.recipe_version, e.input_hash,
                      seq_of[e.derived_item_id])
                     for e in self.lineage]
            self._write_event_file(f"{path}/lineage", lrows,
                                   self._lineage_pa_schema(),
                                   len(rows) + len(seq_of))

    def load_ledger(self, path: str) -> None:
        """Resume from a persisted ledger WITHOUT collecting it: attaches
        the table as the store of record (r2 verdict item 4 — the old
        implementation collected every run/lineage row to the driver,
        which is the bottleneck at millions of units). Run lookups fall
        back to pruned table probes; sweeps filter the table."""
        self.runs = {}
        self.lineage = []
        self.attach_ledger(path)

    # ---- internals -------------------------------------------------------
    def _mark(self, rec: RunRecord, status: str,
              reason: str | None = None) -> RunRecord:
        rec.status = status
        rec.reason = reason
        rec.updated_at = self._now()
        self._append_run(rec)    # terminal state → ledger event
        return rec

    def _register_item(self, out_item: OutputItem, uh: str, ih: str,
                       prev: RunRecord | None) -> int:
        # overwrite-in-place: re-derivation reuses the item id (T3)
        if prev is not None and prev.produced_item_id is not None:
            item_id = prev.produced_item_id
            for it in self.catalog.items:
                if it["item_id"] == item_id:
                    it["checksum"] = ih
                    it["properties"] = {**out_item.properties,
                                        "derivation.input_hash": ih}
                    return item_id
        item_id = self._next_item_id
        self._next_item_id += 1
        self.catalog.items.append({
            "item_id": item_id, "collection": out_item.collection,
            "variable": out_item.variable, "time": out_item.time,
            "reference_time": out_item.reference_time, "tier": "published",
            "checksum": ih,
            "properties": {**out_item.properties, "derivation.input_hash": ih},
            "unit_hash": uh,
        })
        return item_id

    def _write_units(self, outputs: list) -> None:
        """Deterministic overwrite of each unit's output partition
        ``unit=<hash>`` — the Spark replacement for the reference's run
        lock: rewriting the same partition with the same inputs is
        idempotent (replaceWhere analog). The (unit hash, frame) pairs
        that share an output schema are written as ONE job: tagged with
        their unit, unioned and written with dynamic partition
        overwrite, which replaces exactly the partitions that receive
        rows. An empty output receives none and would keep its old
        rows, so every frame carries an Observation row count (no extra
        job) and a unit that observed 0 rows is then overwritten with
        its schema alone — the only way to express an empty
        partition."""
        if self.output_dir is None:
            return
        from pyspark.sql import Observation, functions as F
        groups: dict[str, list] = {}
        for uh, out_df in outputs:
            if out_df is not None:
                groups.setdefault(out_df.schema.simpleString(),
                                  []).append((uh, out_df))
        for group in groups.values():
            counted, level = [], None
            for uh, out_df in group:
                obs = Observation()
                counted.append((uh, out_df, obs))
                tagged = (out_df.observe(obs, F.count(F.lit(1)).alias("n"))
                          .withColumn("unit", F.lit(uh)))
                level = tagged if level is None else level.unionByName(tagged)
            (level.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("unit").parquet(self.output_dir))
            for uh, out_df, obs in counted:
                if obs.get["n"] == 0:
                    out_df.limit(0).write.mode("overwrite").parquet(
                        os.path.join(self.output_dir, f"unit={uh}"))
