"""One-call takedown orchestration (r13): apply a legal takedown /
right-to-be-forgotten request — a bounded list of item ids — to EVERY
surface that serves or derives from the corpus, in one call:

- the three persistent index families (MinHash text, IVF/PQ
  embeddings, Hamming perceptual) via their doc-grained tombstone
  rules (operators/_tombstones.retract_docs — O(1) rule rows, probes
  stop matching immediately, compactions purge physically);
- exported trainer token-shard layouts via the sanctioned surgical
  rewrite (sources/tables.export_token_shards_takedown — bounded
  affected files, surviving docs bit-identical);
- the LANDED corpus itself plus everything the derivation engine
  built from it (:func:`corpus_takedown` — prune the affected shard
  partitions, recompute their content checksums, and dispatch the
  engine closure so datacards / token manifests recompute from the
  pruned corpus — T5 staleness at document grain).

The r13 family functions each answer one surface; a real request has
to reach ALL of them, and a half-applied request (indexes cleaned,
corpus still serving the docs to the next rebuild) is the worst
outcome — the docs look gone until a recompute resurrects them. The
orchestrator makes the fan-out one idempotent call with one audit
record.

IDEMPOTENCY: every leg converges on re-run — tombstone rules
accumulate harmlessly (the anti-join is a set filter), and the token
layout and the corpus each record their affected-shard set in a
token committed through sources/commit.py BEFORE any mutation: the
layout's pending marker, the corpus's INTENT token. The token
rewrite's affected-scan finds exactly the not-yet-rewritten
remainder, and the pending marker brings the shards a crashed
attempt rewrote into the manifest re-aggregation; the
corpus token makes a crash between the partition prune and the
engine dispatch re-dispatch on the next run even though the pruned
partitions no longer contain the ids. Re-running a fully-applied
request is a structural no-op (engine units skip on input_hash, T3).

ID SPACE: one request list is applied to every surface — doc_id for
text indexes / token layouts / the corpus, vec_id for embedding
indexes, media id for perceptual indexes. Pipelines built on this
repo share one id space across those tables (the corpus chain's
doc_id IS the embedding's vec_id); deployments with per-modality id
spaces call the family functions directly with each mapped list.

Reference parity: the reference deletes at item granularity and
invalidates transitively through the lineage graph
(processing/invocation.py:210-247, api/views.py delete paths); it has
no trainer-layout or ANN-index analog to reach, so this orchestrator
is a superset required by the index/export layers this repo adds.
"""

from __future__ import annotations

import hashlib
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from georiva_spark.functions.fastexpr import in_longs, larr
from georiva_spark.operators import _tombstones
from georiva_spark.plans.engine import DerivationEngine, Trigger
from georiva_spark.sources.commit import (atomic_replace,
                                          atomic_write_json,
                                          backend_for, read_token_json)

__all__ = ["clear_hold", "corpus_takedown", "expire_shards",
           "hold_filter", "read_audit_trail", "request_digest",
           "standing_hold", "takedown", "takedown_report"]


def request_digest(ids) -> str:
    """Deterministic digest of a takedown request's id set — the
    audit/intent token key. Order- and duplicate-insensitive, so a
    redelivered request maps to the same token (replay no-op)."""
    ids = sorted({int(i) for i in ids})
    return hashlib.md5(
        ",".join(str(i) for i in ids).encode()).hexdigest()[:16]


def _intent_path(corpus_dir: str, digest: str) -> str:
    # underscore-prefixed sidecar: Spark's parquet listing ignores it
    return posixpath.join(corpus_dir, f"_georiva_takedown_{digest}.json")


def _index_legs(minhash_indexes, ivf_indexes, hamming_indexes):
    """(family, index) for every named index, family by family in
    the order the legs apply (minhash, ivf, hamming)."""
    return [(family, t) for family, tables in
            (("minhash", minhash_indexes), ("ivf", ivf_indexes),
             ("hamming", hamming_indexes))
            for t in tables]


def _affected_scan(corpus: DataFrame, ids) -> DataFrame:
    """Shards still containing any takedown id. The bounded id list
    lands as an In predicate PUSHED to the parquet scan (row-group
    stats prune — at 100 TB the scan touches only row groups whose
    doc_id range overlaps the request) and only (doc_id, shard) ship
    (plan-asserted in test_plan_evidence)."""
    return (corpus.where(F.expr(in_longs("doc_id", ids)))
            .select("shard").distinct())


def _prune_frame(corpus: DataFrame, affected, ids) -> DataFrame:
    """The survivors of the affected shards — the dynamic-overwrite
    input. The shard predicate is a PARTITION filter (unaffected
    partitions never scan, plan-asserted); the overwrite rewrites
    exactly the affected partitions."""
    return corpus.where(F.col("shard").isin(list(affected))
                        & ~F.expr(in_longs("doc_id", ids)))


def _shard_checksums(corpus: DataFrame, shards, ids=()) -> DataFrame:
    """Per shard of ``shards`` (a partition filter): the ingest
    stream's content checksum — bit_xor of the rows' xxhash64 — and
    the row count, both over the rows NOT in ``ids``. Taken before the
    prune, these are exactly the figures of the pruned partition, so
    one aggregate answers the emptied-shard check and the recommit."""
    kept = (~F.expr(in_longs("doc_id", ids)) if ids else F.lit(True))
    return (corpus.where(F.col("shard").isin(list(shards)))
            .groupBy("shard")
            .agg(F.bit_xor(F.when(kept, F.xxhash64("doc_id", "text")))
                 .alias("digest"),
                 F.sum(kept.cast("long")).alias("n")))


def corpus_takedown(spark: SparkSession, corpus_dir: str,
                    engine: DerivationEngine, ids, *,
                    collection: str = "crawl-shards",
                    origin: str | None = None) -> list[dict]:
    """Remove ``ids`` from the landed corpus and recompute everything
    the derivation engine built from the affected shards.

    Mechanics, in commit order:

    1. AFFECTED SCAN — one pruned read of the corpus (filter on the
       bounded id list pushes to parquet row-group stats; only
       ``doc_id``/``shard`` columns ship) finds the shards still
       containing the ids. Bounded output: at most one row per shard.
    2. CHECKSUMS — ONE aggregate over the affected partitions, before
       any mutation, gives each shard's kept-row count and the content
       checksum of its kept rows with the SAME formula the ingest
       stream commits (bit_xor of row hashes, so a later identical
       re-delivery T3-skips). The bit_xor over the kept rows IS the
       pruned partition's checksum, so nothing is re-read after the
       prune. A shard the takedown would EMPTY (zero kept rows) fails
       by name here: dynamic overwrite cannot express an empty
       partition, and deleting a whole shard is a different operation
       — re-crawl or shard removal — that must be explicit.
    3. INTENT TOKEN — the affected-shard set commits as a sidecar
       token in the corpus dir through sources/commit.py BEFORE any
       mutation. This is the crash-recovery hinge: after the
       partitions are pruned the ids are gone from the data, so a
       rerun's scan alone could never rediscover which shards still
       need their engine dispatch — the intent token can. Reruns
       union the token's shards into the dispatch set; only those
       shards (pruned by an earlier attempt, absent from this scan)
       have their checksum read from the pruned partitions.
    4. PARTITION PRUNE + DISPATCH — one dynamic partition overwrite of
       exactly the affected shards, minus the ids; then per shard,
       update the engine's staging item with the checksum and
       dispatch its trigger: the clean unit and the product chain
       recompute from the pruned shard, partials merge,
       datacard/manifest converge to a corpus that never had the docs
       (the takedown_e2e oracle proves exactly this).
    5. The intent token re-commits with ``completed: true`` — it
       stays as the corpus-side audit record.

    Note the dedup consequence (correct, oracle-pinned): if a
    taken-down doc was the exact-dedup KEEPER of its content, a
    surviving duplicate RESURFACES in the clean output — the content
    itself was never taken down, only the named items.

    Returns one dict per affected shard: shard, new checksum, pruned
    row count, units the dispatch ran."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        raise ValueError("corpus_takedown: the takedown id list is "
                         "empty")
    backend_for(corpus_dir, who="corpus_takedown")
    digest = request_digest(ids)
    token_path = _intent_path(corpus_dir, digest)
    prior = read_token_json(token_path, who="corpus_takedown") or {}

    corpus = spark.read.parquet(corpus_dir)
    affected = sorted(r.shard for r in
                      _affected_scan(corpus, ids).collect())
    # crash recovery: shards a prior run pruned but may not have
    # dispatched (their partitions no longer contain the ids, so the
    # scan above cannot see them)
    dispatch = sorted(set(affected) | set(prior.get("shards", [])))
    if not dispatch:
        return []
    digests = {}
    if affected:
        digests = {r.shard: r for r in
                   _shard_checksums(corpus, affected, ids).collect()}
        emptied = [s for s in affected if not digests[s].n]
        if emptied:
            raise ValueError(
                f"corpus_takedown: the request would EMPTY shard(s) "
                f"{emptied} — dynamic partition overwrite cannot "
                f"express an empty partition, and removing a whole "
                f"shard is a different operation (re-crawl or shard "
                f"removal); split the request")
        atomic_write_json(token_path,
                          {"digest": digest, "n_ids": len(ids),
                           "shards": dispatch, "completed": False},
                          who="corpus_takedown")
        (_prune_frame(corpus, affected, ids)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("shard").parquet(corpus_dir))
    # shards only the intent token names were pruned by an earlier
    # attempt: their checksums come from the pruned partitions (a
    # fresh listing, the schema inferred above)
    from_token = [s for s in dispatch if s not in digests]
    if from_token:
        digests.update(
            (r.shard, r) for r in _shard_checksums(
                spark.read.schema(corpus.schema).parquet(corpus_dir),
                from_token).collect())
    results = []
    for shard in dispatch:
        d = digests.get(shard)
        if d is None:
            raise ValueError(
                f"corpus_takedown: intent token names shard "
                f"{shard!r} but the corpus at {corpus_dir!r} has no "
                f"such partition — the layout changed underneath a "
                f"crashed takedown; resolve manually")
        checksum = f"crawl-{shard}-{d.digest}-{d.n}"
        item = next((it for it in engine.catalog.items
                     if it["collection"] == collection
                     and it["variable"] == shard), None)
        if item is None:
            raise ValueError(
                f"corpus_takedown: shard {shard!r} has no "
                f"{collection!r} staging item in the engine catalog "
                f"— this engine never ingested it; takedown must run "
                f"against the engine that owns the corpus")
        item["checksum"] = checksum
        runs = engine.dispatch_for_trigger(
            Trigger(kind="staging_item", item=item),
            origin=origin or f"takedown-{digest}")
        results.append({"shard": shard, "checksum": checksum,
                        "n_docs": int(d.n),
                        "units_run": sum(1 for r in runs
                                         if r.status == "completed")})
    atomic_write_json(token_path,
                      {"digest": digest, "n_ids": len(ids),
                       "shards": dispatch, "completed": True},
                      who="corpus_takedown")
    return results


def expire_shards(spark: SparkSession, corpus_dir: str,
                  engine: DerivationEngine, shards, *,
                  collection: str = "crawl-shards",
                  minhash_indexes=(), ivf_indexes=(),
                  hamming_indexes=(), token_layouts=(),
                  audit_dir: str | None = None) -> dict:
    """RETENTION at crawl-shard grain — the expiry complement of the
    doc-grained takedown: crawl pipelines rotate, and an aged-out /
    license-expired crawl shard must leave EVERY surface wholesale.
    Where :func:`corpus_takedown` prunes named docs out of a shard,
    expiry removes the shard itself:

    - indexes: the SHARD tombstone rule (``*_index_retract`` — one
      rule row retires every generation of the shard; probes stop
      matching immediately, compaction purges);
    - token layouts: every committed generation named
      ``{shard}-{digest}`` retires via
      :func:`~georiva_spark.sources.tables.export_token_shards_retire`
      (generation discovery walks the ``_georiva_gens/`` markers with
      an unambiguous ``^shard-(-?\\d+)-(\\d+)$`` tail match — the
      ingest stream's generation naming);
    - the landed corpus: the shard partition disappears ATOMICALLY
      (dir rename to an underscore-invisible tomb, then delete — a
      reader sees the partition or its absence, never half its
      files; rename-capable filesystems only, object-store corpora
      fail by name per the commit doctrine);
    - the derivation engine: the shard's staging item AND its
      transitive derived closure (``invalidate_downstream``) leave
      the catalog, then ``run_all`` rebuilds the corpus-wide merges
      from the REMAINING partials (remaining clean units skip on
      input_hash — expiry costs O(#shards) enumeration plus the
      bounded merges, never a corpus recompute).

    Same crash contract as the takedown: an INTENT token commits
    first (per expiry request, listing the shards), every leg is
    idempotent, and the audit re-commits ``completed: true`` last.
    Expiring a shard the engine never ingested fails by name. NO
    standing hold is registered — retention is time-based; the same
    content may legitimately return as a future crawl."""
    import os
    import re
    import shutil
    import uuid

    shards = sorted({str(s) for s in shards})
    if not shards:
        raise ValueError("expire_shards: the shard list is empty")
    backend_for(corpus_dir, who="expire_shards")
    digest = hashlib.md5(",".join(shards).encode()).hexdigest()[:16]
    token_path = posixpath.join(corpus_dir,
                                f"_georiva_expire_{digest}.json")
    prior = read_token_json(token_path, who="expire_shards") or {}
    audit: dict = {"digest": digest, "shards": shards,
                   "indexes": {}, "token_layouts": {}, "corpus": []}

    items = {}
    for s in shards:
        item = next((it for it in engine.catalog.items
                     if it["collection"] == collection
                     and it["variable"] == s), None)
        if item is None and not prior:
            raise ValueError(
                f"expire_shards: shard {s!r} has no {collection!r} "
                f"staging item in the engine catalog — this engine "
                f"never ingested it")
        items[s] = item
    atomic_write_json(token_path,
                      {"digest": digest, "shards": shards,
                       "completed": False},
                      who="expire_shards")

    for family, t in _index_legs(minhash_indexes, ivf_indexes,
                                 hamming_indexes):
        for s in shards:
            _tombstones.retract(spark, t, family, s)
        audit["indexes"][t] = family

    from georiva_spark.sources.tables import export_token_shards_retire
    for p in tuple(token_layouts):
        gens_dir = os.path.join(p, "_georiva_gens")
        retired = []
        if os.path.isdir(gens_dir):
            for s in shards:
                pat = re.compile(
                    rf"^{re.escape(s)}-(-?\d+)-(\d+)\.json$")
                for f in sorted(os.listdir(gens_dir)):
                    if pat.match(f):
                        gen = f[:-len(".json")]
                        export_token_shards_retire(spark, p, gen)
                        retired.append(gen)
        audit["token_layouts"][p] = {"generations": retired}

    # the corpus partitions + engine closure
    drop_ids = []
    for s in shards:
        item = items[s]
        pdir = os.path.join(corpus_dir, f"shard={s}")
        if os.path.isdir(pdir):
            tomb = os.path.join(corpus_dir,
                                f"_expired_{uuid.uuid4().hex[:8]}")
            atomic_replace(pdir, tomb, who="expire_shards")
            shutil.rmtree(tomb, ignore_errors=True)
        if item is not None:
            affected = engine.invalidate_downstream([item["item_id"]])
            drop_ids += [item["item_id"], *affected]
            audit["corpus"].append(
                {"shard": s, "derived_dropped": len(affected)})
    if drop_ids:
        gone = set(drop_ids)
        engine.catalog.items[:] = [
            i for i in engine.catalog.items
            if i["item_id"] not in gone]
    # rebuild also on a rerun after a crash BETWEEN the catalog drop
    # and the rebuild (the intent token is the witness): the merges
    # would otherwise stay stale forever — run_all skips everything
    # already consistent (T3), so a healthy rerun costs enumeration
    if drop_ids or (prior and not prior.get("completed", False)):
        runs = engine.run_all(origin=f"expire-{digest}")
        audit["rebuild_units"] = sum(1 for r in runs
                                     if r.status == "completed")
    # sweep any tomb a crashed prior expiry left behind
    for d in os.listdir(corpus_dir):
        if d.startswith("_expired_"):
            shutil.rmtree(os.path.join(corpus_dir, d),
                          ignore_errors=True)
    atomic_write_json(token_path,
                      {"digest": digest, "shards": shards,
                       "completed": True},
                      who="expire_shards")
    if audit_dir is not None:
        atomic_write_json(
            posixpath.join(audit_dir, f"expire-{digest}.json"),
            audit, who="expire_shards")
    return audit


def read_audit_trail(spark: SparkSession, audit_dir: str) -> DataFrame:
    """The applied-compliance ledger: every takedown / expiry audit
    token committed under ``audit_dir``, one row per request —
    (kind, digest, n_ids, n_surfaces, corpus_entries). Tokens read
    through the commit backend (a pointer-backed audit dir resolves
    each pointer; a half-committed token reads as absent and is
    skipped — it will re-commit when its request completes).
    Discovery lists the directory (local / shim stores; a real
    object-store deployment lists via its own inventory and feeds
    paths here)."""
    import os
    rows = []
    names = sorted(os.listdir(audit_dir)) if os.path.isdir(audit_dir) \
        else []
    for f in names:
        for kind in ("takedown", "expire"):
            if f.startswith(f"{kind}-") and f.endswith(".json") \
                    and "__georiva_blob__" not in f:
                doc = read_token_json(posixpath.join(audit_dir, f),
                                      who="read_audit_trail")
                if doc is None:
                    continue
                rows.append((kind, doc.get("digest"),
                             int(doc.get("n_ids", 0))
                             or len(doc.get("shards", [])),
                             len(doc.get("indexes", {}))
                             + len(doc.get("token_layouts", {}))
                             + (1 if doc.get("corpus") else 0)
                             + (1 if doc.get("hold") else 0),
                             len(doc.get("corpus", []))))
    from georiva_spark.functions.frames import local_frame
    return local_frame(
        spark, rows,
        "kind string, digest string, n_ids long, n_surfaces long, "
        "corpus_entries long").orderBy("kind", "digest")


def takedown_report(spark: SparkSession, ids, *,
                    minhash_indexes=(), ivf_indexes=(),
                    hamming_indexes=(), token_layouts=(),
                    corpus_dirs=(), hold_table: str | None = None,
                    engine: DerivationEngine | None = None
                    ) -> DataFrame:
    """DRY-RUN blast radius of a takedown request — what WOULD be
    removed, surface by surface, without mutating anything. The
    report a legal/compliance reviewer reads before approving the
    apply (the reference's delete views render the same
    check-then-confirm shape for catalog items; this spans the
    index/layout/corpus surfaces the repo adds).

    One row per (surface, target[, shard]):

    - ``corpus``: per corpus dir per shard still containing any id —
      rows that a takedown would prune (the same pushed-In affected
      scan :func:`corpus_takedown` runs, aggregated per shard).
    - ``minhash`` / ``ivf`` / ``hamming``: LIVE index rows matching
      the ids (already-tombstoned rows excluded — the report counts
      what this request would newly remove; Hamming counts
      memberships, the layer its retraction works at).
    - ``token_layout``: docs and tokens the ids hold in the trainer
      bins, plus ``n_files`` — the bounded file-rewrite cost the
      apply would pay (the honest cost unit, SCALE.md r13).
    - ``hold``: how many of the ids are ALREADY held (the remainder
      is what a ``hold_table=`` apply would newly register).
    - ``derived`` (with ``engine=``): how many engine products sit
      transitively downstream of the affected shards — the recompute
      blast radius (``invalidate_downstream`` over the lineage
      graph) an apply's corpus leg would trigger.

    Everything is one bounded aggregation per surface with the id
    list pushed to the scans; the result is a small DataFrame (rows
    bounded by surfaces × shards), safe to collect."""
    from georiva_spark.operators import _index_table

    ids = sorted({int(i) for i in ids})
    if not ids:
        raise ValueError("takedown_report: the takedown id list is "
                         "empty")
    nl = F.lit(None).cast("long")
    ns = F.lit(None).cast("string")
    parts = []

    def row_agg(df, surface, target, id_col, shard_col=None):
        g = df.where(F.expr(in_longs(id_col, ids)))
        if shard_col is not None:
            return (g.groupBy(F.col(shard_col).alias("shard"))
                    .agg(F.count(F.lit(1)).alias("n_rows"))
                    .select(F.lit(surface).alias("surface"),
                            F.lit(target).alias("target"), "shard",
                            "n_rows", nl.alias("n_tokens"),
                            nl.alias("n_files")))
        return (g.agg(F.count(F.lit(1)).alias("n_rows"))
                .select(F.lit(surface).alias("surface"),
                        F.lit(target).alias("target"),
                        ns.alias("shard"), "n_rows",
                        nl.alias("n_tokens"), nl.alias("n_files")))

    affected_shards: set = set()
    for d in corpus_dirs:
        corpus = spark.read.parquet(d)
        parts.append(row_agg(corpus, "corpus", d, "doc_id",
                             shard_col="shard"))
        if engine is not None:
            affected_shards |= {
                r.shard for r in
                _affected_scan(corpus, ids).collect()}
    if engine is not None:
        # the DERIVED blast radius: every engine product transitively
        # downstream of the affected shards would recompute on apply
        item_ids = [it["item_id"] for it in engine.catalog.items
                    if it["collection"] == "crawl-shards"
                    and it["variable"] in affected_shards]
        closure = (engine.invalidate_downstream(item_ids)
                   if item_ids else [])
        from georiva_spark.functions.frames import local_frame
        parts.append(local_frame(
            spark, [("derived", "engine", None, len(closure),
                     None, None)],
            "surface string, target string, shard string, "
            "n_rows long, n_tokens long, n_files long"))
    # each index's stamps, read once, witness its tombstone tripwire
    # (a missing table has none)
    for family, t in _index_legs(minhash_indexes, ivf_indexes,
                                 hamming_indexes):
        stamped, rows, id_col = _tombstones.FAMILIES[family]
        st = _index_table.props(spark, f"{t}{stamped}", missing_ok=True)
        live = _tombstones.live_filter(spark, t, st, id_col)(
            spark.table(f"{t}{rows}"))
        parts.append(row_agg(live, family, t, id_col))
    dead = F.expr(larr(ids))
    for p in token_layouts:
        bins = (spark.read.parquet(p)
                .withColumn("__f", F.col("_metadata.file_path"))
                .where(F.arrays_overlap("doc_ids", dead)))
        n = F.size("doc_ids")
        seg = F.filter(
            F.transform(
                F.sequence(F.lit(0), n - F.lit(1)),
                lambda i: F.struct(
                    F.get("doc_ids", i).alias("doc_id"),
                    (F.coalesce(F.get("doc_offsets", i + F.lit(1)),
                                F.col("n_tokens").cast("long"))
                     - F.get("doc_offsets", i)).alias("len"))),
            lambda d: F.array_contains(dead, d["doc_id"]))
        parts.append(
            bins.agg(
                F.coalesce(F.sum(F.size(seg)), F.lit(0))
                .cast("long").alias("n_rows"),
                F.coalesce(
                    F.sum(F.aggregate(seg, F.lit(0).cast("long"),
                                      lambda a, d: a + d["len"])),
                    F.lit(0)).cast("long").alias("n_tokens"),
                F.countDistinct("__f").alias("n_files"))
            .select(F.lit("token_layout").alias("surface"),
                    F.lit(p).alias("target"), ns.alias("shard"),
                    "n_rows", "n_tokens",
                    F.col("n_files").cast("long")))
    if hold_table is not None:
        if not _tombstones.ensure_registered(spark, hold_table):
            raise ValueError(
                f"takedown_report: hold table {hold_table!r} does "
                f"not exist — create it with standing_hold()")
        parts.append(row_agg(
            spark.table(hold_table).select("id").distinct(),
            "hold", hold_table, "id"))
    if not parts:
        raise ValueError(
            "takedown_report: no surfaces named — pass at least one "
            "of minhash_indexes/ivf_indexes/hamming_indexes/"
            "token_layouts/corpus_dirs/hold_table")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("surface", "target", "shard")


# --------------------------------------------------------------------------
# Standing legal holds (r13): takedown removes WHAT IS THERE; a hold
# keeps it out. After a compaction purges the tombstone rules, a
# LATER delivery carrying a taken-down id would re-admit it (new
# content is a new ingestion decision — correct for re-crawls, wrong
# for a legal hold). The hold table is the upstream blocklist every
# admission path filters against: `start_corpus_ingest(hold_table=)`
# drops held ids BEFORE landing (the shard checksum then commits over
# ADMITTED content, so redelivery determinism survives), and the
# probe-then-grow launchers take the same param (filtered after
# `prepare`, before probe AND append). Managed like the tombstone
# rule tables: the warehouse location is ADOPTED across driver
# restarts (ignoring the files would silently re-admit held content —
# the same resurrect hazard the tombstone rule tables close). A hold
# list IS an id-list rule table (operators/_tombstones.py: located,
# adopted, seq-appended, broadcast-filtered and cleared there).


def standing_hold(spark: SparkSession, hold_table: str, ids) -> None:
    """Register ``ids`` on the standing hold list ``hold_table``
    (created on first use; prior incarnations' files adopted).
    Idempotent: duplicate ids across requests are harmless — the
    admission filter is a set anti-join."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        raise ValueError("standing_hold: the hold id list is empty")
    _tombstones.append_seq(spark, hold_table, [(i,) for i in ids])


def hold_filter(df: DataFrame, hold_table: str,
                id_col: str) -> DataFrame:
    """Drop held ids from ``df`` — the admission filter. A broadcast
    anti-join of the bounded hold list (same shape and cost as the
    tombstone live-filters: O(1) per probed row, plan-neutral when
    the list is empty). The hold table must EXIST (create it with
    :func:`standing_hold`): an absent table here is indistinguishable
    from a lost warehouse, and silently admitting everything is the
    wrong quiet answer — fail by name instead."""
    spark = df.sparkSession
    if not _tombstones.ensure_registered(spark, hold_table):
        raise ValueError(
            f"hold_filter: hold table {hold_table!r} does not exist "
            f"and no prior warehouse location is adoptable — create "
            f"it with standing_hold(); an admission path must never "
            f"silently run unfiltered")
    return _tombstones.drop_ids(df, spark.table(hold_table), id_col)


def clear_hold(spark: SparkSession, hold_table: str) -> None:
    """Release every standing hold: drop the table AND its warehouse
    location (leaving files would re-adopt the stale list)."""
    _tombstones.clear_table(spark, hold_table)


def takedown(spark: SparkSession, ids, *,
             minhash_indexes=(), ivf_indexes=(), hamming_indexes=(),
             token_layouts=(), corpus: tuple | None = None,
             hold_table: str | None = None,
             audit_dir: str | None = None) -> dict:
    """Apply one takedown request to every named surface and return
    (optionally commit) the audit record. See the module docstring
    for semantics; each leg delegates to its family function:

    - ``minhash_indexes`` / ``ivf_indexes`` / ``hamming_indexes``:
      index base names → ``*_index_retract_docs`` (tombstone rules;
      the next compaction purges — streams that use the
      probe-then-grow launchers count the pending rules toward their
      compaction cadence automatically).
    - ``token_layouts``: exported token-shard roots →
      :func:`~georiva_spark.sources.tables.export_token_shards_takedown`
      (ids absent from a layout are a structural no-op there).
    - ``corpus``: ``(corpus_dir, engine)`` → :func:`corpus_takedown`.
    - ``hold_table``: when set, the ids register as STANDING HOLDS
      FIRST (before any cleaning leg — the door closes before the
      room is swept, so a concurrent ingest cannot re-admit
      mid-takedown); every admission path configured with the same
      table (``start_corpus_ingest(hold_table=)``, the
      probe-then-grow launchers) keeps them out permanently, where a
      bare takedown only removes what is there today.
    - ``audit_dir``: when set, the full outcome commits as
      ``takedown-{digest}.json`` through sources/commit.py, LAST —
      its presence implies every leg completed (the streaming
      launcher's replay guard; same commit-witness ordering contract
      as streaming/_loop.py). The token is keyed by the id-set
      digest, so a replayed identical request rewrites identical
      content.

    Legs run indexes-first (cheapest, stops serving matches
    immediately), then the corpus closure, then the trainer layouts —
    but every leg is idempotent, so a crash anywhere is repaired by
    re-running the same request."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        raise ValueError("takedown: the takedown id list is empty")
    minhash_indexes = tuple(minhash_indexes)
    ivf_indexes = tuple(ivf_indexes)
    hamming_indexes = tuple(hamming_indexes)
    token_layouts = tuple(token_layouts)
    surfaces = (len(minhash_indexes) + len(ivf_indexes)
                + len(hamming_indexes) + len(token_layouts)
                + (1 if corpus is not None else 0)
                + (1 if hold_table is not None else 0))
    if surfaces == 0:
        raise ValueError(
            "takedown: no surfaces named — pass at least one of "
            "minhash_indexes/ivf_indexes/hamming_indexes/"
            "token_layouts/corpus/hold_table")
    digest = request_digest(ids)
    audit: dict = {"digest": digest, "n_ids": len(ids),
                   "indexes": {}, "token_layouts": {}, "corpus": [],
                   "hold": None}
    if hold_table is not None:
        standing_hold(spark, hold_table, ids)
        audit["hold"] = hold_table

    for family, t in _index_legs(minhash_indexes, ivf_indexes,
                                 hamming_indexes):
        _tombstones.retract_docs(spark, t, family, ids)
        audit["indexes"][t] = family

    if corpus is not None:
        corpus_dir, engine = corpus
        audit["corpus"] = corpus_takedown(spark, corpus_dir, engine,
                                          ids)

    from georiva_spark.sources.tables import export_token_shards_takedown
    for p in token_layouts:
        # the leg's manifest is driver-held rows: the sum runs no job
        manifest = export_token_shards_takedown(spark, p, ids)
        audit["token_layouts"][p] = {
            "bins": sum(r.n_bins for r in manifest.collect())}

    if audit_dir is not None:
        atomic_write_json(
            posixpath.join(audit_dir, f"takedown-{digest}.json"),
            audit, who="takedown")
    return audit
