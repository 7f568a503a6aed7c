"""Event-driven ingestion as Structured Streaming (SURVEY.md §2.9).

The reference's MinIO-notification → Redis → consumer → Celery chain
(docs/architecture/runtime-flow.md:136-150) collapses to a Spark file
stream: files landing in a directory are discovered by the source, each
micro-batch appends to the grid table and drives the derivation planner
over exactly the new keys (T1 + T2). Exactly-once comes from checkpointed
source offsets + idempotent unit overwrites (T3) instead of locks.

Recovery doctrine matches the reference (runtime-flow.md:189-205): no
per-event retry; a periodic AvailableNow pass (T7) re-runs the planner
sweeps (resurrection, stale recompute, reclaim).
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from georiva_spark.plans.engine import DerivationEngine, Trigger
from georiva_spark.plans.recipe import stable_item_id
from georiva_spark.schemas import GRID_SCHEMA


def grid_file_stream(spark: SparkSession, landing_dir: str,
                     schema=GRID_SCHEMA) -> DataFrame:
    """T1 — file-arrival source over a landing directory of parquet drops.

    At scale: maxFilesPerTrigger bounds batch size; the stream only lists
    new files (checkpointed), so a 100 TB history directory costs nothing
    per batch.
    """
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 64)
            .parquet(landing_dir))


def start_grid_ingest(spark: SparkSession, landing_dir: str, grid_dir: str,
                      checkpoint_dir: str,
                      engine: DerivationEngine | None = None,
                      on_batch: Callable[[DataFrame, int], None] | None = None,
                      available_now: bool = False) -> StreamingQuery:
    """T1/T2 — append new slices to the partitioned grid table, then route
    each arrived (collection, variable, time) key to exactly the derivation
    units it feeds.

    foreachBatch is the planner seam: the batch DataFrame is written once
    (partitioned by collection/variable/date for pruning), then the *keys*
    (a few rows — one per arrived slice, aggregated from the batch, never
    the pixels) drive the engine.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch, batch_id)
        (batch.withColumn("date", F.to_date("time"))
              .write.mode("append")
              .partitionBy("collection", "variable", "date")
              .parquet(grid_dir))
        if engine is not None:
            keys = (batch.groupBy("collection", "variable", "time")
                    .count().collect())
            triggers = []
            for i, k in enumerate(keys):
                # md5-derived id of the natural key (stable across
                # driver restarts; PYTHONHASHSEED-salted hash() would
                # re-register the same slice under a fresh id, r12)
                item = {"item_id": stable_item_id(
                            "grid", k.collection, k.variable, k.time),
                        "collection": k.collection, "variable": k.variable,
                        "time": k.time, "tier": "staging",
                        "checksum": f"stream-{batch_id}-{i}"}
                engine.catalog.items.append(item)
                triggers.append(Trigger("staging_item", item))
            # one batched dispatch per micro-batch (r14, guide §2.6):
            # the slices are independent staging items, so their unit
            # outputs share each level's write instead of one job each
            if triggers:
                engine.dispatch_for_triggers(
                    triggers, origin=f"stream-batch-{batch_id}")

    writer = (grid_file_stream(spark, landing_dir)
              .writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="5 seconds")
    return writer.start()


def run_sweep_now(engine: DerivationEngine) -> dict[str, int]:
    """T7 — the 5-minute recovery sweep (processing/tasks.py:19-37),
    runnable from any scheduler: reclaim stale RUNNING, resurrect
    not_ready, recompute stale-input units."""
    return engine.sweep()


CORPUS_SCHEMA = ("doc_id long, text string, lang string, "
                 "source string, shard string")


def start_corpus_ingest(spark: SparkSession, landing_dir: str,
                        corpus_dir: str, checkpoint_dir: str,
                        engine: DerivationEngine,
                        schema: str = CORPUS_SCHEMA,
                        max_files_per_trigger: int = 64,
                        available_now: bool = False,
                        token_layout: str | None = None,
                        merges: list[tuple[str, str]] | None = None,
                        context_len: int = 2048,
                        num_shards: int = 64,
                        token_alphabet: str = "",
                        recrawl: str = "reject",
                        neardup_table: str | None = None,
                        neardup_out_dir: str | None = None,
                        neardup_threshold: float = 0.5,
                        neardup_compact_every: int | None = None,
                        neardup_compact_dir: str | None = None,
                        hold_table: str | None = None,
                        _deliveries: bool = False) -> StreamingQuery:
    """T1 for the CORPUS product chain (r11): crawl-shard files land
    in a directory; each micro-batch (a) overwrites exactly the
    arrived shards' partitions of the corpus table (dynamic partition
    overwrite — a crawl shard is immutable-once-delivered, so a
    foreachBatch REPLAY rewrites identical bytes instead of
    duplicating rows), (b) registers/updates one staging item per
    arrived shard with a CONTENT checksum (order-independent
    bit_xor of row hashes — a re-delivered identical shard keeps its
    checksum), and (c) dispatches each shard's staging_item trigger
    through the engine, which runs its clean unit and chains the
    declared corpus products (datacard, token shards).

    End-to-end replay idempotency: a replayed batch re-lands the same
    partitions, recomputes the same checksums, and the engine's
    input-hash check (T3) SKIPS every unit — no duplicate rollups,
    no re-tokenization. The caller's engine must hold a grid_loader
    that reads crawl shards from ``corpus_dir`` (partition-pruned by
    shard) and derived items from the engine's output_dir.

    ``token_layout`` (+ ``merges``, r11): ALSO grow the physical
    trainer layout per arrived shard — after the engine chain runs,
    each shard's CLEAN docs (the engine-produced corpus-clean item)
    append to the token-shard layout via the exactly-once delta
    (generation = ``{shard}-{content checksum}``): a replayed batch
    is a no-op, a re-crawled shard fails by name (an immutable
    training layout can't silently swap a generation — rebuild), and
    the first arrival bootstraps the layout with a full export (the
    vocab pins then — pass ``token_alphabet`` with the tokenizer's
    full character set so it does not depend on which characters the
    first crawl happened to contain; later shards with characters
    outside it still fail by name rather than silently corrupting
    ids). Known recovery window: a crash BETWEEN the bootstrap
    export and its marker commit makes the replay fail by name at
    the duplicate guard — the layout then holds exactly that one
    uncommitted generation, so the recovery is to wipe it and
    replay (every later generation commits through the staged
    exactly-once protocol and has no such window).

    ATOMIC-DELIVERY CONTRACT (r12, the high ADVICE item): the dynamic
    partition overwrite assumes ALL files of one crawl-shard delivery
    land in ONE micro-batch — a delivery straddling two batches
    (maxFilesPerTrigger smaller than the delivery, or files landing
    across trigger intervals) would otherwise have the later batch
    silently truncate the shard partition to its own rows. The stream
    cannot distinguish a straddled delivery from an intentional
    re-crawl (both present as "this shard's committed content just
    changed"), so ``recrawl`` makes the policy explicit:

    - ``"reject"`` (default): a shard arriving with content that
      differs from its committed checksum FAILS THE BATCH BY NAME —
      nothing is overwritten, the checkpoint retries after the
      operator intervenes. Safe under any delivery layout.
    - ``"recompute"``: the caller asserts deliveries ARE batch-atomic
      (e.g. one delivery per trigger, maxFilesPerTrigger sized above
      the largest delivery — or use :func:`start_corpus_deliveries`,
      where a manifest makes atomicity structural); a changed shard
      is then an intentional re-crawl: partition overwritten, engine
      closure recomputed (T5), near-dup generations retracted.

    ``neardup_table`` (+ ``neardup_out_dir``, r12): ALSO maintain a
    persistent MinHash index over the stream — per arrived shard,
    probe the index for near-duplicate pairs (written to
    ``{neardup_out_dir}/shard={shard}``, deterministic overwrite),
    then append the shard's signatures under the generation tag
    ``index_gen(shard, content-digest)``. A replayed delivery skips
    the append (the gen is already in the sigs table); a RE-CRAWLED
    shard (``recrawl="recompute"``) first RETRACTS its previous
    generations (``minhash_index_retract`` tombstones; compaction
    purges) so probes never match content that no longer exists — T5
    staleness reaching the index, the r11 verdict's top item. The
    index must exist (``minhash_index_write``, a gen-stamped r12
    layout) before the stream starts. ``neardup_compact_every``
    (+ ``neardup_compact_dir``, r13): every N shard commits that
    APPENDED or carried PENDING tombstone rules, the index compacts
    crash-atomically (small-files tax + physical purge of
    retracted/taken-down rows — a retract-heavy re-crawl run
    otherwise defers the purge forever).

    ``hold_table`` (r13): ADMISSION filter against the standing hold
    list (plans/takedown.standing_hold — the permanent blocklist a
    takedown registers so a later crawl cannot re-admit the ids).
    Held doc_ids drop BEFORE anything else: the shard checksum
    commits over ADMITTED content, so an identical redelivery still
    T3-skips and the landed partitions never contain held docs.
    Consequence under ``recrawl="reject"``: registering a NEW hold
    and then redelivering a shard that contains it fails by name
    (the admitted content genuinely changed) — opt into
    ``recrawl="recompute"`` to apply the hold to already-landed
    shards via redelivery, or use plans/takedown.corpus_takedown
    directly. The hold table must exist at launch (fail fast)."""

    if token_layout is not None and merges is None:
        raise ValueError(
            "start_corpus_ingest: token_layout needs the pinned "
            "merges table")
    if recrawl not in ("reject", "recompute"):
        raise ValueError(
            f"start_corpus_ingest: recrawl={recrawl!r} must be "
            f"'reject' or 'recompute'")
    if (neardup_table is None) != (neardup_out_dir is None):
        raise ValueError(
            "start_corpus_ingest: neardup_table and neardup_out_dir "
            "must be passed together")
    from georiva_spark.operators.dedup import (minhash_index_compact,
                                               minhash_index_params)
    from georiva_spark.streaming._loop import _family_compact
    nd_compact = _family_compact(
        neardup_compact_every, neardup_compact_dir,
        "start_corpus_ingest",
        lambda path: minhash_index_compact(spark, neardup_table, path))
    if neardup_compact_every is not None and neardup_table is None:
        raise ValueError(
            "start_corpus_ingest: neardup_compact_every without "
            "neardup_table compacts nothing")
    if hold_table is not None:
        from georiva_spark.operators._tombstones import ensure_registered
        if not ensure_registered(spark, hold_table):
            raise ValueError(
                f"start_corpus_ingest: hold table {hold_table!r} "
                f"does not exist — create it with "
                f"plans/takedown.standing_hold before launching; an "
                f"admission path must never silently run unfiltered")
    if neardup_table is not None:
        from georiva_spark.operators._tombstones import require_gen
        minhash_index_params(spark, neardup_table)  # fail fast on launch
        require_gen(spark, neardup_table, "minhash", "start_corpus_ingest",
                    "re-crawled shards could never be retracted")

    def _grow_layout(shard: str) -> None:
        import hashlib
        import os

        from georiva_spark.sources.tables import (
            commit_generation_marker, export_token_shards,
            export_token_shards_delta, generation_digest)
        item = next((it for it in engine.catalog.items
                     if it["collection"] == "corpus-clean"
                     and it["variable"] == shard), None)
        if item is None:
            # fail-by-name, not silent skip (r12, ADVICE item 3): a
            # parked/failed clean unit means this shard's docs would
            # never reach the token layout — the micro-batch would
            # still commit to the checkpoint and nothing would ever
            # re-invoke the growth. Raising fails the batch so the
            # checkpoint retries; the generation-marker protocol
            # makes the retry safe (replays are no-ops).
            raise RuntimeError(
                f"start_corpus_ingest: shard {shard!r} has no "
                f"corpus-clean item (its clean unit parked or "
                f"failed) — refusing to commit a batch whose docs "
                f"would silently never reach the token layout; fix "
                f"the unit (run_sweep_now resurrects parked units) "
                f"and let the checkpoint retry")
        loader = engine.catalog.loader_for(item)
        if loader is None:
            raise RuntimeError(
                f"start_corpus_ingest: no grid loader for the "
                f"corpus-clean item of shard {shard!r} — the engine "
                f"catalog must load derived items to grow the token "
                f"layout")
        clean = loader()
        digest = generation_digest(clean)
        # generation name = sanitized (shard, content) key — a replay
        # reuses it (no-op), a re-crawl makes a NEW one (whose docs
        # then fail the duplicate guard by name: immutable layout)
        gen = hashlib.md5(
            f"{shard}:{digest}".encode()).hexdigest()[:16]
        if not os.path.isdir(os.path.join(token_layout,
                                          "_georiva_manifest")):
            # bootstrap: the first generation full-exports (vocab
            # pins here) and commits its marker so a replayed first
            # batch is a no-op, not a duplicate-doc failure
            export_token_shards(clean, token_layout, merges,
                                context_len=context_len,
                                num_shards=num_shards,
                                extra_alphabet=token_alphabet)
            commit_generation_marker(token_layout, gen, digest)
            return
        export_token_shards_delta(clean, token_layout, merges,
                                  generation=gen)

    def commit_shards(batch: DataFrame, batch_id: int,
                      declared_shard: str | None = None) -> None:
        """The per-delivery commit path shared by the direct stream
        and the manifest stream (start_corpus_deliveries): guard →
        partition overwrite → item register + engine dispatch →
        near-dup leg → layout growth. ``declared_shard`` (manifest
        mode) asserts the frame carries exactly that shard."""
        if hold_table is not None:
            # admission: held ids drop before the checksum, the land,
            # and every downstream leg — the hold is the upstream
            # blocklist a takedown registers (plans/takedown.py)
            from georiva_spark.plans.takedown import hold_filter
            batch = hold_filter(batch, hold_table, "doc_id")
        digests = (batch.groupBy("shard")
                   .agg(F.bit_xor(F.xxhash64("doc_id", "text"))
                        .alias("digest"),
                        F.count(F.lit(1)).alias("n"))
                   .collect())
        if not digests:
            return
        if declared_shard is not None and (
                [r.shard for r in digests] != [declared_shard]):
            raise ValueError(
                f"corpus delivery declares shard "
                f"{declared_shard!r} but its files carry "
                f"{sorted(r.shard for r in digests)} — a manifest "
                f"must list exactly one shard's files")
        # guard BEFORE any write: a shard whose committed checksum
        # differs is a straddled delivery or a re-crawl — under
        # "reject" nothing may be overwritten. (The near-dup leg's
        # retraction decision does NOT come from this check — the
        # checksum updates before that leg runs, so it reads the
        # re-crawl off the index itself; see _neardup_shard, r13.)
        for d in digests:
            checksum = f"crawl-{d.shard}-{d.digest}-{d.n}"
            item = next((it for it in engine.catalog.items
                         if it["collection"] == "crawl-shards"
                         and it["variable"] == d.shard), None)
            if item is not None and item["checksum"] != checksum \
                    and recrawl == "reject":
                raise ValueError(
                    f"start_corpus_ingest: shard {d.shard!r} "
                    f"already exists with different content "
                    f"(committed {item['checksum']}, arrived "
                    f"{checksum}) — either one delivery's files "
                    f"straddled two micro-batches (the dynamic "
                    f"partition overwrite would silently "
                    f"truncate the shard) or this is a re-crawl; "
                    f"redeliver atomically and opt in with "
                    f"recrawl='recompute', or use the "
                    f"manifest-committed start_corpus_deliveries")
        (batch.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("shard").parquet(corpus_dir))
        ordered = sorted(digests, key=lambda r: r.shard)
        triggers = []
        for d in ordered:
            checksum = f"crawl-{d.shard}-{d.digest}-{d.n}"
            item = next((it for it in engine.catalog.items
                         if it["collection"] == "crawl-shards"
                         and it["variable"] == d.shard), None)
            if item is None:
                item = {"item_id": stable_item_id("crawl", d.shard),
                        "collection": "crawl-shards",
                        "variable": d.shard, "time": None,
                        "tier": "staging", "checksum": checksum}
                engine.catalog.items.append(item)
            else:
                item["checksum"] = checksum
            triggers.append(Trigger("staging_item", item))
        # one batched engine dispatch for the micro-batch's shards
        # (r14, guide §2.6): the crawl shards are independent staging
        # items — their clean/partial units share each level's write,
        # and the chained corpus-wide merges run ONCE over all of them
        # instead of once per shard. The index/layout growth below is a
        # separate surface with no engine dependency, so hoisting it
        # after the dispatch loop reorders nothing it observes.
        if triggers:
            engine.dispatch_for_triggers(
                triggers, origin=f"corpus-stream-batch-{batch_id}")
        for d in ordered:
            if neardup_table is not None:
                _neardup_shard(
                    batch.where(F.col("shard") == d.shard)
                         .select("doc_id", "text"),
                    d.shard, f"{d.digest}-{d.n}")
            if token_layout is not None:
                _grow_layout(d.shard)

    def _neardup_shard(docs: DataFrame, shard: str,
                       digest: str) -> None:
        from georiva_spark.operators._tombstones import (GEN_SEP,
                                                         live_filter)
        from georiva_spark.operators.dedup import (
            banded_append, banded_probe, banded_stamps, index_gen,
            minhash_index_has_gen, minhash_index_retract)
        gen = index_gen(shard, digest)
        # one stamp read per shard: the probe and append parameters and
        # the tombstone tripwire's evidence that rules exist
        stamped = banded_stamps("minhash", spark, neardup_table)
        # the guard reads on the SERVING session (refreshed after
        # every append below — the streaming/_loop.py contract);
        # appends write bands first, sigs last, so gen-in-sigs
        # implies the prior append completed
        applied = minhash_index_has_gen(spark, neardup_table, gen)
        if not applied:
            # Re-crawl detection from the INDEX ITSELF (r13, ADVICE):
            # the catalog item checksum updates and dispatches BEFORE
            # this leg runs, so deciding from it is replay-unsafe — a
            # crash between that update and the retract (or a restart
            # with a fresh engine whose catalog lacks the old
            # checksum) would replay as "not recrawled" and append
            # the new generation with the dead ones still
            # probe-visible forever. Instead: any LIVE gen carrying
            # this shard's prefix other than the one about to append
            # IS a dead generation (an already-tombstoned gen is
            # filtered out, so an already-applied retract does not
            # re-fire). The full live filter also drops doc-tombstoned
            # rows; that changes the answer only when EVERY row of an
            # older generation is already taken down — rows that no
            # probe sees either way, so skipping their retract hides
            # nothing that was visible.
            sigs = live_filter(spark, neardup_table, stamped[1], "doc_id")(
                spark.table(f"{neardup_table}_sigs"))
            stale = (sigs.where(
                (F.substring_index("gen", GEN_SEP, 1) == shard)
                & (F.col("gen") != gen)).limit(1).count() > 0)
            if stale:
                # T5 → the index: tombstone every earlier generation
                # of this shard, keeping (only) the generation this
                # delivery is about to append.
                minhash_index_retract(spark, neardup_table, shard,
                                      keep_gen=gen)
                spark.catalog.refreshTable(f"{neardup_table}_dead")
        ids = docs.select("doc_id")
        pairs = banded_probe("minhash", docs, neardup_table, stamped,
                             threshold=neardup_threshold)
        # a replay whose first attempt already appended would pair
        # this shard's docs against themselves — anti-join own ids
        (pairs.join(ids.withColumnRenamed("doc_id", "doc_old"),
                    "doc_old", "left_anti")
         .write.mode("overwrite")
         .parquet(f"{neardup_out_dir}/shard={shard}"))
        if not applied:
            banded_append("minhash", docs, neardup_table, gen, stamped)
            for t in (f"{neardup_table}_bands",
                      f"{neardup_table}_sigs"):
                spark.catalog.refreshTable(t)
        _neardup_maintain(appended=not applied)

    nd_count = [0]

    def _neardup_maintain(appended: bool) -> None:
        """Compaction cadence for the near-dup leg (r13 — the corpus
        stream's index otherwise grows one file set per shard forever
        and a retract-heavy re-crawl run never purges): a shard
        commit counts when it APPENDED or when tombstone rules are
        PENDING (the streaming/_loop.py r13 rule); every
        ``neardup_compact_every`` counted commits the index compacts
        crash-atomically into a fresh staging dir."""
        if nd_compact is None:
            return
        from georiva_spark.operators._tombstones import has_rules
        if not appended and not has_rules(spark, neardup_table):
            return
        nd_count[0] += 1
        if nd_count[0] % neardup_compact_every:
            return
        nd_compact(nd_count[0])
        for t in (f"{neardup_table}_bands", f"{neardup_table}_sigs"):
            spark.catalog.refreshTable(t)

    if _deliveries:
        # manifest mode (start_corpus_deliveries): the streamed
        # objects are DELIVERY MANIFESTS, each naming one shard's
        # complete file list — one manifest is one file, so a
        # delivery can never straddle micro-batches no matter how
        # maxFilesPerTrigger slices the landing listing
        def process(batch: DataFrame, batch_id: int) -> None:
            rows = sorted(batch.select("shard", "paths").collect(),
                          key=lambda r: (r.shard, tuple(r.paths)))
            shards = [r.shard for r in rows]
            if len(set(shards)) != len(shards):
                dup = sorted({s for s in shards
                              if shards.count(s) > 1})
                raise ValueError(
                    f"start_corpus_deliveries: two manifests for "
                    f"shard(s) {dup} arrived in one micro-batch — "
                    f"their commit order is undefined; deliver "
                    f"re-crawls in separate trigger intervals")
            bsp = batch.sparkSession
            for r in rows:
                data = bsp.read.schema(schema).parquet(*r.paths)
                commit_shards(data, batch_id, declared_shard=r.shard)

        src = (spark.readStream
               .schema("shard string, paths array<string>")
               .option("maxFilesPerTrigger", max_files_per_trigger)
               .json(landing_dir))
    else:
        def process(batch: DataFrame, batch_id: int) -> None:
            commit_shards(batch, batch_id)

        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", max_files_per_trigger)
               .parquet(landing_dir))

    writer = (src.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="5 seconds")
    return writer.start()


def write_delivery_manifest(landing_dir: str, shard: str,
                            paths: list[str]) -> str:
    """Commit one crawl-shard delivery for
    :func:`start_corpus_deliveries`: an atomically-written JSON
    manifest naming the shard and its COMPLETE file list. The file
    name is content-keyed (md5 of shard + paths), so an identical
    redelivery lands on the same name (the file stream has already
    processed it — a structural no-op) while a re-crawl (different
    files) is a NEW manifest. The crawler writes data files first,
    the manifest LAST — the stream only ever sees complete
    deliveries, which is what makes the atomic-delivery contract
    structural instead of assumed."""
    import hashlib

    from georiva_spark.sources.commit import atomic_write_json

    key = hashlib.md5(
        "\x1f".join([shard, *sorted(paths)]).encode()).hexdigest()[:16]
    p = os.path.join(landing_dir, f"delivery-{key}.json")
    atomic_write_json(p, {"shard": shard, "paths": sorted(paths)},
                      who="write_delivery_manifest")
    return p


def start_corpus_deliveries(spark: SparkSession, landing_dir: str,
                            corpus_dir: str, checkpoint_dir: str,
                            engine: DerivationEngine,
                            recrawl: str = "recompute",
                            **kwargs) -> StreamingQuery:
    """MANIFEST-COMMITTED corpus ingestion (r12 — the structural fix
    for the straddled-delivery hazard): the landing directory
    receives :func:`write_delivery_manifest` JSON files, each the
    atomic commit token of one complete shard delivery. The stream
    processes manifests (never loose data files), reads each
    manifest's listed parquet files as ONE unit, and runs the same
    per-shard commit path as :func:`start_corpus_ingest` — so a
    delivery can never straddle micro-batches, and a re-crawl is
    unambiguous (a new manifest for an existing shard), which is why
    ``recrawl`` defaults to ``"recompute"`` here: the engine
    recomputes the shard's closure (T5) and the near-dup index
    retracts the dead generations. All other keyword arguments match
    :func:`start_corpus_ingest` (schema describes the DATA files;
    the manifest schema is fixed)."""
    return start_corpus_ingest(spark, landing_dir, corpus_dir,
                               checkpoint_dir, engine,
                               recrawl=recrawl, _deliveries=True,
                               **kwargs)
