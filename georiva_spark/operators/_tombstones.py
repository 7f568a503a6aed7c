"""Generation + doc tombstones — ONE implementation of T5-style
retraction for every persistent index family (r12, extended r13):
MinHash text bands (operators/dedup.py), Hamming media membership
(dedup.py), IVF float and IVF-PQ embedding cells
(operators/similarity.py).

Two granularities, one shape:

- **Shard rules** (r12, ``{table}_dead``): index rows appended from
  one delivery of one crawl shard carry a GENERATION tag
  (``make_gen(shard, digest)`` — deterministic of (shard, content),
  so a replayed delivery re-mints the same tag while a re-crawl mints
  a new one). Retracting a re-crawled shard appends ONE rule row
  (shard, keep_gen, seq); the LATEST rule per shard wins (append-only
  — no overwrite window for concurrent probes to read an empty rule
  set).
- **Doc rules** (r13, ``{table}_dead_docs``): a TAKEDOWN /
  right-to-be-forgotten request names specific item ids, not a crawl
  shard — re-crawling the whole shard without the docs would be the
  only r12 path. ``retract_docs`` appends the bounded id list
  (id, seq); rules accumulate (there is no "latest wins" — a
  takedown has no keep side). Works on ANY layout, including
  unversioned pre-r12 indexes (the filter keys on the id column, not
  the gen).

Probes filter live rows via BROADCAST anti-joins of the bounded rule
tables (plans as BroadcastHashJoin LeftAnti, plan-asserted in
tests/test_plan_evidence.py), so retraction is O(1) at event time and
never rewrites or reshuffles the index. Each family's compaction
removes dead rows PHYSICALLY and clears the rules AFTER its table
swaps — a crash between leaves rules that match nothing (idempotently
re-appliable), never a window where dead rows are live again.
Re-admission semantics: once compaction purges a doc rule, a LATER
append may re-introduce the id — new content is a new ingestion
decision; a standing legal hold belongs upstream of the crawler.

Single-writer: retracts and compactions are the stream's to sequence
(the same contract as appends). r13 makes a violation OBSERVABLE:
compactions call :func:`validate_single_writer` first, which fails by
name when two rules for one shard share a seq ("latest rule per
shard" would be ambiguous — two concurrent retracters read-then-
appended the same max(seq)+1).

Fail-by-name adoption (r13): every retract stamps
``georiva.has_tombstones`` / ``georiva.has_doc_tombstones`` on the
family's stamped index table (through operators/_index_table.py). A
restarted driver whose in-memory catalog forgot the rule table ADOPTS
its warehouse files (:func:`ensure_registered`); on a warehouse where
adoption is impossible (non-``file:`` scheme + no metastore) the stamp
makes the next probe RAISE instead of silently resurrecting dead rows.

Managed id-list tables: the rule tables and the standing hold lists
(plans/takedown.py) are the same kind of table — append-only parquet
under the session warehouse, ``seq``-stamped per append, adopted after
a restart, applied as a broadcast anti-join, dropped with their
location. This module is their one home: :func:`warehouse_path`
locates, :func:`ensure_registered` adopts, :func:`append_seq` appends,
:func:`live_filter` / :func:`drop_ids` filter and :func:`clear_table`
clears; nothing else spells a warehouse path or a LOCATION clause.

Reference analog: ``processing/invocation.py:210-247`` — staleness
is transitive to *everything* derived, including index rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from georiva_spark.operators import _index_table

#: separator between the shard name and the content digest inside a
#: generation tag — unprintable so it can never occur in a shard
#: name, making shard extraction from a gen unambiguous
GEN_SEP = "\x1f"

#: the id-list DDL: doc rules and standing holds
_ID_LIST = "id BIGINT, seq BIGINT"

#: rule-table suffix -> (DDL, index stamp set at retract time)
_RULE_KINDS = {
    "_dead": ("shard STRING, keep_gen STRING, seq BIGINT",
              "has_tombstones"),
    "_dead_docs": (_ID_LIST, "has_doc_tombstones"),
}

#: index family -> (stamped-table suffix, row-table suffix, id column):
#: the stamps carry the tombstone witnesses; the row table carries the
#: gen tag and the ids a takedown names (Hamming retracts at its
#: membership table, the band rows are shared distinct codes)
FAMILIES = {
    "minhash": ("_bands", "_sigs", "doc_id"),
    "ivf": ("", "", "vec_id"),
    "hamming": ("_bands", "_ids", "id"),
}


def make_gen(shard: str, digest: str) -> str:
    """Generation tag for index rows appended from one delivery of
    one crawl shard: ``shard + GEN_SEP + digest``."""
    if not shard:
        raise ValueError("make_gen: shard must be non-empty")
    if GEN_SEP in shard:
        raise ValueError("make_gen: shard contains the GEN_SEP "
                         "sentinel byte")
    return f"{shard}{GEN_SEP}{digest}"


def warehouse_path(spark, name: str = "") -> str | None:
    """The on-disk location of managed table ``name`` under the session
    warehouse (the warehouse root itself for ``name=''``), or None on
    a non-local warehouse. ``file:`` and ``file:///`` prefixes
    normalise to a plain path. Local filesystems only — adoption is a
    local-warehouse concern; a metastore-backed deployment keeps the
    catalog entry across restarts and never needs it."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = "/" + wh[len("file:"):].lstrip("/")
    elif "://" in wh:
        return None
    return os.path.join(wh, name.lower()) if wh else None


def ensure_registered(spark, name: str, ddl: str = _ID_LIST) -> bool:
    """True if the managed table ``name`` (schema ``ddl``) is queryable
    in THIS session. Spark's in-memory catalog forgets tables across
    driver restarts while the warehouse keeps their files — a
    restarted session must ADOPT the prior incarnation's table
    (re-register the location), because (a) ignoring it would
    silently resurrect dead rows / re-admit held ids and (b)
    re-creating a managed table over the existing location fails with
    LOCATION_ALREADY_EXISTS."""
    if spark.catalog.tableExists(name):
        return True
    loc = warehouse_path(spark, name)
    if loc and os.path.isdir(loc):
        spark.sql(f"CREATE TABLE {name} ({ddl}) "
                  f"USING parquet LOCATION '{loc}'")
        return True
    return False


def append_seq(spark, name: str, rows, ddl: str = _ID_LIST) -> int:
    """Append ``rows`` (tuples of ``ddl``'s columns before ``seq``) to
    the managed table ``name`` under the next seq (0 for a new table,
    adopting a prior incarnation's files first); returns that seq."""
    seq = 0
    if ensure_registered(spark, name, ddl):
        seq = (spark.table(name).agg(F.max("seq")).head()[0] or 0) + 1
    from georiva_spark.functions.frames import local_frame
    (local_frame(spark, [(*r, seq) for r in rows], ddl)
     .write.mode("append").format("parquet").saveAsTable(name))
    spark.catalog.refreshTable(name)
    return seq


def drop_ids(df: DataFrame, id_table: DataFrame,
             id_col: str) -> DataFrame:
    """Drop the rows of ``df`` whose ``id_col`` is listed in the
    id-list table ``id_table`` (a doc-rule table or a standing hold)
    — one broadcast anti-join of the bounded list: O(1) per row,
    never a shuffle of ``df``."""
    listed = id_table.select(F.col("id").alias("__dead_id")).distinct()
    return df.join(F.broadcast(listed),
                   F.col(id_col) == F.col("__dead_id"), "left_anti")


def clear_table(spark, name: str) -> None:
    """Drop the managed table ``name`` AND its warehouse location — an
    ADOPTED table is external, so DROP alone would strand its files
    and the next incarnation would adopt them again."""
    import shutil
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = warehouse_path(spark, name)
    if loc:
        shutil.rmtree(loc, ignore_errors=True)


def _require_adoptable(spark, table: str, suffix: str,
                       stamps: dict | None) -> None:
    """The rule table is neither registered nor adoptable — fine iff
    nothing was ever retracted. The stamp on the index table (its
    already-read ``stamps``) is the witness: if it says rules exist,
    a restarted driver on a warehouse where adoption is impossible
    (non-``file:`` scheme, no metastore) must FAIL BY NAME here
    instead of silently resurrecting dead rows at this very probe."""
    prop = _RULE_KINDS[suffix][1]
    seq = _index_table.get(stamps or {}, prop)
    if seq:
        raise ValueError(
            f"index {table!r} is stamped {_index_table.key(prop)}={seq}"
            f" but its {table}{suffix} rule table is neither registered"
            f" in this session's catalog nor adoptable from the "
            f"warehouse ({spark.conf.get('spark.sql.warehouse.dir', '')!r})"
            f" — probing now would silently resurrect retracted rows."
            f" Re-register the rule table (metastore deployments keep"
            f" it automatically), or compact the index from a session"
            f" that still holds the rules. See SCALE.md §Commit "
            f"protocol (tombstone rule tables).")


def _rules_registered(spark, table: str, suffix: str) -> bool:
    return ensure_registered(spark, f"{table}{suffix}",
                             _RULE_KINDS[suffix][0])


def _has_gen(spark, table: str, family: str) -> bool:
    return "gen" in spark.table(f"{table}{FAMILIES[family][1]}").columns


def require_gen(spark, table: str, family: str, who: str,
                why: str = "its rows carry no generation to retract"
                ) -> None:
    """Fail by name when the ``family`` index ``table`` is an
    unversioned pre-r12 layout (its row table has no gen column)."""
    if not _has_gen(spark, table, family):
        raise ValueError(
            f"{who}: {table!r} is an unversioned (pre-r12) layout "
            f"without a gen column — {why}; rebuild the index to make "
            f"shards retractable")


def gen_cols(spark, table: str, family: str, gen: str, who: str) -> list:
    """The generation-tag column for an append into the ``family``
    index ``table`` — empty for an unversioned pre-r12 layout (which
    refuses TAGGED appends by name: it could never retract them)."""
    if gen:
        require_gen(spark, table, family, who,
                    "it cannot take generation-tagged appends")
    elif not _has_gen(spark, table, family):
        return []
    return [F.lit(gen).alias("gen")]


def batch_delivery_gen(shard_col: str, id_col: str,
                       content_col: str):
    """A ready-made ``gen_fn`` for the probe-then-grow stream
    launchers (neardup/annstream/mediadup): the caller lands one
    crawl-shard delivery per micro-batch with a constant
    ``shard_col``; the gen is :func:`make_gen`(shard,
    order-independent content digest) — deterministic across
    replays, new on a re-crawl, so a later
    ``*_index_retract(shard)`` can tombstone exactly the dead
    delivery. A batch carrying more than one shard fails by name
    (the same atomic-delivery contract as start_corpus_ingest);
    launchers that opt into multi-shard batches split the batch per
    shard FIRST (``split_by_shard``) and call this on each slice."""
    def fn(work: DataFrame) -> str:
        row = work.agg(
            F.count_distinct(F.col(shard_col)).alias("k"),
            F.first(shard_col).alias("shard"),
            F.bit_xor(F.xxhash64(id_col, content_col)).alias("d"),
            F.count(F.lit(1)).alias("n")).head()
        if row["k"] != 1:
            raise ValueError(
                f"batch_delivery_gen: micro-batch carries "
                f"{row['k']} distinct {shard_col!r} values — one "
                f"delivery per batch (the atomic-delivery contract)")
        return make_gen(str(row["shard"]), f"{row['d']}-{row['n']}")
    return fn


def retract(spark, table: str, family: str, shard: str,
            keep_gen: str = "") -> None:
    """Tombstone every generation of ``shard`` except ``keep_gen``
    (pass the NEW delivery's :func:`make_gen`, or '' to retract the
    shard entirely) in the ``family`` index ``table``. An unversioned
    pre-r12 layout fails by name instead of accepting rules that match
    nothing. The family's stamped table is marked
    ``georiva.has_tombstones`` (r13) so a later session that cannot
    adopt the rule table fails by name instead of resurrecting dead
    rows."""
    who = f"{family}_index_retract"
    if not shard:
        raise ValueError(
            f"{who}: shard must be non-empty — retracting the "
            f"unversioned '' base would tombstone the whole index")
    require_gen(spark, table, family, who)
    seq = append_seq(spark, f"{table}_dead", [(shard, keep_gen)],
                     _RULE_KINDS["_dead"][0])
    _index_table.stamp(spark, f"{table}{FAMILIES[family][0]}",
                       {"has_tombstones": seq})


def retract_docs(spark, table: str, family: str, ids) -> None:
    """Takedown (r13): tombstone SPECIFIC item ids out of the
    ``family`` index ``table`` — the doc-grained retraction a
    production corpus pipeline needs monthly (legal takedown,
    right-to-be-forgotten) where re-crawling the whole shard without
    the docs would be the only shard-rule path. ``ids`` is the bounded
    id list of the request (a human/legal artifact — never
    corpus-proportional). Appends (id, seq) rows to
    ``{table}_dead_docs``; probes apply a second broadcast anti-join
    (:func:`live_filter`); compaction purges physically and clears the
    rules. Unlike shard rules there is no keep side and rules
    ACCUMULATE; duplicate ids across requests are harmless (anti-join
    is idempotent)."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        raise ValueError(f"{family}_index_retract_docs: the takedown "
                         f"id list is empty")
    seq = append_seq(spark, f"{table}_dead_docs", [(i,) for i in ids])
    _index_table.stamp(spark, f"{table}{FAMILIES[family][0]}",
                       {"has_doc_tombstones": seq})


def _dead_rules(spark, table: str,
                stamps: dict | None) -> DataFrame | None:
    """Latest tombstone rule per shard from ``{table}_dead`` (None if
    the index has never retracted anything). Adopts a prior driver
    incarnation's rule files if the in-memory catalog forgot them — a
    restart must never resurrect dead rows; when adoption is
    impossible but ``stamps`` say rules exist, fails by name (r13)."""
    if not _rules_registered(spark, table, "_dead"):
        _require_adoptable(spark, table, "_dead", stamps)
        return None
    from pyspark.sql import Window
    w = Window.partitionBy("shard").orderBy(F.col("seq").desc())
    return (spark.table(f"{table}_dead")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col("shard").alias("__dead_shard"),
                    F.col("keep_gen").alias("__keep_gen")))


def _live_rows(df: DataFrame, dead: DataFrame | None) -> DataFrame:
    """Drop rows whose gen belongs to a tombstoned shard and is not
    that shard's keep_gen. The rule table is broadcast (bounded by
    #retracted shards), so the anti-join never shuffles the index;
    unversioned layouts (no gen column) pass through untouched."""
    if dead is None or "gen" not in df.columns:
        return df
    shard_of = F.substring_index(F.col("gen"), GEN_SEP, 1)
    cond = ((shard_of == F.col("__dead_shard"))
            & (F.col("gen") != F.col("__keep_gen")))
    return df.join(F.broadcast(dead), cond, "left_anti")


def live_filter(spark, table: str, stamps: dict | None, id_col: str):
    """The LIVE-row filter of index ``table``: a DataFrame → DataFrame
    function dropping rows of tombstoned generations (shard rules,
    r12) and then rows whose ``id_col`` is taken down (doc rules,
    r13) — each a broadcast anti-join of its bounded rule table, so
    the index is never shuffled and partition pruning below the
    filters is unaffected. Both rule tables are located (and adopted)
    once, here; ``stamps`` (the family's stamped table, read once by
    the caller through operators/_index_table.py) is the adoption
    tripwire's witness. Frames without a gen column pass the shard
    rules, frames without ``id_col`` (e.g. the Hamming distinct-code
    band table, retracted at the membership layer) pass the doc
    rules."""
    dead = _dead_rules(spark, table, stamps)
    docs = None
    if _rules_registered(spark, table, "_dead_docs"):
        docs = spark.table(f"{table}_dead_docs")
    else:
        _require_adoptable(spark, table, "_dead_docs", stamps)

    def live(df: DataFrame) -> DataFrame:
        df = _live_rows(df, dead)
        if docs is None or id_col not in df.columns:
            return df
        return drop_ids(df, docs, id_col)
    return live


def validate_single_writer(spark, table: str) -> None:
    """Make the single-writer rule-table contract OBSERVABLE (r13):
    ``retract`` derives seq via read-then-append, so two CONCURRENT
    retracters can mint the same seq — after which "latest rule per
    shard" is ambiguous (row_number over a tied seq picks an
    arbitrary winner). Compactions call this before purging: a
    duplicate (shard, seq) fails by name instead of physically
    deleting rows chosen by an ambiguous rule."""
    if _rules_registered(spark, table, "_dead"):
        dup = (spark.table(f"{table}_dead")
               .groupBy("shard", "seq")
               .agg(F.count(F.lit(1)).alias("n"))
               .where(F.col("n") > 1).limit(1).collect())
        if dup:
            r = dup[0]
            raise ValueError(
                f"{table}_dead holds {r['n']} rules for shard "
                f"{r['shard']!r} at seq {r['seq']} — two writers "
                f"retracted concurrently and 'latest rule per shard' "
                f"is ambiguous; the single-writer contract (retracts "
                f"are the stream's to sequence, like appends) was "
                f"violated. Resolve manually before compacting.")


def has_rules(spark, table: str) -> bool:
    """True if the index has pending (uncompacted) tombstone rules —
    shard-grained or doc-grained."""
    return any(_rules_registered(spark, table, s) for s in _RULE_KINDS)


def clear_rules(spark, table: str,
                stamp_table: str | None = None) -> None:
    """Drop BOTH rule tables AND their on-disk locations — the
    compaction epilogue, run strictly AFTER the purged tables swapped
    in (applied-then-cleared: a crash between swap and clear leaves
    rules that match nothing). The locations are removed explicitly
    because an ADOPTED rule table (post-restart, ensure_registered)
    is external (:func:`clear_table`). The has-tombstones stamps
    unset FIRST (before the drops): a crash between unset and drop
    leaves live rules still registered (safe); the reverse order
    would leave a stamp pointing at nothing, tripping the r13
    fail-by-name adoption check on an intact index. A no-op when the
    index has no rules: a no-retraction compaction must issue ZERO
    extra catalog statements (its crash-atomicity contract enumerates
    them — tests/test_dedup_index.py's swap failpoints)."""
    pending = [s for s in _RULE_KINDS
               if _rules_registered(spark, table, s)]
    if not pending:
        return
    if stamp_table and spark.catalog.tableExists(stamp_table):
        _index_table.unstamp(spark, stamp_table,
                             [_RULE_KINDS[s][1] for s in pending])
    for s in pending:
        clear_table(spark, f"{table}{s}")
