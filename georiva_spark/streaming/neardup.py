"""Continuous near-duplicate detection against a GROWING corpus — the
streaming face of the incremental MinHash-LSH index
(operators/dedup.py: minhash_index_write / probe / append).

The growing-corpus dedup shape at 100 TB: the existing corpus lives in
two bucketed index tables (shuffle paid once at write); each arriving
micro-batch of documents (a crawl shard, an upload burst) is probed
against the index — signatures computed for the DELTA only, index side
scanned shuffle-free — and then appended INTO the index in the same
bucket layout, so batch N+1 dedups against everything through batch N.
Nothing about the existing corpus is ever recomputed or re-shuffled.

Idempotency across restarts (foreachBatch is at-least-once): the
shared probe-then-grow skeleton (streaming/_loop.py) overwrites the
deterministic ``{out_dir}/batch_id=B`` directory, guards the append on
the batch's presence in the SIGNATURE table (append writes bands first
and sigs last, so "any batch doc in _sigs" implies the append
completed), and refreshes the serving session's relation caches after
growth. Phantom pairs a replay would see against its OWN docs
(appended by the crashed first attempt) are anti-joined away here. The
one partial-failure residue is duplicate BAND rows from a crash
between the two appends; those only duplicate candidates, which the
probe's dropDuplicates already collapses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from georiva_spark.operators.dedup import (minhash_index_append,
                                           minhash_index_compact,
                                           minhash_index_params,
                                           minhash_index_probe)
from georiva_spark.streaming._loop import _family_compact, run_probe_grow


def start_neardup_stream(docs_stream: DataFrame, table: str,
                         out_dir: str, checkpoint_dir: str,
                         threshold: float = 0.5, grow: bool = True,
                         compact_every: int | None = None,
                         compact_dir: str | None = None,
                         gen_fn=None,
                         shard_col: str | None = None,
                         hold_table: str | None = None):
    """Start the probe-then-grow stream: ``docs_stream`` must carry
    (doc_id, text) with corpus-unique doc_ids; pairs land in
    ``{out_dir}/batch_id=N`` as (doc_new, doc_old, est_jaccard).
    ``grow=False`` probes without appending (audit mode). With
    ``compact_every=N`` (requires ``compact_dir``), every N appends
    the index compacts in place via
    :func:`~georiva_spark.operators.dedup.minhash_index_compact` —
    fresh staging dirs under ``compact_dir``; retired ones are the
    operator's to delete. ``gen_fn`` (r12, e.g.
    :func:`~georiva_spark.operators._tombstones.batch_delivery_gen`)
    tags each batch's appended rows with a generation so a re-crawled
    delivery can later be retracted
    (:func:`~georiva_spark.operators.dedup.minhash_index_retract`).
    ``shard_col`` (r13): opt into MULTI-SHARD micro-batches — the
    batch is sliced per distinct shard and the guard + gen-tagged
    append run per slice, so file arrivals straddling shard
    boundaries (maxFilesPerTrigger slicing) append one generation per
    shard instead of failing batch_delivery_gen's one-shard contract;
    the replay guard holds per shard. ``hold_table`` (r13): filter
    every batch through the standing hold list (a takedown's
    permanent blocklist — held doc_ids neither probe nor append; see
    plans/takedown.standing_hold). Returns the StreamingQuery."""
    spark = docs_stream.sparkSession
    minhash_index_params(spark, table)            # fail fast on launch
    compact = _family_compact(
        compact_every, compact_dir, "start_neardup_stream",
        lambda path: minhash_index_compact(spark, table, path))

    def pairs(work: DataFrame) -> DataFrame:
        # a replayed batch whose first attempt already appended would
        # otherwise pair its docs against THEMSELVES in the index —
        # drop pairs whose doc_old is in this batch
        ids = work.select("doc_id")
        p = minhash_index_probe(work, table, threshold=threshold)
        return p.join(ids.withColumnRenamed("doc_id", "doc_old"),
                      "doc_old", "left_anti")

    return run_probe_grow(
        docs_stream, checkpoint_dir, spark=spark,
        outputs=[(out_dir, pairs)],
        guard_table=f"{table}_sigs",
        guard_keys=lambda w: w.select("doc_id"),
        append=lambda w: minhash_index_append(
            w, table, gen=(gen_fn(w) if gen_fn else "")),
        refresh_tables=(f"{table}_bands", f"{table}_sigs"),
        grow=grow,
        compact_every_n_appends=(None if compact is None
                                 else compact_every),
        compact=compact, rules_table=table,
        split_col=shard_col, hold_table=hold_table,
        hold_id_col=None if hold_table is None else "doc_id")


def read_neardup_pairs(spark, out_dir: str) -> DataFrame:
    """Read the accumulated pair output (all batches)."""
    return (spark.read.option("basePath", out_dir)
            .parquet(f"{out_dir}/batch_id=*")
            .select("doc_new", "doc_old", "est_jaccard",
                    F.col("batch_id").cast("long").alias("batch_id")))
