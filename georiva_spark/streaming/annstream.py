"""Continuous ANN serving against a GROWING vector corpus — the
streaming face of the persistent IVF index (operators/similarity.py:
ivf_index_write / probe_batch / append), mirroring the MinHash loop in
streaming/neardup.py.

The growing-corpus shape at 100 TB: the existing corpus lives in the
cell-partitioned index (assignment paid once at write); each arriving
micro-batch of embeddings (a crawl shard's vectors, an upload burst) is
batch-probed against the index — routing is in-row over the bounded
centroid sidecar, the scan prunes to the probed-cell union at listing
time — and then appended INTO the index in the same cell layout
(assigned with the index's OWN centroids, zero shuffle), so batch N+1
queries see every vector through batch N. Nothing about the existing
corpus is ever re-assigned or re-shuffled.

Idempotency across restarts (foreachBatch is at-least-once): the
shared probe-then-grow skeleton (streaming/_loop.py) overwrites the
deterministic ``{out_dir}/batch_id=B`` directory, guards the append on
the batch's presence in the index table (any batch vec_id already in a
cell partition implies the append completed), and refreshes the
serving session's relation caches after growth. Phantom matches a
replay would see against its OWN vectors (appended by the crashed
first attempt) are anti-joined away here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from georiva_spark.operators.similarity import (_IvfLayout,
                                                ivf_index_append,
                                                ivf_index_compact,
                                                ivf_index_probe_batch)
from georiva_spark.streaming._loop import _family_compact, run_probe_grow


def start_ann_stream(emb_stream: DataFrame, table: str, out_dir: str,
                     checkpoint_dir: str, k: int = 5, nprobe: int = 2,
                     grow: bool = True,
                     compact_every: int | None = None,
                     compact_dir: str | None = None,
                     retrain_iters: int = 0,
                     train_sample_ppm: int | None = None,
                     retrain_emb=None, gen_fn=None,
                     shard_col: str | None = None,
                     hold_table: str | None = None):
    """Start the probe-then-grow ANN stream: ``emb_stream`` must carry
    (vec_id, embedding) with corpus-unique vec_ids; per-batch neighbor
    sets land in ``{out_dir}/batch_id=N`` as (q_id, vec_id, cell,
    cosine) — or (…, adc_dist) when ``table`` is a PQ-compressed
    index (detected from its TBLPROPERTIES stamp: the same loop
    serves and grows both layouts). ``grow=False`` probes without
    appending (serving-only mode).

    With ``compact_every=N`` (requires ``compact_dir``), every N
    appends the index compacts in place — one file per cell again —
    optionally RETRAINING the coarse quantizer (``retrain_iters>0``,
    the drift story; ``train_sample_ppm`` bounds the training scan).

    PQ retrain (r10 — the wired maintenance pass, the reference's
    5-minute-sweep doctrine): a PQ table stores sub-codes only, so
    retraining needs the FLOAT corpus — pass ``retrain_emb``, either
    a zero-arg callable returning the CURRENT float corpus DataFrame
    (base + every appended delta; it is re-invoked at each
    compaction, so a parquet-landing read stays current) or a table
    name string. When the append counter trips, the loop runs
    :func:`~georiva_spark.operators.similarity.ivf_index_compact`
    with ``emb=retrain_emb(...)`` — quantizer + stamped codebook
    retrain, version bump, sidecars-then-main swap — and the serving
    session refreshes, all inside the stream. Append and compact are
    one function each for both layouts (they read the layout from
    the index's stamps), so the loop builds one closure of each.
    Requesting PQ retrain WITHOUT ``retrain_emb`` still fails by name
    at launch (the float corpus cannot be conjured from sub-codes);
    layout-only PQ compaction (``retrain_iters=0``) needs no floats.
    Returns the StreamingQuery."""
    spark = emb_stream.sparkSession
    layout = _IvfLayout(spark, table)
    layout.cents                 # fail fast: no centroid sidecar
    if retrain_emb is not None and not (layout.pq and retrain_iters > 0):
        raise ValueError(
            "start_ann_stream: retrain_emb only applies to PQ "
            "retraining compaction (a float index retrains from its "
            "own rows; without retrain_iters>0 nothing retrains)")
    if layout.pq and retrain_iters > 0 and retrain_emb is None:
        raise ValueError(
            "start_ann_stream: retrain_iters>0 on a PQ index — "
            "retraining re-encodes from the FLOAT corpus, which the "
            "sub-code table doesn't carry; pass retrain_emb= (a "
            "callable returning the grown float corpus, or a table "
            "name) to wire the in-stream maintenance pass")

    def _floats() -> DataFrame | None:
        if retrain_emb is None:
            return None
        return (retrain_emb() if callable(retrain_emb)
                else spark.table(retrain_emb))
    compact = _family_compact(
        compact_every, compact_dir, "start_ann_stream",
        lambda path: ivf_index_compact(
            spark, table, path, retrain_iters=retrain_iters,
            train_sample_ppm=train_sample_ppm, emb=_floats()))

    def neighbors(work: DataFrame) -> DataFrame:
        # a replayed batch whose first attempt already appended would
        # otherwise match its vectors against THEMSELVES in the index
        queries = work.select(F.col("vec_id").alias("q_id"),
                              "embedding")
        nbrs = ivf_index_probe_batch(spark, table, queries, k=k,
                                     nprobe=nprobe)
        return nbrs.join(work.select("vec_id"), "vec_id", "left_anti")

    return run_probe_grow(
        emb_stream, checkpoint_dir, spark=spark,
        outputs=[(out_dir, neighbors)],
        guard_table=table,
        guard_keys=lambda w: w.select("vec_id"),
        # gen_fn (r12, e.g. _tombstones.batch_delivery_gen) tags each
        # batch's appended rows so a re-crawled delivery can later be
        # retracted via ivf_index_retract
        append=lambda w: ivf_index_append(
            w.select("vec_id", "embedding"), table,
            gen=(gen_fn(w) if gen_fn else "")),
        # a retraining compaction swaps every sidecar the stamps name
        # (centroids, PQ codebook, OPQ rotation) — refresh them too
        refresh_tables=(table, *(f"{table}{sc}" for sc in layout.sidecars)),
        grow=grow,
        compact_every_n_appends=(None if compact is None
                                 else compact_every),
        compact=compact, rules_table=table,
        hold_table=hold_table,
        hold_id_col=None if hold_table is None else "vec_id",
        # shard_col (r13): multi-shard micro-batches — guard +
        # gen-tagged append run per shard slice (see
        # start_neardup_stream)
        split_col=shard_col)


def read_ann_neighbors(spark, out_dir: str) -> DataFrame:
    """Read the accumulated neighbor output (all batches). The score
    column is `cosine` for a float index, `adc_dist` for a PQ one."""
    df = (spark.read.option("basePath", out_dir)
          .parquet(f"{out_dir}/batch_id=*"))
    return df.withColumn("batch_id", F.col("batch_id").cast("long"))
