"""Continuous crawl→corpus ingestion — the streaming face of the
corpus_pipeline composition (queries_ext.q_corpus_pipeline): WARC
shards land in a directory; each micro-batch demuxes its records
(sources/warc_codec.warc_parse — the SAME transform the batch scan
uses), strips HTML from response payloads, gates on the Gopher quality
rules, probes the surviving documents against a GROWING MinHash index
(delta-only signatures, index side shuffle-free) and appends them —
batch N+1 dedups against every accepted document through batch N. The
accepted corpus and the near-dup pairs both land under deterministic
batch_id directories.

Line-level boilerplate removal is deliberately NOT in the loop: its
document-frequency table is corpus-GLOBAL (a batch-local df would
under-count every boilerplate line), so run line_dedup as a periodic
batch pass over the landed corpus — the lambda split the CCNet shape
forces on any streaming ingester.

Idempotency across restarts (foreachBatch is at-least-once): doc ids
derive from the full 128-bit md5 of target_uri (hex string — the
_code_ref policy) — stable across replays, unlike the writer-random
WARC record ids, and collision-free at web scale where a 64-bit
surrogate goes birthday-bound past ~2^30 distinct URIs and a silent
collision would drop a document via dropDuplicates and corrupt the
replay guard — the outputs for batch B overwrite ``…/batch_id=B``,
phantom pairs against the batch's own docs are anti-joined away, and
the index append is guarded by the batch's presence in the signature
table (the neardup-loop guard). The index this loop grows must
therefore carry STRING doc ids (seed it from the same md5-hex
derivation, or empty-seed it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from georiva_spark.operators.dedup import (minhash_index_append,
                                           minhash_index_compact,
                                           minhash_index_params,
                                           minhash_index_probe)
from georiva_spark.operators.textops import HTML_STRIP_RULES, gopher_rules
from georiva_spark.sources.warc_codec import warc_parse
from georiva_spark.streaming._loop import _family_compact, run_probe_grow


def start_corpus_stream(spark, warc_dir: str, table: str, out_dir: str,
                        checkpoint_dir: str, threshold: float = 0.5,
                        gopher_kwargs: dict | None = None,
                        grow: bool = True,
                        max_files_per_trigger: int | None = None,
                        compact_every: int | None = None,
                        compact_dir: str | None = None):
    """Start the crawl→corpus loop over WARC files arriving in
    ``warc_dir``. ``table`` is an existing minhash_index_write index
    (yesterday's corpus — may be empty-seeded). Outputs per batch B:
    ``{out_dir}/docs/batch_id=B`` — the accepted documents
    (doc_id, target_uri, warc_type, n_bytes, text);
    ``{out_dir}/pairs/batch_id=B`` — (doc_new, doc_old, est_jaccard)
    near-dups of the arriving docs against everything already
    indexed. With ``compact_every=N`` (requires ``compact_dir``),
    every N appends the MinHash index compacts back to one file per
    bucket (fresh staging dirs under ``compact_dir``). Returns the
    StreamingQuery."""
    minhash_index_params(spark, table)              # fail fast
    # fail fast on id dtype too: doc ids are md5 HEX STRINGS (module
    # doc); against an old long-keyed index (the pre-r8 xxhash64
    # derivation) the replay-guard semi-join would lean on implicit
    # string↔long casts — ANSI runtime error at best, silent
    # never-matching guard (double appends) at worst
    from pyspark.sql.types import StringType
    id_field = next(f for f in spark.table(f"{table}_sigs").schema
                    if f.name == "doc_id")
    if not isinstance(id_field.dataType, StringType):
        raise ValueError(
            f"start_corpus_stream: {table}_sigs.doc_id is "
            f"{id_field.dataType.simpleString()}, but corpus doc ids "
            f"are md5-hex STRINGS — this index was built under the "
            f"pre-r8 long-id derivation; rebuild it (or seed an empty "
            f"index) with string doc ids")
    gk = dict(min_words=8, max_words=100_000, min_mean_word_len=1.0,
              max_mean_word_len=12.0, max_symbol_ratio=0.2,
              max_bullet_ratio=0.9, min_stopword_hits=1)
    gk.update(gopher_kwargs or {})
    compact = _family_compact(
        compact_every, compact_dir, "start_corpus_stream",
        lambda path: minhash_index_compact(spark, table, path))

    strip = F.col("text")
    for pat, repl in HTML_STRIP_RULES:
        strip = F.regexp_replace(strip, pat, repl)

    def prepare(files: DataFrame) -> DataFrame:
        recs = warc_parse(files)
        docs = (recs.select(
            F.md5(F.col("target_uri").cast("binary")).alias("doc_id"),
            "target_uri", "warc_type", "n_bytes",
            F.when(F.col("warc_type") == "response", strip)
            .otherwise(F.col("text")).alias("text"))
            .dropDuplicates(["doc_id"]))
        return docs.join(
            gopher_rules(docs, **gk).where("gopher_pass")
            .select("doc_id"), "doc_id", "left_semi")

    def pairs(passed: DataFrame) -> DataFrame:
        ids = passed.select("doc_id")
        p = minhash_index_probe(passed, table, threshold=threshold)
        return p.join(ids.withColumnRenamed("doc_id", "doc_old"),
                      "doc_old", "left_anti")

    reader = (spark.readStream.format("binaryFile")
              .schema("path string, modificationTime timestamp, "
                      "length long, content binary"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    src = reader.load(warc_dir)
    return run_probe_grow(
        src, checkpoint_dir, spark=spark, prepare=prepare,
        outputs=[(f"{out_dir}/docs", lambda w: w),
                 (f"{out_dir}/pairs", pairs)],
        guard_table=f"{table}_sigs",
        guard_keys=lambda w: w.select("doc_id"),
        append=lambda w: minhash_index_append(
            w.select("doc_id", "text"), table),
        refresh_tables=(f"{table}_bands", f"{table}_sigs"),
        grow=grow,
        compact_every_n_appends=(None if compact is None
                                 else compact_every),
        compact=compact, rules_table=table)


def read_corpus_stream(spark, out_dir: str) -> tuple[DataFrame, DataFrame]:
    """Read the accumulated (docs, pairs) outputs of
    :func:`start_corpus_stream`."""
    docs = (spark.read.option("basePath", f"{out_dir}/docs")
            .parquet(f"{out_dir}/docs/batch_id=*")
            .withColumn("batch_id", F.col("batch_id").cast("long")))
    pairs = (spark.read.option("basePath", f"{out_dir}/pairs")
             .parquet(f"{out_dir}/pairs/batch_id=*")
             .withColumn("batch_id", F.col("batch_id").cast("long")))
    return docs, pairs
