"""Incremental MinHash-LSH index: probe a delta shard against a
persistent bucketed index — correctness (planted near-dups found,
novel docs clean) and the layout claim (the index side of the
candidate join scans shuffle-free: one fewer exchange than the same
probe against an unbucketed copy)."""

import pytest
from pyspark.sql import functions as F

from georiva_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long")


BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight")


@pytest.fixture()
def mh_index(spark, tmp_path):
    base = _docs(spark, [
        (1, BASE),
        (2, "completely different content about spark query engines"),
        (3, "another unrelated document mentioning climatology anomalies"),
    ])
    dedup.minhash_index_write(base, "t_mhidx", str(tmp_path / "idx"),
                              n_buckets=8)
    yield "t_mhidx"
    spark.sql("DROP TABLE IF EXISTS t_mhidx_bands")
    spark.sql("DROP TABLE IF EXISTS t_mhidx_sigs")


def test_probe_finds_planted_near_dups_only(spark, mh_index):
    delta = _docs(spark, [
        (100, BASE),                                     # exact dup of 1
        (101, BASE.replace("tonight", "yesterday")),     # near dup of 1
        (102, "totally novel text about bucketed join layouts today"),
    ])
    got = {(r.doc_new, r.doc_old): r.est_jaccard
           for r in dedup.minhash_index_probe(delta, mh_index,
                                              threshold=0.4).collect()}
    assert got[(100, 1)] == 1.0
    assert (101, 1) in got and got[(101, 1)] >= 0.4
    assert not any(dn == 102 for dn, _ in got)


def test_index_side_joins_without_reshuffle(spark, mh_index, tmp_path):
    """The bucketed index saves exactly the index-side exchanges: the
    same probe against a plain-parquet copy of the band table plans
    strictly more hashpartitioning exchanges."""
    delta = _docs(spark, [(100, BASE)])
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = (dedup.minhash_index_probe(delta, mh_index)
                    ._jdf.queryExecution().executedPlan().toString())
        # unbucketed control: same data via plain parquet round-trip
        spark.table("t_mhidx_bands").write.mode("overwrite") \
             .parquet(str(tmp_path / "flat_bands"))
        spark.table("t_mhidx_sigs").write.mode("overwrite") \
             .parquet(str(tmp_path / "flat_sigs"))
        spark.read.parquet(str(tmp_path / "flat_bands")) \
             .createOrReplaceTempView("t_flat_bands")
        spark.read.parquet(str(tmp_path / "flat_sigs")) \
             .createOrReplaceTempView("t_flat_sigs")
        flat = (dedup.minhash_index_probe(delta, "t_flat")
                ._jdf.queryExecution().executedPlan().toString())
        assert (bucketed.count("Exchange hashpartitioning")
                < flat.count("Exchange hashpartitioning"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_probe_param_mismatch_raises(spark, mh_index):
    """The index stamps its signature parameters at write time; a
    probe with different params must fail loudly, not return wrong
    bucket keys."""
    delta = _docs(spark, [(100, BASE)])
    with pytest.raises(ValueError, match="do not match the index"):
        dedup.minhash_index_probe(delta, mh_index, bands=8)
    with pytest.raises(ValueError, match="num_hashes"):
        dedup.minhash_index_probe(delta, mh_index, num_hashes=32,
                                  bands=16)


def test_streaming_neardup_probe_grows_index(spark, mh_index, tmp_path):
    """Continuous dedup: batch 2's duplicate of a batch-1 doc is caught
    because batch 1 was appended into the index after its probe — the
    index GROWS between micro-batches. Replays are idempotent (marker
    guard: no duplicate index rows after a second availableNow run)."""
    from georiva_spark.streaming import (read_neardup_pairs,
                                         start_neardup_stream)

    landing = tmp_path / "nd_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "nd_out"), str(tmp_path / "nd_ckpt")
    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")

    novel = ("a brand new crawl document about bucketed hamming bands "
             "and distinct code pre collapse at corpus scale")

    def drop(name, rows):
        (spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows], schema)
         .coalesce(1).write.mode("append")
         .parquet(str(landing / name)))

    drop("b0", [(100, BASE), (101, novel)])          # 100 dups index doc 1
    drop("b1", [(200, novel)])                       # dups doc 101 (batch 1!)

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_neardup_stream(src, "t_mhidx", out, ckpt, threshold=0.5)
        q.awaitTermination(180)

    cycle()
    pairs = {(r.doc_new, r.doc_old) for r in
             read_neardup_pairs(spark, out).collect()}
    assert (100, 1) in pairs                 # caught vs the base index
    assert (200, 101) in pairs               # caught vs the GROWN index
    assert not any(dn == 101 for dn, _ in pairs)   # novel at its arrival

    nbands = spark.table("t_mhidx_bands").count()
    nsigs = spark.table("t_mhidx_sigs").count()
    cycle()                                   # replay: nothing new
    assert spark.table("t_mhidx_bands").count() == nbands
    assert spark.table("t_mhidx_sigs").count() == nsigs
    assert {(r.doc_new, r.doc_old) for r in
            read_neardup_pairs(spark, out).collect()} == pairs


def test_streaming_neardup_auto_compacts(spark, mh_index, tmp_path):
    """r9: ``compact_every`` — a long-running stream no longer
    accumulates one file-set per append forever. Three micro-batch
    appends with compact_every=3 trigger one in-stream compaction:
    the bands table drops back to its initial one-file-per-bucket
    layout, and cross-batch detection + replay idempotency still hold
    on the COMPACTED index (a post-compaction batch probes the
    swapped tables, not a stale listing)."""
    from georiva_spark.streaming import (read_neardup_pairs,
                                         start_neardup_stream)

    landing = tmp_path / "ndc_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "ndc_out"), str(tmp_path / "ndc_ckpt")
    cdir = str(tmp_path / "ndc_compact")
    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long")
    novel = ("a brand new crawl document about bucketed hamming bands "
             "and distinct code pre collapse at corpus scale")
    novel2 = ("entirely separate prose describing ivf cell routing "
              "with residual codebooks and versioned quantizers here")

    def drop(name, rows):
        (spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows], schema)
         .coalesce(1).write.mode("append")
         .parquet(str(landing / name)))

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_neardup_stream(src, "t_mhidx", out, ckpt,
                                 threshold=0.5, compact_every=3,
                                 compact_dir=cdir)
        q.awaitTermination(180)

    files0 = len(spark.table("t_mhidx_bands").inputFiles())
    drop("b0", [(100, BASE), (101, novel)])
    drop("b1", [(200, novel)])
    drop("b2", [(300, novel2)])
    cycle()                   # 3 appends → compaction fires at #3
    n_after = len(spark.table("t_mhidx_bands").inputFiles())
    assert n_after <= 8 < files0  # ONE file per bucket (8 buckets)
    pairs = {(r.doc_new, r.doc_old) for r in
             read_neardup_pairs(spark, out).collect()}
    assert (100, 1) in pairs and (200, 101) in pairs
    nsigs = spark.table("t_mhidx_sigs").count()
    # post-compaction batch: detection against the SWAPPED index
    drop("b3", [(400, novel2 + " with an extra tail")])
    cycle()
    pairs2 = {(r.doc_new, r.doc_old) for r in
              read_neardup_pairs(spark, out).collect()}
    assert (400, 300) in pairs2
    assert spark.table("t_mhidx_sigs").count() == nsigs + 1
    # replay on the compacted index: nothing new
    cycle()
    assert spark.table("t_mhidx_sigs").count() == nsigs + 1
    assert {(r.doc_new, r.doc_old) for r in
            read_neardup_pairs(spark, out).collect()} == pairs2
    # the pairing guard fails by name
    with pytest.raises(ValueError, match="compact_every"):
        start_neardup_stream(
            spark.readStream.schema(schema).parquet(str(landing) + "/*"),
            "t_mhidx", out, ckpt, compact_every=2)


def _spy_refresh_tables(monkeypatch) -> list:
    """Record the ``refresh_tables`` every start_ann_stream hands its
    probe-then-grow loop: the index's main table plus each sidecar its
    stamps name, which a retraining compaction swaps."""
    from georiva_spark.streaming import annstream

    seen, real = [], annstream.run_probe_grow

    def spy(*args, **kwargs):
        seen.append(tuple(kwargs["refresh_tables"]))
        return real(*args, **kwargs)

    monkeypatch.setattr(annstream, "run_probe_grow", spy)
    return seen


def test_streaming_ann_probe_grows_index(spark, tmp_path, monkeypatch):
    """Continuous ANN (r7): batch 2's planted twin of a batch-1 vector
    is found because batch 1 was appended into the cell layout after
    its probe — the IVF index GROWS between micro-batches. Replays are
    idempotent (vec_id-presence guard: a second availableNow run adds
    no index rows and rewrites identical neighbor sets)."""
    import numpy as np

    from georiva_spark.operators import similarity
    from georiva_spark.streaming import (read_ann_neighbors,
                                         start_ann_stream)

    rng = np.random.default_rng(61)
    centers = rng.normal(size=(4, 8)) * 4
    base = np.repeat(centers, 5, axis=0) + rng.normal(scale=0.2,
                                                      size=(20, 8))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(20)],
        "vec_id long, embedding array<double>")
    similarity.ivf_index_write(emb, "t_annstr", str(tmp_path / "ix"),
                               n_centroids=4)
    landing = tmp_path / "ann_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "ann_out"), str(tmp_path / "ann_ckpt")
    schema = "vec_id long, embedding array<double>"

    novel = -centers[0] + rng.normal(scale=0.1, size=8)   # new direction
    rows0 = [(100, [float(v) for v in base[1] + 0.01]),   # dups vec 1
             (101, [float(v) for v in novel])]            # novel
    rows1 = [(200, [float(v) for v in novel + 0.01])]     # twin of 101

    def drop(name, rows):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))

    drop("b0", rows0)
    drop("b1", rows1)

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_ann_stream(src, "t_annstr", out, ckpt, k=3, nprobe=2)
        q.awaitTermination(180)

    refreshed = _spy_refresh_tables(monkeypatch)
    try:
        cycle()
        assert refreshed == [("t_annstr", "t_annstr_centroids")]
        nbrs = read_ann_neighbors(spark, out).collect()
        by_q = {}
        for r in nbrs:
            by_q.setdefault(r.q_id, []).append((r.vec_id, r.cosine))
        # batch-0 near-dup caught against the base index
        assert max(by_q[100], key=lambda t: t[1])[0] == 1
        # batch-1 twin caught against the GROWN index (vec 101 was
        # appended by batch 0 — it exists nowhere else)
        assert max(by_q[200], key=lambda t: t[1])[0] == 101
        # no self-matches leaked through the replay anti-join
        assert all(v != q for q, vs in by_q.items() for v, _ in vs)

        n_idx = spark.table("t_annstr").count()
        assert n_idx == 23                     # 20 base + 3 appended
        cycle()                                # replay: nothing new
        assert spark.table("t_annstr").count() == n_idx
        again = {(r.q_id, r.vec_id, r.cosine)
                 for r in read_ann_neighbors(spark, out).collect()}
        assert again == {(r.q_id, r.vec_id, r.cosine) for r in nbrs}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_annstr")
        spark.sql("DROP TABLE IF EXISTS t_annstr_centroids")


def test_streaming_ann_residual_pq_index(spark, tmp_path):
    """The probe-then-grow loop against a TRAINED + RESIDUAL PQ index
    (r8): the stamps ride through the stream — batch appends re-encode
    residuals with the index's own codebook, and the cross-batch twin
    is still found via the grown compressed index."""
    import numpy as np

    from georiva_spark.operators import similarity
    from georiva_spark.streaming import (read_ann_neighbors,
                                         start_ann_stream)

    rng = np.random.default_rng(73)
    centers = rng.normal(size=(4, 8)) * 5
    base = np.repeat(centers, 8, axis=0) + rng.normal(scale=0.2,
                                                      size=(32, 8))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(32)],
        "vec_id long, embedding array<double>")
    similarity.ivf_pq_index_write(emb, "t_annres", str(tmp_path / "ix"),
                                  n_centroids=4, m=4, nbits=3,
                                  train_iters=2, codebook_iters=2,
                                  residual=True)
    landing = tmp_path / "res_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "res_out"), str(tmp_path / "res_ckpt")
    schema = "vec_id long, embedding array<double>"
    novel = -centers[0] + rng.normal(scale=0.1, size=8)
    for name, rows in (("b0", [(101, [float(v) for v in novel])]),
                       ("b1", [(200, [float(v) for v in novel + 0.01])])):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))
    try:
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_ann_stream(src, "t_annres", out, ckpt, k=3, nprobe=2)
        q.awaitTermination(180)
        nbrs = read_ann_neighbors(spark, out).collect()
        assert all(hasattr(r, "adc_dist") for r in nbrs)
        b200 = [r for r in nbrs if r.q_id == 200]
        # the twin appended by batch 0 must be 200's best ADC match —
        # only reachable if the append encoded ITS residual with the
        # same trained codebook the probe scores against
        assert min(b200, key=lambda r: (r.adc_dist, r.vec_id)).vec_id \
            == 101
        assert spark.table("t_annres").count() == 34
    finally:
        for s in ("", "_centroids", "_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS t_annres{s}")


def test_streaming_corpus_crawl_to_index(spark, tmp_path):
    """The full streaming crawl→corpus loop (r7): WARC shards arrive,
    HTML strips, the Gopher gate drops junk, survivors probe a GROWING
    MinHash index. Batch 2's duplicate of a batch-1 page is caught via
    the grown index; the junk page reaches neither the corpus output
    nor the index; replay is idempotent."""
    import time

    from pyspark.sql import functions as F

    from georiva_spark.sources.warc_codec import warc_encode
    from georiva_spark.streaming import (read_corpus_stream,
                                         start_corpus_stream)

    # the corpus loop's doc ids are md5-hex STRINGS (collision-free
    # URI identity) — seed the index with the same id type
    base = spark.createDataFrame(
        [("seed-1", BASE, "en", "s", len(BASE))],
        "doc_id string, text string, lang string, source string, "
        "n_chars long")
    dedup.minhash_index_write(base, "t_crawl", str(tmp_path / "idx"),
                              n_buckets=4)
    http = "HTTP/1.1 200 OK\r\n\r\n"
    wrap = lambda t: http + f"<html><body><p>{t}</p></body></html>"
    novel = ("fresh crawl content about corpus loops and spark plans "
             "with the quick brown fox of streaming ingestion today")
    rec = lambda uri, t: {
        "warc_type": "response", "target_uri": uri,
        "content_type": "application/http; msgtype=response",
        "payload": wrap(t)}
    f1 = warc_encode([rec("http://x/dup-of-base", BASE),
                      rec("http://x/novel", novel),
                      rec("http://x/junk", "tiny junk page")], gz=True)
    f2 = warc_encode([rec("http://x/dup-of-novel",
                          novel + " plus an extra tail")], gz=True)
    land = tmp_path / "crawl"
    land.mkdir()
    (land / "a1.warc.gz").write_bytes(f1)
    time.sleep(1.1)                     # distinct mtimes → batch order
    (land / "a2.warc.gz").write_bytes(f2)
    out, ckpt = str(tmp_path / "corp_out"), str(tmp_path / "corp_ckpt")

    def hid(uri):
        import hashlib
        return hashlib.md5(uri.encode()).hexdigest()

    def cycle():
        q = start_corpus_stream(spark, str(land), "t_crawl", out, ckpt,
                                threshold=0.5, max_files_per_trigger=1)
        q.awaitTermination(180)

    try:
        cycle()
        docs, pairs = read_corpus_stream(spark, out)
        uris = {r.target_uri for r in docs.collect()}
        assert uris == {"http://x/dup-of-base", "http://x/novel",
                        "http://x/dup-of-novel"}   # junk gated out
        got = {(r.doc_new, r.doc_old) for r in pairs.collect()}
        assert (hid("http://x/dup-of-base"), "seed-1") in got
        # the cross-batch catch: only possible via the GROWN index
        assert (hid("http://x/dup-of-novel"),
                hid("http://x/novel")) in got
        sig_ids = {r.doc_id for r in
                   spark.table("t_crawl_sigs").collect()}
        assert hid("http://x/junk") not in sig_ids
        assert hid("http://x/novel") in sig_ids
        nsig = len(sig_ids)
        cycle()                          # replay: nothing new
        assert spark.table("t_crawl_sigs").count() == nsig
        _, pairs2 = read_corpus_stream(spark, out)
        assert {(r.doc_new, r.doc_old)
                for r in pairs2.collect()} == got
    finally:
        for s in ("bands", "sigs"):
            spark.sql(f"DROP TABLE IF EXISTS t_crawl_{s}")


def test_streaming_corpus_rejects_long_id_index(spark, tmp_path):
    """r9 advisor fix: the corpus loop's doc ids are md5-hex STRINGS;
    launching against a pre-r8 long-keyed index must fail BY NAME at
    start, not lean on implicit string↔long casts in the replay-guard
    semi-join (silent never-match → double appends)."""
    from georiva_spark.streaming import start_corpus_stream
    old = spark.createDataFrame(
        [(1, BASE)], "doc_id long, text string")
    dedup.minhash_index_write(old, "t_crawl_old",
                              str(tmp_path / "idx_old"), n_buckets=4)
    try:
        with pytest.raises(ValueError, match="md5-hex"):
            start_corpus_stream(spark, str(tmp_path), "t_crawl_old",
                                str(tmp_path / "o"),
                                str(tmp_path / "c"))
    finally:
        for s in ("bands", "sigs"):
            spark.sql(f"DROP TABLE IF EXISTS t_crawl_old_{s}")


def test_streaming_ann_pq_mode_autodetects(spark, tmp_path,
                                           monkeypatch):
    """The same probe-then-grow loop serves a PQ-compressed index:
    the stamp autodetects PQ mode, the cross-batch twin is found via
    the grown compressed index (scored by adc_dist), and no float
    embedding ever enters the serving join."""
    import numpy as np

    from georiva_spark.operators import similarity
    from georiva_spark.streaming import (read_ann_neighbors,
                                         start_ann_stream)

    rng = np.random.default_rng(67)
    centers = rng.normal(size=(4, 8)) * 4
    base = np.repeat(centers, 5, axis=0) + rng.normal(scale=0.2,
                                                      size=(20, 8))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(20)],
        "vec_id long, embedding array<double>")
    similarity.ivf_pq_index_write(emb, "t_annpq", str(tmp_path / "ix"),
                                  n_centroids=4, m=4, nbits=3)
    landing = tmp_path / "pq_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "pq_out"), str(tmp_path / "pq_ckpt")
    schema = "vec_id long, embedding array<double>"
    novel = -centers[0] + rng.normal(scale=0.1, size=8)
    for name, rows in (("b0", [(101, [float(v) for v in novel])]),
                       ("b1", [(200, [float(v) for v in novel + 0.01])])):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))
    try:
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        refreshed = _spy_refresh_tables(monkeypatch)
        q = start_ann_stream(src, "t_annpq", out, ckpt, k=3, nprobe=2)
        q.awaitTermination(180)
        assert refreshed == [("t_annpq", "t_annpq_centroids",
                              "t_annpq_codebook")]
        nbrs = read_ann_neighbors(spark, out).collect()
        assert all(hasattr(r, "adc_dist") for r in nbrs)   # PQ scores
        b200 = [r for r in nbrs if r.q_id == 200]
        assert min(b200, key=lambda r: r.adc_dist).vec_id == 101
        assert spark.table("t_annpq").count() == 22
    finally:
        spark.sql("DROP TABLE IF EXISTS t_annpq")
        spark.sql("DROP TABLE IF EXISTS t_annpq_centroids")
        spark.sql("DROP TABLE IF EXISTS t_annpq_codebook")


def test_index_compact_restores_one_file_per_bucket(spark, mh_index,
                                                    tmp_path):
    """Three appends -> many files per bucket; compact rewrites to the
    write-time layout with identical probe results, preserved bucket
    spec (shuffle-free index side), and a preserved parameter stamp."""
    import glob

    for b in range(3):
        delta = _docs(spark, [(500 + b, f"filler document number {b} "
                                        "with enough words to shingle")])
        dedup.minhash_index_append(delta, mh_index)
    probe_docs = _docs(spark, [(900, BASE)])
    before = {(r.doc_new, r.doc_old): r.est_jaccard
              for r in dedup.minhash_index_probe(
                  probe_docs, mh_index, threshold=0.4).collect()}

    loc = (spark.sql(f"DESCRIBE FORMATTED {mh_index}_bands").collect())
    old_path = [r.data_type for r in loc if r.col_name == "Location"][0]
    n_before = len(glob.glob(old_path.replace("file:", "") + "/part-*"))

    dedup.minhash_index_compact(spark, mh_index, str(tmp_path / "cmp"))
    new_files = glob.glob(str(tmp_path / "cmp" / "bands" / "part-*"))
    # r9: the rewrite pre-repartitions on the bucket keys, so the
    # compacted layout really is ONE file per (non-empty) bucket
    assert 0 < len(new_files) <= 8 and len(new_files) < n_before

    after = {(r.doc_new, r.doc_old): r.est_jaccard
             for r in dedup.minhash_index_probe(
                 probe_docs, mh_index, threshold=0.4).collect()}
    assert after == before                          # pure layout rewrite
    p = dedup.minhash_index_params(spark, mh_index)
    assert p["num_hashes"] == 64 and p["n_buckets"] == 8
    # the stamp still guards mismatched probes
    import pytest
    with pytest.raises(ValueError, match="do not match"):
        dedup.minhash_index_probe(probe_docs, mh_index, bands=8)


def test_hamming_index_write_probe_append_compact(spark, tmp_path):
    """The persistent perceptual index (r7): distinct-code bands +
    membership in bucketed tables; a delta probe finds exact and near
    codes with min-hamming per id pair; append grows it (band rows
    only for UNSEEN codes — the pre-collapse survives growth);
    compaction preserves probes and the stamp; long and array codes
    both band through the shared _hamming_band_exprs definition."""
    idx = spark.createDataFrame(
        [(1, 0b1111), (2, 1 << 40), (3, 0b1111)],
        "media_id long, code long")
    dedup.hamming_index_write(idx, "t_hidx", str(tmp_path / "h"),
                              max_hamming=2, bits=64, n_buckets=4)
    try:
        delta = spark.createDataFrame(
            [(100, 0b1110), (101, 0x5A5A5A5A), (102, 0b1111)],
            "media_id long, code long")
        got = sorted((r.id_new, r.id_old, r.hamming) for r in
                     dedup.hamming_index_probe(delta, "t_hidx")
                     .collect())
        assert got == [(100, 1, 1), (100, 3, 1),
                       (102, 1, 0), (102, 3, 0)]
        dedup.hamming_index_append(delta, "t_hidx")
        d2 = spark.createDataFrame([(200, 0b1110)],
                                   "media_id long, code long")
        got2 = sorted((r.id_new, r.id_old, r.hamming) for r in
                      dedup.hamming_index_probe(d2, "t_hidx")
                      .collect())
        assert (200, 100, 0) in got2 and (200, 1, 1) in got2
        # pre-collapse: band rows = distinct codes × (k+1) bands even
        # though three ids share code 0b1111
        assert spark.table("t_hidx_bands").count() == 4 * 3
        dedup.hamming_index_compact(spark, "t_hidx",
                                    str(tmp_path / "h2"))
        got3 = sorted((r.id_new, r.id_old, r.hamming) for r in
                      dedup.hamming_index_probe(d2, "t_hidx")
                      .collect())
        assert got3 == got2
        p = dedup.hamming_index_params(spark, "t_hidx")
        assert p["max_hamming"] == 2 and p["arr"] == 0
    finally:
        for s in ("bands", "ids"):
            spark.sql(f"DROP TABLE IF EXISTS t_hidx_{s}")


def test_hamming_index_append_replay_is_idempotent(spark, tmp_path):
    """A duplicate append OUTSIDE the streaming loop's guard must be a
    no-op: membership rows anti-join on (ref, id), so a replay neither
    double-counts lookup's n_matched_items nor duplicates band rows."""
    idx = spark.createDataFrame([(1, 0b1111)], "media_id long, code long")
    dedup.hamming_index_write(idx, "t_hrep", str(tmp_path / "h"),
                              max_hamming=2, bits=64, n_buckets=4)
    try:
        delta = spark.createDataFrame(
            [(100, 0b1111), (101, 0b0011)], "media_id long, code long")
        dedup.hamming_index_append(delta, "t_hrep")
        dedup.hamming_index_append(delta, "t_hrep")    # replay
        assert spark.table("t_hrep_ids").count() == 3  # 1 + 2, not 1 + 4
        probe = spark.createDataFrame([(200, 0b1111)],
                                      "media_id long, code long")
        got = {r.id_new: (r.min_hamming, r.n_matched_items)
               for r in dedup.hamming_index_lookup(
                   probe, "t_hrep").collect()}
        # hot code 0b1111 has members {1, 100}; 0b0011 (h=2) adds 101 —
        # a double-counted replay would report 5
        assert got[200] == (0, 3)
        # an id re-arriving with a NEW code still appends that pair
        grow = spark.createDataFrame([(100, 0b1100)],
                                     "media_id long, code long")
        dedup.hamming_index_append(grow, "t_hrep")
        assert spark.table("t_hrep_ids").count() == 4
    finally:
        for s in ("bands", "ids"):
            spark.sql(f"DROP TABLE IF EXISTS t_hrep_{s}")


def test_hamming_index_lookup_linear_decision_shape(spark, tmp_path):
    """The keep-or-drop lookup: per delta item one row with its best
    hamming and matched-member count — never the pair expansion (a
    delta code near an M-member group costs 1 row, not M)."""
    idx = spark.createDataFrame(
        [(i, 0b1111) for i in range(5)]        # 5-member hot group
        + [(10, 0b1100), (11, 1 << 40)],
        "media_id long, code long")
    dedup.hamming_index_write(idx, "t_hlk", str(tmp_path / "h"),
                              max_hamming=2, bits=64, n_buckets=4)
    try:
        delta = spark.createDataFrame(
            [(100, 0b1110),     # 1 from hot group, 1 from 0b1100
             (101, 0x5A5A5A5A),                 # no match
             (102, 1 << 40)],                   # exact of 11
            "media_id long, code long")
        got = {r.id_new: (r.min_hamming, r.n_matched_items)
               for r in dedup.hamming_index_lookup(
                   delta, "t_hlk").collect()}
        # 100 matches the 5-member hot group (h=1) AND 0b1100 (h=1):
        # min_hamming 1, matched items = 5 + 1 (distinct codes — the
        # per-code sum is exact; only multi-code ids fall back to max)
        assert got[100] == (1, 6)
        assert got[102] == (0, 1)
        assert 101 not in got                   # semi shape
    finally:
        for s in ("bands", "ids"):
            spark.sql(f"DROP TABLE IF EXISTS t_hlk_{s}")


def test_hamming_index_array_codes_and_type_guard(spark, tmp_path):
    w = lambda v: [v & ((1 << 56) - 1), v >> 56]
    idx = spark.createDataFrame([(1, w(77)), (2, w(1 << 90))],
                                "media_id long, code array<long>")
    dedup.hamming_index_write(idx, "t_hidxa", str(tmp_path / "ha"),
                              max_hamming=2, bits=112, n_buckets=4)
    try:
        da = spark.createDataFrame([(100, w(77 ^ 3))],
                                   "media_id long, code array<long>")
        got = [(r.id_new, r.id_old, r.hamming) for r in
               dedup.hamming_index_probe(da, "t_hidxa").collect()]
        assert got == [(100, 1, 2)]
        wrong = spark.createDataFrame([(100, 5)],
                                      "media_id long, code long")
        with pytest.raises(ValueError, match="stores array codes"):
            dedup.hamming_index_probe(wrong, "t_hidxa")
    finally:
        for s in ("bands", "ids"):
            spark.sql(f"DROP TABLE IF EXISTS t_hidxa_{s}")


def test_hamming_index_side_joins_without_reshuffle(spark, tmp_path):
    """The bucketed (band, key) layout saves the index-side exchange:
    the same probe against a plain-parquet copy of the band table
    plans strictly more hashpartitioning exchanges."""
    idx = spark.createDataFrame(
        [(i, (i << 20) | 0b1010) for i in range(50)],
        "media_id long, code long")
    dedup.hamming_index_write(idx, "t_hplan", str(tmp_path / "hp"),
                              max_hamming=2, bits=64, n_buckets=4)
    delta = spark.createDataFrame([(900, (7 << 20) | 0b1010)],
                                  "media_id long, code long")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = (dedup.hamming_index_probe(delta, "t_hplan")
                    ._jdf.queryExecution().executedPlan().toString())
        # unbucketed control: same data as stamped UNBUCKETED tables
        # (the probe reads the stamp from {table}_bands, so a temp
        # view would fail the params lookup)
        spark.sql("DROP TABLE IF EXISTS t_hflat2_bands")
        spark.sql("DROP TABLE IF EXISTS t_hflat2_ids")
        spark.table("t_hplan_bands").write.saveAsTable("t_hflat2_bands")
        spark.table("t_hplan_ids").write.saveAsTable("t_hflat2_ids")
        spark.sql(
            "ALTER TABLE t_hflat2_bands SET TBLPROPERTIES ("
            "'georiva.max_hamming'='2', 'georiva.bits'='64', "
            "'georiva.word_bits'='56', 'georiva.n_buckets'='4', "
            "'georiva.arr'='0')")
        flat = (dedup.hamming_index_probe(delta, "t_hflat2")
                ._jdf.queryExecution().executedPlan().toString())
        assert (bucketed.count("Exchange hashpartitioning")
                < flat.count("Exchange hashpartitioning"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for t in ("t_hplan", "t_hflat2"):
            for s in ("bands", "ids"):
                spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")


def test_streaming_mediadup_probe_grows_index(spark, tmp_path):
    """Continuous perceptual dedup (r7): batch 2's 1-bit variant of a
    batch-1 code is caught because batch 1 was appended after its
    probe — the Hamming index GROWS between micro-batches; replays
    are idempotent (ids-presence guard) and the pre-collapse holds
    through growth."""
    from georiva_spark.streaming import (read_mediadup_pairs,
                                         start_mediadup_stream)

    idx = spark.createDataFrame([(1, 0b1111), (2, 1 << 40)],
                                "media_id long, code long")
    dedup.hamming_index_write(idx, "t_mdstr", str(tmp_path / "h"),
                              max_hamming=2, bits=64, n_buckets=4)
    landing = tmp_path / "md_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "md_out"), str(tmp_path / "md_ckpt")
    schema = "media_id long, code long"
    novel = 0x5A5A5A5A00
    for name, rows in (("b0", [(100, 0b1110), (101, novel)]),
                       ("b1", [(200, novel ^ 1)])):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_mediadup_stream(src, "t_mdstr", out, ckpt)
        q.awaitTermination(180)

    try:
        cycle()
        pairs = {(r.id_new, r.id_old, r.hamming) for r in
                 read_mediadup_pairs(spark, out).collect()}
        assert (100, 1, 1) in pairs          # vs the base index
        assert (200, 101, 1) in pairs        # vs the GROWN index
        assert not any(n == 101 for n, _, _ in pairs)  # novel on arrival
        n_ids = spark.table("t_mdstr_ids").count()
        n_bands = spark.table("t_mdstr_bands").count()
        assert n_ids == 5                    # 2 base + 3 streamed
        cycle()                              # replay: nothing new
        assert spark.table("t_mdstr_ids").count() == n_ids
        assert spark.table("t_mdstr_bands").count() == n_bands
        assert {(r.id_new, r.id_old, r.hamming) for r in
                read_mediadup_pairs(spark, out).collect()} == pairs
    finally:
        for s in ("bands", "ids"):
            spark.sql(f"DROP TABLE IF EXISTS t_mdstr_{s}")


def test_streaming_mediadup_lookup_mode(spark, tmp_path):
    """output='lookup' (r8): a batch item near an M-member hot group
    yields ONE decision row (id_new, min_hamming, n_matched_items),
    not M pair rows; cross-batch detection still works via the grown
    index; replays are idempotent because the batch's own ids are
    excluded from the membership rollup (a replayed batch's codes ARE
    in the index and would otherwise self-match at hamming 0)."""
    from georiva_spark.streaming import (read_mediadup_lookup,
                                         start_mediadup_stream)

    idx = spark.createDataFrame(
        [(i, 0b1111) for i in range(1, 6)]       # 5-member hot group
        + [(6, 1 << 40)],
        "media_id long, code long")
    dedup.hamming_index_write(idx, "t_mdlk", str(tmp_path / "h"),
                              max_hamming=2, bits=64, n_buckets=4)
    landing = tmp_path / "mdlk_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "mdlk_out"), str(tmp_path / "mdlk_ckpt")
    schema = "media_id long, code long"
    novel = 0x5A5A5A5A00
    for name, rows in (("b0", [(100, 0b1110), (101, novel)]),
                       ("b1", [(200, novel ^ 1)])):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_mediadup_stream(src, "t_mdlk", out, ckpt,
                                  output="lookup")
        q.awaitTermination(180)

    try:
        cycle()
        got = {r.id_new: (r.min_hamming, r.n_matched_items)
               for r in read_mediadup_lookup(spark, out).collect()}
        # ONE row for the hot-group hit, carrying all 5 members
        assert got[100] == (1, 5)
        assert 101 not in got                # novel on arrival
        assert got[200] == (1, 1)            # via the GROWN index
        assert len(got) == 2
        n_ids = spark.table("t_mdlk_ids").count()
        assert n_ids == 6 + 3                # base + streamed
        cycle()                              # replay: nothing new,
        assert spark.table("t_mdlk_ids").count() == n_ids
        again = {r.id_new: (r.min_hamming, r.n_matched_items)
                 for r in read_mediadup_lookup(spark, out).collect()}
        assert again == got                  # no self-matches leaked
    finally:
        for s in ("bands", "ids"):
            spark.sql(f"DROP TABLE IF EXISTS t_mdlk_{s}")


def test_minhash_index_portable_stamp_roundtrip(spark, tmp_path):
    """portable=True indexes stamp their hash family; probes pick it
    up from the stamp (a probe hashing with the other family would
    yield silently-garbage est_jaccard) and compaction preserves it."""
    base = _docs(spark, [(1, BASE), (2, "other text entirely here now")])
    dedup.minhash_index_write(base, "t_mhport", str(tmp_path / "i"),
                              n_buckets=4, portable=True)
    try:
        assert dedup.minhash_index_params(spark, "t_mhport")["portable"] \
            is True
        delta = _docs(spark, [(100, BASE)])
        got = {(r.doc_new, r.doc_old): r.est_jaccard
               for r in dedup.minhash_index_probe(
                   delta, "t_mhport", threshold=0.4).collect()}
        assert got[(100, 1)] == 1.0
        dedup.minhash_index_compact(spark, "t_mhport",
                                    str(tmp_path / "c"))
        assert dedup.minhash_index_params(spark, "t_mhport")["portable"] \
            is True
        got2 = {(r.doc_new, r.doc_old): r.est_jaccard
                for r in dedup.minhash_index_probe(
                    delta, "t_mhport", threshold=0.4).collect()}
        assert got2 == got
    finally:
        for s in ("bands", "sigs"):
            spark.sql(f"DROP TABLE IF EXISTS t_mhport_{s}")


def _swap_failpoints(spark, monkeypatch, failpoint, log=None):
    """Monkeypatch spark.sql to raise at the Nth catalog-swap statement
    (ALTER/DROP, excluding the TBLPROPERTIES stamp and SHOW; None:
    never). ``log`` (a list) records every statement issued."""
    real_sql = type(spark).sql
    calls = {"n": 0}

    def failing(self, stmt, *a, **k):
        if log is not None:
            log.append(stmt)
        if (("ALTER TABLE" in stmt or "DROP TABLE" in stmt)
                and "TBLPROPERTIES" not in stmt):
            calls["n"] += 1
            if calls["n"] == failpoint:
                raise RuntimeError(f"injected crash at swap stmt "
                                   f"{failpoint}: {stmt}")
        return real_sql(self, stmt, *a, **k)

    monkeypatch.setattr(type(spark), "sql", failing)
    return lambda: monkeypatch.setattr(type(spark), "sql", real_sql)


def _recover_swap(spark, table):
    """The documented crash-recovery path (atomic_swap_table docstring):
    if the canonical name is missing, rename the surviving _compact
    (preferred — the newer data) or _old table back; then retire
    leftovers. Every step is one catalog statement."""
    names = {t.name for t in spark.catalog.listTables()}
    if table not in names:
        src = (f"{table}_compact" if f"{table}_compact" in names
               else f"{table}_old")
        assert src in names, f"no surviving table for {table}"
        spark.sql(f"ALTER TABLE {src} RENAME TO {table}")
        names.discard(src)
    for leftover in (f"{table}_compact", f"{table}_old"):
        if leftover in names:
            spark.sql(f"DROP TABLE {leftover}")


def test_index_probes_read_each_stamp_table_once(spark, tmp_path,
                                                  monkeypatch):
    """One probe (or ``ann_tune``) call reads each table's stamps
    (SHOW TBLPROPERTIES — a catalog round trip) at most once: the
    read is passed on to the parameter checks, the quantizer-version
    check and the tombstone tripwire instead of being repeated by
    each of them."""
    import collections

    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(64)],
        "vec_id long, embedding array<double>")
    codes = spark.createDataFrame([(1, 0b1111), (2, 0b0111)],
                                  "media_id long, code long")
    dedup.minhash_index_write(_docs(spark, [(1, BASE)]), "t_once_mh",
                              str(tmp_path / "mh"), n_buckets=4)
    dedup.hamming_index_write(codes, "t_once_hm", str(tmp_path / "hm"),
                              max_hamming=2, bits=64, n_buckets=4)
    similarity.ivf_index_write(emb, "t_once_iv", str(tmp_path / "iv"),
                               n_centroids=4)
    similarity.ivf_pq_index_write(emb, "t_once_pq", str(tmp_path / "pq"),
                                  n_centroids=4, m=4, nbits=4,
                                  train_iters=1)
    qs = emb.where("vec_id < 3").selectExpr("vec_id as q_id",
                                            "embedding")
    calls = {
        "minhash_index_probe": lambda: dedup.minhash_index_probe(
            _docs(spark, [(9, BASE)]), "t_once_mh", threshold=0.4),
        "hamming_index_probe": lambda: dedup.hamming_index_probe(
            codes, "t_once_hm"),
        "ivf_index_probe_batch": lambda: similarity.ivf_index_probe_batch(
            spark, "t_once_iv", qs, k=2),
        "ivf_pq_index_probe": lambda: similarity.ivf_pq_index_probe(
            spark, "t_once_pq", [0.0] * 8, k=2),
        "ann_tune": lambda: similarity.ann_tune(
            spark, "t_once_iv", 0.5, k=2, nprobes=(1, 2),
            sample_ppm=500_000),
    }
    real_sql = type(spark).sql
    reads = collections.Counter()

    def counting(self, stmt, *a, **k):
        if stmt.startswith("SHOW TBLPROPERTIES"):
            reads[stmt.split()[2]] += 1
        return real_sql(self, stmt, *a, **k)

    monkeypatch.setattr(type(spark), "sql", counting)
    try:
        for name, call in calls.items():
            reads.clear()
            call().collect()
            assert reads, name
            assert max(reads.values()) == 1, (name, dict(reads))
    finally:
        monkeypatch.setattr(type(spark), "sql", real_sql)
        for t in ("t_once_mh_bands", "t_once_mh_sigs", "t_once_hm_bands",
                  "t_once_hm_ids", "t_once_iv", "t_once_iv_centroids",
                  "t_once_pq", "t_once_pq_centroids",
                  "t_once_pq_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _index_case(spark, tmp_path, kind, t):
    """Write a small index under ``t`` for one compaction path →
    (compact(path), probe() -> result set, retract_docs())."""
    import numpy as np

    from georiva_spark.operators import similarity

    path = str(tmp_path / t)
    if kind == "minhash":
        dedup.minhash_index_write(
            _docs(spark, [(1, BASE), (2, "other text entirely here")]),
            t, path, n_buckets=4)
        probe_docs = _docs(spark, [(900, BASE)])
        return (lambda p: dedup.minhash_index_compact(spark, t, p),
                lambda: {(r.doc_new, r.doc_old) for r in
                         dedup.minhash_index_probe(
                             probe_docs, t, threshold=0.4).collect()},
                lambda: dedup.minhash_index_retract_docs(spark, t, [1]))
    if kind == "hamming":
        codes = spark.createDataFrame(
            [(1, 0b1111), (2, 1 << 40), (3, 0b0111)],
            "media_id long, code long")
        dedup.hamming_index_write(codes, t, path, max_hamming=2,
                                  bits=64, n_buckets=4)
        return (lambda p: dedup.hamming_index_compact(spark, t, p),
                lambda: {(r.id_new, r.id_old, r.hamming) for r in
                         dedup.hamming_index_probe(codes, t).collect()},
                lambda: dedup.hamming_index_retract_docs(spark, t, [1]))
    # two blobs, dense vec_ids (the pinned quantizer needs 0..N-1)
    rng = np.random.default_rng(19)
    rows = ([(i, [float(v) for v in rng.normal(0, 1.0, 4)])
             for i in range(24)]
            + [(24 + i, [float(v) for v in rng.normal(0, 0.2, 4) + 9.0])
               for i in range(24)])
    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame(rows, schema)
    q = rows[0][1]
    retract = lambda: similarity.ivf_index_retract_docs(spark, t, [0])
    if kind == "pq_retrain":
        similarity.ivf_pq_index_write(emb, t, path, n_centroids=2, m=2,
                                      nbits=2, train_iters=1,
                                      codebook_iters=1, opq=True)
        return (lambda p: similarity.ivf_index_compact(
                    spark, t, p, retrain_iters=1, emb=emb),
                lambda: {r.vec_id for r in similarity.ivf_pq_index_probe(
                    spark, t, q, k=3, nprobe=1).collect()},
                retract)
    retrain = kind == "ivf_retrain"
    similarity.ivf_index_write(emb, t, path, n_centroids=2,
                               train_iters=int(retrain))
    if not retrain:
        similarity.ivf_index_append(
            spark.createDataFrame(rows[:4], schema)
            .withColumn("vec_id", F.col("vec_id") + 100), t)
    return (lambda p: similarity.ivf_index_compact(
                spark, t, p, retrain_iters=2 * retrain),
            lambda: {(r.vec_id, r.cosine) for r in
                     similarity.ivf_index_probe(
                         spark, t, q, k=3,
                         nprobe=1 if retrain else 2).collect()},
            retract)


#: compaction path -> the tables its install step swaps, in order
#: (suffixes of the index name; quantizer sidecars before the main)
_COMPACT_SWAPS = {
    "minhash": ("_bands", "_sigs"),
    "hamming": ("_bands", "_ids"),
    "ivf": ("",),
    "ivf_retrain": ("_centroids", ""),
    "pq_retrain": ("_centroids", "_codebook", "_rotation", ""),
}


def _swap(n):
    """atomic_swap_table's four statements for table ``n``."""
    return [f"DROP TABLE IF EXISTS {n}_old",
            f"ALTER TABLE {n} RENAME TO {n}_old",
            f"ALTER TABLE {n}_compact RENAME TO {n}",
            f"DROP TABLE {n}_old"]


def _clear(stamped):
    """clear_rules' statements for a pending takedown."""
    return [f"ALTER TABLE {stamped} UNSET TBLPROPERTIES IF EXISTS "
            f"('georiva.has_doc_tombstones')",
            "DROP TABLE IF EXISTS {t}_dead_docs"]


def _stamp(name, params):
    kv = ", ".join(f"'georiva.{k}'='{v}'" for k, v in params)
    return f"ALTER TABLE {name} SET TBLPROPERTIES ({kv})"


_IVF = [("has_doc_tombstones", 0), ("n_centroids", 2)]
#: each compaction path's catalog statements (``{t}`` = the index name)
#: with one pending takedown — the commit points a crash falls between
_COMPACT_STATEMENTS = {
    "minhash": [
        "SHOW TBLPROPERTIES {t}_bands",
        _stamp("{t}_bands_compact", [
            ("bands", 16), ("has_doc_tombstones", 0), ("n", 3),
            ("n_buckets", 4), ("num_hashes", 64), ("portable", 0),
            ("text_col", "text")]),
        *_swap("{t}_bands"), *_swap("{t}_sigs"), *_clear("{t}_bands")],
    "hamming": [
        "SHOW TBLPROPERTIES {t}_bands",
        _stamp("{t}_bands_compact", [
            ("arr", 0), ("bits", 64), ("has_doc_tombstones", 0),
            ("max_hamming", 2), ("n_buckets", 4), ("word_bits", 56)]),
        *_swap("{t}_bands"), *_swap("{t}_ids"), *_clear("{t}_bands")],
    "ivf": [
        "SHOW TBLPROPERTIES {t}",
        _stamp("{t}_compact", _IVF + [
            ("quantizer_version", 1), ("train_iters", 0),
            ("train_sample_ppm", 0)]),
        *_swap("{t}"), *_clear("{t}")],
    "ivf_retrain": [
        "SHOW TBLPROPERTIES {t}",
        _stamp("{t}_centroids_compact", [("quantizer_version", 2)]),
        _stamp("{t}_compact", _IVF + [
            ("quantizer_version", 2), ("train_iters", 2),
            ("train_sample_ppm", 0)]),
        *_swap("{t}_centroids"), *_swap("{t}"), *_clear("{t}")],
    "pq_retrain": [
        "SHOW TBLPROPERTIES {t}",
        *(_stamp(f"{{t}}{s}_compact", [("quantizer_version", 2)])
          for s in ("_centroids", "_codebook", "_rotation")),
        _stamp("{t}_compact", _IVF + [
            ("pq_codebook_iters", 1), ("pq_m", 2), ("pq_nbits", 2),
            ("pq_opq", 1), ("pq_residual", 0), ("quantizer_version", 2),
            ("train_iters", 1), ("train_sample_ppm", 0)]),
        *_swap("{t}_centroids"), *_swap("{t}_codebook"),
        *_swap("{t}_rotation"), *_swap("{t}"), *_clear("{t}")],
}


def _drop_index(spark, t, kind):
    for s in _COMPACT_SWAPS[kind] + ("_codebook", "_rotation"):
        for x in ("", "_compact", "_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{s}{x}")
    for s in ("_dead", "_dead_docs", "_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}{s}")


@pytest.mark.parametrize("kind",
                         ["minhash", "hamming", "ivf", "pq_retrain"])
def test_rewritten_index_starts_without_tombstones(spark, tmp_path,
                                                   kind):
    """A takedown's rules name the index they were written for:
    rebuilding an index under the same name (``*_index_write``) clears
    them, or the live filter would hide rows of the brand-new index."""
    from georiva_spark.operators._tombstones import has_rules

    t = f"t_rw_{kind}"
    _, probe, retract = _index_case(spark, tmp_path, kind, t)
    try:
        want = probe()
        retract()
        assert probe() != want              # the takedown hides a row
        _, probe, _ = _index_case(spark, tmp_path, kind, t)
        assert probe() == want
        assert not has_rules(spark, t)
    finally:
        _drop_index(spark, t, kind)


@pytest.mark.parametrize("kind", sorted(_COMPACT_STATEMENTS))
def test_compaction_catalog_statements(spark, tmp_path, monkeypatch,
                                       kind):
    """Every compaction path — MinHash, Hamming, IVF, IVF retrain, PQ
    retrain — issues exactly its pinned catalog statements, in order:
    stamp reads, the staged sidecars' version stamps, then the
    install step's stamp → swaps → rule clear. The index carries a
    pending takedown so the clear's statements are part of the
    sequence. These are the commit points a crash can fall between."""
    t = f"t_seq_{kind}"
    compact, _, retract = _index_case(spark, tmp_path, kind, t)
    try:
        retract()
        log = []
        restore = _swap_failpoints(spark, monkeypatch, None, log)
        try:
            compact(str(tmp_path / "c"))
        finally:
            restore()
        assert [s.replace(t, "{t}") for s in log] == \
            _COMPACT_STATEMENTS[kind]
    finally:
        _drop_index(spark, t, kind)


@pytest.mark.parametrize("kind",
                         ["minhash", "hamming", "ivf", "ivf_retrain"])
def test_compact_crash_leaves_probeable_index(spark, tmp_path,
                                              monkeypatch, kind):
    """Crash-atomicity of the install step's swaps: a failure injected
    before EACH of its catalog statements (4 per swapped table) leaves
    every swapped table under some name and param-STAMPED (the stamp
    precedes every swap), and the one-rename recovery restores a
    legitimate index: the results before or after the compaction,
    never a mixture (a layout-only compaction changes no result, so
    its control run must reproduce them). A retrain's crash between
    the sidecar and main swaps is VERSION-SKEWED instead: the probe
    fails by name, and the documented recovery — re-run the
    compaction — restores the retrained results. Each failpoint
    compacts the index the previous one recovered, so a recovered
    index is also shown compactable."""
    t = f"t_cr_{kind}"
    parts = [f"{t}{s}" for s in _COMPACT_SWAPS[kind]]
    compact, probe, _ = _index_case(spark, tmp_path, kind, t)
    try:
        before = after = probe()
        if kind == "ivf_retrain":
            compact(str(tmp_path / "ref"))
            after = probe()
        n = 4 * len(parts)
        for failpoint in range(1, n + 2):      # n + 1 = control
            restore = _swap_failpoints(spark, monkeypatch, failpoint)
            try:
                if failpoint <= n:
                    with pytest.raises(RuntimeError,
                                       match="injected crash"):
                        compact(str(tmp_path / f"c{failpoint}"))
                else:
                    compact(str(tmp_path / f"c{failpoint}"))
            finally:
                restore()
            for part in parts:
                names = {x.name for x in spark.catalog.listTables()}
                assert {part, f"{part}_compact", f"{part}_old"} & names
                _recover_swap(spark, part)
            try:
                got = probe()
            except ValueError as e:
                assert kind == "ivf_retrain" and "version skew" in str(e)
                compact(str(tmp_path / f"r{failpoint}"))
                got = probe()
                assert got == after
            assert got in (before, after)
    finally:
        _drop_index(spark, t, kind)


def test_opq_rotation_index_probe_append_sync(spark, tmp_path):
    """r9 OPQ: the learned rotation is orthogonal, stamped as a
    versioned sidecar, applied consistently at write/probe/append
    (the appended exact twin wins ADC through the rotated encode),
    gated against a pinned codebook, and covered by the quantizer
    version-skew check like the other sidecars."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(5)
    d, n = 16, 300
    mix = rng.normal(size=(d, d)) * np.linspace(3, 0.1, d)[None, :]
    X = rng.normal(size=(n, d)) @ mix.T
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    t = "t_opqx"
    try:
        similarity.ivf_pq_index_write(
            emb, t, str(tmp_path / "i"), n_centroids=4, m=4, nbits=4,
            train_iters=2, codebook_iters=2, residual=True, opq=True)
        # rotation sidecar: d rows, orthogonal (R Rᵀ ≈ I)
        rot = similarity._IvfLayout(spark, t).rotation
        R = np.array(rot)
        assert R.shape == (d, d)
        assert np.allclose(R @ R.T, np.eye(d), atol=1e-6)
        # the appended exact twin is found via the rotated encode
        delta = spark.createDataFrame(
            [(9999, [float(v) for v in X[7]])],
            "vec_id long, embedding array<double>")
        similarity.ivf_index_append(delta, t)
        top = similarity.ivf_pq_index_probe(
            spark, t, [float(v) for v in X[7]], k=3, nprobe=2,
            exclude_vec_id=7).collect()
        assert top[0].vec_id == 9999
        # refine stage-2 re-ranks by EXACT cosine in ORIGINAL space
        # (the float corpus — which must carry the appended ids too)
        qs = emb.where(F.col("vec_id") == 7).select(
            F.col("vec_id").alias("q_id"), "embedding")
        rb = similarity.ivf_pq_index_refine_batch(
            spark, t, emb.union(delta), qs, k=3, nprobe=2,
            shortlist=40, exclude_self=True)
        got = rb.collect()
        assert got[0].vec_id == 9999 and got[0].cosine == 1.0
        # version skew on the rotation sidecar fails by name
        spark.sql(f"ALTER TABLE {t}_rotation SET TBLPROPERTIES "
                  f"('georiva.quantizer_version'='99')")
        with pytest.raises(ValueError, match="version skew"):
            similarity.ivf_pq_index_probe(spark, t, [0.0] * d, k=1)
        spark.sql(f"ALTER TABLE {t}_rotation SET TBLPROPERTIES "
                  f"('georiva.quantizer_version'='1')")
        # pinned codewords live in original space — OPQ refuses them
        with pytest.raises(ValueError, match="opq"):
            similarity.ivf_pq_index_write(
                emb, "t_opqbad", str(tmp_path / "b"), n_centroids=4,
                m=4, nbits=4, opq=True)
    finally:
        for s in ("", "_centroids", "_codebook", "_rotation"):
            spark.sql(f"DROP TABLE IF EXISTS t_opqx{s}")


def test_opq_nonparametric_improves_training_objective(spark,
                                                       tmp_path):
    """r10 OPQ-NP (Ge et al. 2013 §5): alternating codebook/rotation
    updates from the OPQ-P init — on anisotropic correlated data the
    learned rotation is orthogonal, the shared quantization-error
    objective E‖R·x − q(R·x)‖² does not regress vs OPQ-P (each
    half-step minimizes it with the other half fixed), the rotation
    is a drop-in for the stamped sidecar (write/probe/append all work
    through opq_np_iters), and the guards fail by name."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(5)
    d, n, m, nbits = 16, 300, 4, 4
    mix = rng.normal(size=(d, d)) * np.linspace(3, 0.1, d)[None, :]
    X = rng.normal(size=(n, d)) @ mix.T
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")

    def mse(rot):
        """Train codebooks on the rotated corpus (the production
        path), reconstruct in numpy, return E‖R·x − q(R·x)‖²."""
        rotated = emb.select(
            "vec_id", similarity._rotate_expr(rot).alias("embedding"))
        cb = np.array(similarity.pq_train_codebooks(
            rotated, m, nbits, 2))
        Xr = X @ np.array(rot).T
        Y = np.empty_like(Xr)
        sub = d // m
        for s in range(m):
            sl = slice(s * sub, (s + 1) * sub)
            diff = Xr[:, None, sl] - cb[None, :, sl]
            Y[:, sl] = cb[(diff * diff).sum(-1).argmin(1), sl]
        return float(((Xr - Y) ** 2).sum(1).mean())

    r_p = similarity.opq_train_rotation(emb, m)
    r_np = similarity.opq_train_rotation_np(emb, m, nbits=nbits,
                                            iters=2, codebook_iters=2)
    R = np.array(r_np)
    assert R.shape == (d, d)
    assert np.allclose(R @ R.T, np.eye(d), atol=1e-6)  # orthogonal
    assert mse(r_np) <= mse(r_p) + 1e-9       # objective never worse
    # drop-in through the writer: probe finds the appended twin
    t = "t_opqnp"
    try:
        similarity.ivf_pq_index_write(
            emb, t, str(tmp_path / "i"), n_centroids=4, m=m,
            nbits=nbits, train_iters=2, codebook_iters=2,
            residual=True, opq=True, opq_np_iters=2)
        rot = similarity._IvfLayout(spark, t).rotation
        assert np.allclose(np.array(rot) @ np.array(rot).T,
                           np.eye(d), atol=1e-6)
        delta = spark.createDataFrame(
            [(9999, [float(v) for v in X[7]])],
            "vec_id long, embedding array<double>")
        similarity.ivf_index_append(delta, t)
        top = similarity.ivf_pq_index_probe(
            spark, t, [float(v) for v in X[7]], k=3, nprobe=2,
            exclude_vec_id=7).collect()
        assert top[0].vec_id == 9999
        with pytest.raises(ValueError, match="opq_np_iters"):
            similarity.ivf_pq_index_write(
                emb, "t_opqnpbad", str(tmp_path / "b"), n_centroids=4,
                m=m, nbits=nbits, train_iters=1, codebook_iters=1,
                opq=False, opq_np_iters=2)
        with pytest.raises(ValueError, match="iters"):
            similarity.opq_train_rotation_np(emb, m, iters=0)
        with pytest.raises(ValueError, match="codebook_iters"):
            similarity.opq_train_rotation_np(emb, m, codebook_iters=0)
    finally:
        for s in ("", "_centroids", "_codebook", "_rotation"):
            spark.sql(f"DROP TABLE IF EXISTS t_opqnp{s}")


def test_ann_recall_estimate_monotone_and_exact_at_full_probe(
        spark, tmp_path):
    """r9 recall harness: on a float IVF index, measured recall@k is
    the real thing — nondecreasing in nprobe and exactly 1.0 when
    every cell is probed (full probe = exact cosine = the ground
    truth definition); the guards fail by name."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(9)
    n, d = 300, 8
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=d)]) for i in range(n)],
        "vec_id long, embedding array<double>")
    t = "t_rcx"
    try:
        similarity.ivf_index_write(emb, t, str(tmp_path / "i"),
                                   n_centroids=4, train_iters=1)
        out = {r.nprobe: r for r in similarity.ann_recall_estimate(
            spark, t, k=5, nprobes=(1, 2, 4),
            sample_ppm=80_000).collect()}
        assert out[1].n_queries > 0
        assert out[1].recall <= out[2].recall <= out[4].recall
        assert out[4].recall == 1.0          # full probe == exact
        assert out[4].truth_rows == out[4].n_queries * 5
        with pytest.raises(ValueError, match="shortlist"):
            similarity.ann_recall_estimate(spark, t, shortlist=10)
        with pytest.raises(ValueError, match="sample_ppm"):
            similarity.ann_recall_estimate(spark, t, sample_ppm=0)
    finally:
        for s in ("", "_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS t_rcx{s}")


@pytest.mark.parametrize("layout", ["float", "pq"])
def test_recall_grid_equals_serving_batch_probe(spark, tmp_path, layout):
    """The recall grid slices ONE serving pass at max(nprobes), so each
    nprobe's top-k from the grid must be exactly what the serving
    batch probe returns at that nprobe with exclude_self on the same
    md5 sample — on a float index (cosine) and a raw-ADC PQ index."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(17)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(96)],
        "vec_id long, embedding array<double>")
    t = f"t_gridsrv_{layout}"
    try:
        if layout == "float":
            similarity.ivf_index_write(emb, t, str(tmp_path / "i"),
                                       n_centroids=4)
        else:
            similarity.ivf_pq_index_write(emb, t, str(tmp_path / "i"),
                                          n_centroids=4, m=4, nbits=3)
        layout = similarity._IvfLayout(spark, t)
        _, queries = similarity._recall_sample(layout, emb, "recall",
                                               250_000)
        settings = similarity._grid_probe_settings(
            layout, queries, 3, (1, 2, 4), (None,), emb, 10_000)
        assert [np_ for np_, _, _ in settings] == [1, 2, 4]
        for np_, _, got in settings:
            want = similarity.ivf_index_probe_batch(
                spark, t, queries, k=3, nprobe=np_, exclude_self=True)
            want = sorted((r.q_id, r.vec_id) for r in want.collect())
            assert want and sorted(map(tuple, got.collect())) == want
    finally:
        for s in ("", "_centroids", "_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{s}")


def test_index_rewrite_with_live_grid_cache_is_safe(spark, tmp_path):
    """r14 regression (the bench's repeat-evaluation crash): the
    recall grid persists scored candidates whose CACHED plans contain
    the index table's partitioned scan; a later ivf_index_write /
    ivf_pq_index_write overwrite of the SAME table then died mid-drop
    with TABLE_OR_VIEW_NOT_FOUND (PruneFileSourcePartitions →
    requireTableExists while the overwrite re-touched the dependent
    cache entries). The writers now DROP-and-uncache first. Rebuilding
    into the SAME path with a live estimate in between — what a
    repeated setup does — must succeed, reproduce the identical recall
    grid, and leave exactly the new build on disk: the post-drop
    overwrite clears the previous build's files, so the row count is
    the corpus size and every cell directory is a live cell."""
    from pathlib import Path

    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(11)
    n, d = 200, 8
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=d)]) for i in range(n)],
        "vec_id long, embedding array<double>")
    t, tpq = "t_rblx", "t_rblxpq"

    def one_build(table, path):
        assert spark.table(table).count() == n
        cells = {f"cell={r.cell}" for r in
                 spark.table(table).select("cell").distinct().collect()}
        assert {p.name for p in Path(path).glob("cell=*")} == cells

    try:
        def grid():
            similarity.ivf_index_write(emb, t, str(tmp_path / "i"),
                                       n_centroids=4, train_iters=1)
            one_build(t, tmp_path / "i")
            return sorted(
                (r.nprobe, r.hits, r.recall) for r in
                similarity.ann_recall_estimate(
                    spark, t, k=3, nprobes=(1, 2),
                    sample_ppm=120_000).collect())

        def grid_pq():
            similarity.ivf_pq_index_write(
                emb, tpq, str(tmp_path / "p"), n_centroids=4,
                m=4, nbits=4, train_iters=1)
            one_build(tpq, tmp_path / "p")
            return sorted(
                (r.nprobe, r.shortlist, r.hits, r.recall) for r in
                similarity.ann_recall_estimate(
                    spark, tpq, k=3, nprobes=(1, 2), emb=emb,
                    shortlist=(5, 10), sample_ppm=120_000).collect())

        first = grid()
        # the estimate's cand/ranked persists are still live here —
        # the rebuild is the crash repro
        assert grid() == first
        first_pq = grid_pq()
        assert grid_pq() == first_pq
    finally:
        for s in ("", "_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{s}")
        for s in ("", "_centroids", "_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS {tpq}{s}")


def test_ann_tune_picks_cheapest_setting_meeting_target(spark,
                                                        tmp_path):
    """r10 auto-sizer: on a random (hard) corpus the recall ladder is
    strictly below 1 until the full probe, so a target of 1.0 must
    select the full-probe setting (cheaper settings exist but miss
    the target), the cost column carries the documented
    nprobe·⌈N/C⌉ arithmetic, an unreachable target returns the
    best-recall row flagged meets_target=false, and the guards fail
    by name."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(9)
    n, d, C = 300, 8, 4
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=d)]) for i in range(n)],
        "vec_id long, embedding array<double>")
    t = "t_tnx"
    try:
        similarity.ivf_index_write(emb, t, str(tmp_path / "i"),
                                   n_centroids=C, train_iters=1)
        grid = {r.nprobe: r for r in similarity.ann_recall_estimate(
            spark, t, k=5, nprobes=(1, 2, 4),
            sample_ppm=80_000).collect()}
        assert grid[2].recall < 1.0      # target=1.0 forces nprobe=4
        pick = similarity.ann_tune(spark, t, target_recall=1.0, k=5,
                                   nprobes=(1, 2, 4),
                                   sample_ppm=80_000).collect()
        assert len(pick) == 1
        row = pick[0]
        assert row.nprobe == 4 and row.meets_target
        assert row.recall == 1.0
        assert row.cost == 4 * ((n + C - 1) // C)   # the cost model
        # a cheaper setting meeting a lower target wins instead
        lo = similarity.ann_tune(
            spark, t, target_recall=float(grid[1].recall), k=5,
            nprobes=(1, 2, 4), sample_ppm=80_000).collect()[0]
        assert lo.nprobe == 1 and lo.meets_target
        assert lo.cost == 1 * ((n + C - 1) // C)
        with pytest.raises(ValueError, match="target_recall"):
            similarity.ann_tune(spark, t, target_recall=0.0)
        with pytest.raises(ValueError, match="n_centroids"):
            similarity.ann_tune(spark, "t_tnx_centroids",
                                target_recall=0.9)
        # PQ refine grid: when every setting meets an easy target,
        # the cheapest (smallest shortlist) wins, and cost carries
        # the re-rank term
        similarity.ivf_pq_index_write(emb, "t_tnpq",
                                      str(tmp_path / "pq"),
                                      n_centroids=C, m=4, nbits=4,
                                      train_iters=1)
        pq = similarity.ann_tune(spark, "t_tnpq", target_recall=0.01,
                                 k=5, nprobes=(2,),
                                 shortlist=(20, 60), emb=emb,
                                 sample_ppm=80_000).collect()[0]
        assert pq.meets_target and pq.shortlist == 20
        assert pq.cost == 2 * ((n + C - 1) // C) + 20
    finally:
        for s in ("", "_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS t_tnx{s}")
        for s in ("", "_centroids", "_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS t_tnpq{s}")


def test_ann_tune_measured_cost_skew_aware(spark, tmp_path):
    """r11 measured pricing: the analytic proxy nprobe·⌈N/C⌉ assumes
    uniform cells. On a UNIFORM index the measured candidate average
    equals the proxy exactly; on a SKEWED one it diverges upward
    (queries route into hot cells — Σsz²/N > N/C by Cauchy-Schwarz
    whenever sizes are unequal), and in both cases the measured value
    equals the actual per-query candidate work recomputed from the
    index's own cell histogram (with a full-corpus query sample,
    every row routes to its own cell, so avg = Σ sz²/N and the full
    probe is exactly N)."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(7)
    eye = np.eye(8) * 10.0

    def mk(cluster_sizes, tag):
        rows, vid = [], 0
        for j, sz in enumerate(cluster_sizes):
            for _ in range(sz):
                v = eye[j] + 0.1 * rng.normal(size=8)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    for tag, cs in (("u", [75, 75, 75, 75]),
                    ("s", [150, 100, 30, 20])):
        t = f"t_mc{tag}"
        try:
            similarity.ivf_index_write(mk(cs, tag), t,
                                       str(tmp_path / tag),
                                       n_centroids=4, train_iters=2,
                                       seed_ids=[10, 80, 160, 230]
                                       if tag == "u" else None)
            props = {r.key: r.value for r in
                     spark.sql(f"SHOW TBLPROPERTIES {t}").collect()}
            mc = {r.nprobe: r["__mc"]
                  for r in similarity._measured_candidates(
                      spark, t, props, (1, 4), 1_000_000, None,
                      "recall").collect()}
            sizes = [r["count"] for r in spark.table(t)
                     .groupBy("cell").count().collect()]
            n = sum(sizes)
            proxy = (n + 3) // 4
            # the identity: measured == real candidate work
            assert mc[4] == float(n)
            assert mc[1] == round(sum(s * s for s in sizes) / n, 6)
            if tag == "u":
                # uniform cells realized -> proxy agreement, and the
                # chosen row's measured_cost matches the analytic cost
                assert sizes == [75] * 4
                assert mc[1] == float(proxy) == 75.0
                row = similarity.ann_tune(
                    spark, t, target_recall=0.01, k=5, nprobes=(1,),
                    sample_ppm=1_000_000).collect()[0]
                assert row.measured_cost == float(row.cost) == 75.0
            else:
                # skew realized -> the proxy underprices the probes
                assert len(set(sizes)) > 1
                assert mc[1] > float(proxy)
        finally:
            for s in ("", "_centroids"):
                spark.sql(f"DROP TABLE IF EXISTS t_mc{tag}{s}")


def test_measured_candidates_routes_opq_queries_in_rotated_space(
        spark, tmp_path):
    """The measured-pricing helper must route queries the way the
    SERVING path does — for an OPQ index that means rotating them
    first. With a full-corpus sample every vector routes to its own
    cell (assignment used the same rotated space), so the measured
    average equals Σ sz²/N from the index's own histogram and the
    full probe equals N exactly; an unrotated routing would scatter
    queries across wrong cells and break both identities."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(21)
    n, d = 240, 8
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=d)]) for i in range(n)],
        "vec_id long, embedding array<double>")
    t = "t_mcopq"
    try:
        similarity.ivf_pq_index_write(emb, t, str(tmp_path / "i"),
                                      n_centroids=4, m=4, nbits=4,
                                      train_iters=2, codebook_iters=1,
                                      opq=True)
        props = {r.key: r.value for r in
                 spark.sql(f"SHOW TBLPROPERTIES {t}").collect()}
        assert props.get("georiva.pq_opq") == "1"
        mc = {r.nprobe: r["__mc"]
              for r in similarity._measured_candidates(
                  spark, t, props, (1, 4), 1_000_000, emb,
                  "recall").collect()}
        sizes = [r["count"] for r in spark.table(t)
                 .groupBy("cell").count().collect()]
        assert mc[4] == float(sum(sizes))
        assert mc[1] == round(sum(s * s for s in sizes) / sum(sizes),
                              6)
    finally:
        for s in ("", "_centroids", "_codebook", "_rotation"):
            spark.sql(f"DROP TABLE IF EXISTS t_mcopq{s}")


def test_minhash_tune_closed_form_and_end_to_end(spark):
    """r10 banding auto-sizer: the S-curve values match an
    independent Python computation, the chosen row is the min-cost
    setting meeting the target under the documented order, an
    unreachable target flags meets_target=false on the best-recall
    row, guards fail by name — and END-TO-END the chosen setting's
    measured recall (minhash_recall_estimate) clears the target on a
    corpus whose true pairs sit ABOVE the threshold (the closed form
    at the threshold is the floor of the catch rate)."""
    from georiva_spark.operators import dedup

    out = dedup.minhash_tune(spark, threshold=0.3, target_recall=0.9,
                             num_hashes_grid=(16, 32, 64)).collect()
    by = {(r.num_hashes, r.bands): r for r in out}
    # closed form vs independent Python
    for (nh, b), r in by.items():
        p = 1.0 - (1.0 - 0.3 ** (nh // b)) ** b
        assert abs(r.recall_at_threshold - round(p, 6)) < 1e-9
        assert r.cost == nh + b
    chosen = [r for r in out if r.chosen]
    assert len(chosen) == 1
    c = chosen[0]
    assert c.meets_target and c.recall_at_threshold >= 0.9
    # min-cost among the meeting settings, ties by the documented order
    meeting = [r for r in out if r.meets_target]
    assert c.cost == min(r.cost for r in meeting)
    # unreachable target: best recall wins, flagged not-met
    imp = dedup.minhash_tune(spark, threshold=0.3,
                             target_recall=1.0,
                             num_hashes_grid=(16,)).collect()
    ich = [r for r in imp if r.chosen][0]
    assert not ich.meets_target
    assert ich.recall_at_threshold == max(r.recall_at_threshold
                                          for r in imp)
    with pytest.raises(ValueError, match="threshold"):
        dedup.minhash_tune(spark, threshold=1.0, target_recall=0.9)
    with pytest.raises(ValueError, match="target_recall"):
        dedup.minhash_tune(spark, threshold=0.3, target_recall=0.0)
    # end-to-end: pairs far above threshold -> measured recall at the
    # chosen (num_hashes, bands) clears the target (closed-form floor)
    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(1, base), (2, base), (3, base + " extra tail words")]
    rows += [(10 + i, f"filler doc number {i} about unrelated topic "
              f"{i} with words {i}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    measured = dedup.minhash_recall_estimate(
        docs, threshold=0.3, sample_ppm=1_000_000,
        num_hashes=c.num_hashes, bands=c.bands,
        portable=True).collect()[0]
    assert measured.true_pairs >= 2
    assert measured.recall >= 0.9
    # measured leg (r11): docs= attaches the SAME end-to-end
    # measurement to the chosen row; the planted pairs sit far above
    # the threshold and the fillers far below threshold/2, so the
    # measured precision clears the analytic floor priced from the
    # S-curve FP proxy (1 - fp_at_half_threshold) and the measured
    # recall clears the closed-form catch-rate floor; non-chosen rows
    # carry NULLs
    tuned = dedup.minhash_tune(
        spark, threshold=0.3, target_recall=0.9,
        num_hashes_grid=(16, 32, 64), docs=docs,
        sample_ppm=1_000_000, portable=True).collect()
    tc = [r for r in tuned if r.chosen][0]
    assert tc.measured_recall >= tc.recall_at_threshold
    assert tc.measured_precision >= 1.0 - tc.fp_at_half_threshold
    assert all(r.measured_recall is None and
               r.measured_precision is None
               for r in tuned if not r.chosen)


def test_ann_recall_estimate_pq_refine_recovers_adc_loss(spark,
                                                         tmp_path):
    """The harness measures the ADC→refine recall ladder on a PQ
    index: raw ADC probes (truth = exact L2) lose recall to
    quantization; the same index probed with a shortlist + exact
    re-rank (truth = exact cosine) recovers it. A PQ index without
    the float corpus fails by name."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(13)
    n, d = 300, 16
    X = rng.normal(size=(n, d))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    t = "t_rcpq"
    try:
        similarity.ivf_pq_index_write(
            emb, t, str(tmp_path / "i"), n_centroids=4, m=4, nbits=4,
            train_iters=1, codebook_iters=2, residual=True)
        adc = similarity.ann_recall_estimate(
            spark, t, k=5, nprobes=(4,), sample_ppm=60_000,
            emb=emb).collect()[0]
        # the (nprobe × shortlist) sizing GRID in one call
        grid = {r.shortlist: r for r in similarity.ann_recall_estimate(
            spark, t, k=5, nprobes=(4,), sample_ppm=60_000,
            emb=emb, shortlist=(20, 80)).collect()}
        ref = grid[80]
        assert set(grid) == {20, 80} and adc.shortlist == 0
        assert grid[20].recall <= ref.recall   # wider shortlist helps
        # full-cell probe + wide shortlist + exact re-rank ≈ exact
        assert ref.recall >= adc.recall
        assert ref.recall >= 0.9
        with pytest.raises(ValueError, match="float corpus"):
            similarity.ann_recall_estimate(spark, t)
    finally:
        for s in ("", "_centroids", "_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS t_rcpq{s}")


def test_streaming_ann_auto_compacts_with_retrain(spark, tmp_path):
    """r9: the ANN stream's compact_every hook — two appends trigger
    an in-stream RETRAINING compaction of the float index (the drift
    story, now scheduled instead of operator-driven): the quantizer
    version bumps, the serving session probes the swapped tables (a
    later batch still finds its cross-batch twin), and requesting
    retrain on a PQ index fails by name at launch (sub-codes can't
    retrain without the float corpus)."""
    import numpy as np

    from georiva_spark.operators import similarity
    from georiva_spark.streaming import start_ann_stream

    rng = np.random.default_rng(71)
    centers = rng.normal(size=(4, 8)) * 4
    base = np.repeat(centers, 5, axis=0) + rng.normal(scale=0.2,
                                                      size=(20, 8))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(20)],
        "vec_id long, embedding array<double>")
    landing = tmp_path / "annc_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "annc_out"), str(tmp_path / "annc_ckpt")
    cdir = str(tmp_path / "annc_compact")
    schema = "vec_id long, embedding array<double>"
    novel = -centers[0] + rng.normal(scale=0.1, size=8)

    def drop(name, rows):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_ann_stream(src, "t_annc", out, ckpt, k=3, nprobe=2,
                             compact_every=2, compact_dir=cdir,
                             retrain_iters=1)
        q.awaitTermination(180)

    try:
        similarity.ivf_index_write(emb, "t_annc", str(tmp_path / "ix"),
                                   n_centroids=4, train_iters=1)
        drop("b0", [(101, [float(v) for v in novel])])
        drop("b1", [(102, [float(v) for v in base[3] + 0.01])])
        cycle()                     # 2 appends → retraining compaction
        props = {r.key: r.value for r in
                 spark.sql("SHOW TBLPROPERTIES t_annc").collect()}
        assert props["georiva.quantizer_version"] == "2"
        # post-compaction batch probes the RETRAINED swapped index
        drop("b2", [(200, [float(v) for v in novel + 0.01])])
        cycle()
        from georiva_spark.streaming import read_ann_neighbors
        by_q = {}
        for r in read_ann_neighbors(spark, out).collect():
            by_q.setdefault(r.q_id, []).append((r.vec_id, r.cosine))
        assert max(by_q[200], key=lambda t: t[1])[0] == 101
        assert spark.table("t_annc").count() == 23
        # PQ + retrain refuses at launch, by name
        similarity.ivf_pq_index_write(
            emb, "t_anncpq", str(tmp_path / "ixpq"), n_centroids=4,
            m=4, nbits=4)
        with pytest.raises(ValueError, match="retrain_iters"):
            start_ann_stream(
                spark.readStream.schema(schema)
                .parquet(str(landing) + "/*"),
                "t_anncpq", out, ckpt, compact_every=2,
                compact_dir=cdir, retrain_iters=1)
    finally:
        for t in ("t_annc", "t_annc_centroids", "t_anncpq",
                  "t_anncpq_centroids", "t_anncpq_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_pq_ann_retrains_in_stream(spark, tmp_path):
    """r10: the WIRED PQ maintenance pass (r9 verdict item 3) — the
    drift story through the STREAMED compressed index instead of an
    operator-driven batch call. retrain_emb hands the loop the grown
    float corpus (base + landing deltas, re-read at each compaction);
    two appends trip the counter and the in-stream
    ivf_index_compact(emb=…, retrain_iters=…) retrains quantizer
    AND stamped codebook, bumps the version across all three tables
    (the skew gate proves sync: the post-compaction batch probes the
    swapped index without a version error and finds its cross-batch
    twin), and the retrained centroids actually moved toward the
    drift. Misuse still fails by name: retrain_emb on a float index
    or without retrain_iters."""
    import numpy as np

    from georiva_spark.operators import similarity
    from georiva_spark.streaming import (read_ann_neighbors,
                                         start_ann_stream)

    rng = np.random.default_rng(73)
    centers = rng.normal(size=(4, 8)) * 4
    base = np.repeat(centers, 5, axis=0) + rng.normal(scale=0.2,
                                                      size=(20, 8))
    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(20)], schema)
    landing = tmp_path / "pqr_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "pqr_out"), str(tmp_path / "pqr_ckpt")
    cdir = str(tmp_path / "pqr_compact")
    drift = -centers[0] * 3 + rng.normal(scale=0.1, size=8)

    def drop(name, rows):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))

    def floats():
        grown = spark.read.schema(schema).parquet(str(landing) + "/*")
        return emb.unionByName(grown)

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_ann_stream(src, "t_pqrs", out, ckpt, k=3, nprobe=2,
                             compact_every=2, compact_dir=cdir,
                             retrain_iters=1, retrain_emb=floats)
        q.awaitTermination(180)

    try:
        similarity.ivf_pq_index_write(
            emb, "t_pqrs", str(tmp_path / "pqr_ix"), n_centroids=4,
            m=4, nbits=4, train_iters=1, codebook_iters=1)
        pre_cents = {r.cell: r.embedding for r in
                     spark.table("t_pqrs_centroids").collect()}
        drop("b0", [(101, [float(v) for v in drift])])
        drop("b1", [(102, [float(v) for v in base[3] + 0.01])])
        cycle()          # 2 appends → in-stream retraining compaction
        props = {r.key: r.value for r in
                 spark.sql("SHOW TBLPROPERTIES t_pqrs").collect()}
        assert props["georiva.quantizer_version"] == "2"
        assert props["georiva.pq_codebook_iters"] == "1"  # retrained
        for side in ("_centroids", "_codebook"):
            sp = {r.key: r.value for r in spark.sql(
                f"SHOW TBLPROPERTIES t_pqrs{side}").collect()}
            assert sp["georiva.quantizer_version"] == "2"
        # the retrained quantizer moved: some centroid now sits near
        # the drift blob (min L2 to the drift point shrank)
        post_cents = {r.cell: r.embedding for r in
                      spark.table("t_pqrs_centroids").collect()}

        def min_d2(cents):
            return min(sum((a - b) ** 2 for a, b in zip(c, drift))
                       for c in cents.values())
        assert min_d2(post_cents) < min_d2(pre_cents)
        # post-compaction batch probes the swapped index (no version
        # skew) and finds its cross-batch twin through PQ serving
        drop("b2", [(200, [float(v) for v in drift + 0.01])])
        cycle()
        by_q = {}
        for r in read_ann_neighbors(spark, out).collect():
            by_q.setdefault(r.q_id, []).append((r.vec_id, r.adc_dist))
        assert min(by_q[200], key=lambda t: t[1])[0] == 101
        assert spark.table("t_pqrs").count() == 23
        # misuse fails by name
        src = (spark.readStream.schema(schema)
               .parquet(str(landing) + "/*"))
        with pytest.raises(ValueError, match="retrain_emb"):
            start_ann_stream(src, "t_pqrs", out, ckpt,
                             compact_every=2, compact_dir=cdir,
                             retrain_iters=0, retrain_emb=floats)
    finally:
        for t in ("t_pqrs", "t_pqrs_centroids", "t_pqrs_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_ann_opq_index_end_to_end(spark, tmp_path,
                                            monkeypatch):
    """r9: the probe-then-grow loop over an OPQ index — every
    streamed query and every appended delta rotates against the
    stamped sidecar inside the shared serving paths, so the
    cross-batch twin is still found via the grown ROTATED index and
    the layout/rotation plumbing is invisible to the loop."""
    import numpy as np

    from georiva_spark.operators import similarity
    from georiva_spark.streaming import (read_ann_neighbors,
                                         start_ann_stream)

    rng = np.random.default_rng(73)
    d = 8
    mix = rng.normal(size=(d, d)) * np.linspace(3, 0.1, d)[None, :]
    centers = (rng.normal(size=(4, d)) * 4) @ mix.T
    base = np.repeat(centers, 8, axis=0) + (
        rng.normal(scale=0.2, size=(32, d)) @ mix.T)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(32)],
        "vec_id long, embedding array<double>")
    similarity.ivf_pq_index_write(
        emb, "t_annopq", str(tmp_path / "ix"), n_centroids=4, m=4,
        nbits=3, train_iters=1, codebook_iters=2, residual=True,
        opq=True)
    landing = tmp_path / "opq_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "opq_out"), str(tmp_path / "opq_ckpt")
    schema = "vec_id long, embedding array<double>"
    novel = (-centers[0] + rng.normal(scale=0.1, size=d) @ mix.T)
    for name, rows in (("b0", [(101, [float(v) for v in novel])]),
                       ("b1", [(200, [float(v) for v in novel])])):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))
    try:
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        refreshed = _spy_refresh_tables(monkeypatch)
        q = start_ann_stream(src, "t_annopq", out, ckpt, k=3, nprobe=2)
        q.awaitTermination(180)
        # the OPQ rotation sidecar refreshes too (a retraining
        # compaction swaps it)
        assert refreshed == [("t_annopq", "t_annopq_centroids",
                              "t_annopq_codebook", "t_annopq_rotation")]
        nbrs = read_ann_neighbors(spark, out).collect()
        b200 = [r for r in nbrs if r.q_id == 200]
        # the exact twin appended by batch 0, found through the
        # rotated encode + rotated probe
        assert min(b200, key=lambda r: r.adc_dist).vec_id == 101
        assert spark.table("t_annopq").count() == 34
    finally:
        for s in ("", "_centroids", "_codebook", "_rotation"):
            spark.sql(f"DROP TABLE IF EXISTS t_annopq{s}")


def test_minhash_recall_estimate_measures_end_to_end_catch(spark):
    """r9: the LSH calibration harness — exact Jaccard ground truth
    within the sample vs the production banding path. Planted exact
    dups are caught (recall counts them), sub-threshold pairs stay
    out of the truth set, empty denominators yield NULL instead of a
    divide-by-zero, and the estimate is invariant under
    repartitioning."""
    from georiva_spark.operators.dedup import minhash_recall_estimate

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(1, base), (2, base),                      # exact dup pair
            (3, base.replace("alpha", "qq").replace("pi", "zz")),
            (4, "totally different words entirely here nothing shared "
                "with anything else in this corpus at all today")]
    rows += [(10 + i, f"filler doc number {i} about unrelated topic "
              f"{i} with words {i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_recall_estimate(docs, threshold=0.5,
                                  sample_ppm=1_000_000,
                                  portable=True).collect()[0]
    assert out.n_docs == 14
    assert out.true_pairs >= 1                 # the exact dup at least
    assert out.caught_pairs >= 1               # ...and LSH catches it
    assert out.caught_pairs <= out.true_pairs
    assert out.recall is not None and 0 < out.recall <= 1.0
    assert out.precision is not None and 0 < out.precision <= 1.0
    # invariance under partitioning
    again = minhash_recall_estimate(docs.repartition(7), threshold=0.5,
                                    sample_ppm=1_000_000,
                                    portable=True).collect()[0]
    assert (again.true_pairs, again.caught_pairs, again.flagged_pairs) \
        == (out.true_pairs, out.caught_pairs, out.flagged_pairs)
    # a sample with no near-dup pairs: NULL ratios, not divide-by-zero
    lone = spark.createDataFrame(
        [(1, "one single document with no partner in the sample")],
        "doc_id long, text string")
    empty = minhash_recall_estimate(lone, threshold=0.5,
                                    sample_ppm=1_000_000).collect()[0]
    assert empty.true_pairs == 0 and empty.recall is None
    assert empty.flagged_pairs == 0 and empty.precision is None
    with pytest.raises(ValueError, match="sample_ppm"):
        minhash_recall_estimate(docs, sample_ppm=0)
    # r10: the pair-count budget guard — the calibration is quadratic
    # in the sample, so an over-drawn sample fails BY NAME before any
    # truth work runs (14 docs ⇒ 91 pairs > 50), and the message
    # carries the budget arithmetic
    with pytest.raises(ValueError, match="max_sample_pairs"):
        minhash_recall_estimate(docs, sample_ppm=1_000_000,
                                max_sample_pairs=50)
    with pytest.raises(ValueError, match="max_sample_pairs"):
        minhash_recall_estimate(docs, max_sample_pairs=0)


def test_hamming_recall_estimate_proves_pigeonhole_guarantee(spark):
    """r9 triad completion: brute-force ground truth vs the banded
    path on planted codes — recall and precision are EXACTLY 1.0
    (pigeonhole completeness + exact verify), the empty sample yields
    NULL ratios, and the guard fails by name."""
    from georiva_spark.operators.dedup import hamming_recall_estimate

    rows = [(1, 0b1111), (2, 0b1110),            # hamming 1 pair
            (3, 0b1111),                          # exact dup of 1
            (4, (1 << 40) | 0b101)]               # far from everything
    rows += [(100 + i, (i * 0x9E3779B97F4A7) & ((1 << 56) - 1))
             for i in range(50)]
    codes = spark.createDataFrame(rows, "media_id long, code long")
    out = hamming_recall_estimate(codes, max_hamming=2, bits=56,
                                  sample_ppm=1_000_000).collect()[0]
    assert out.n_items == 54
    assert out.true_pairs >= 3            # (1,2),(1,3),(2,3) at least
    assert out.caught_pairs == out.true_pairs == out.flagged_pairs
    assert out.recall == 1.0 and out.precision == 1.0
    with pytest.raises(ValueError, match="sample_ppm"):
        hamming_recall_estimate(codes, sample_ppm=2_000_000)


def test_minhash_index_retract_tombstones_then_compact_purges(
        spark, tmp_path):
    """r12 — T5 reaching the index: retract tombstones a shard's dead
    generations (probes stop matching immediately, O(1) rule rows);
    compaction removes the rows physically and clears the rules."""
    t = "t_mhretr"
    base = _docs(spark, [(1, BASE)])
    novel = ("an entirely new crawl page describing salted cell "
             "joins and fan out spread for streamed ann serving")
    try:
        dedup.minhash_index_write(base, t, str(tmp_path / "ix"),
                                  n_buckets=4)
        g1 = dedup.index_gen("sA", "v1")
        dedup.minhash_index_append(_docs(spark, [(10, novel)]), t,
                                   gen=g1)
        assert dedup.minhash_index_has_gen(spark, t, g1)
        probe = _docs(spark, [(99, novel.replace("salted", "seeded")),
                              (98, BASE.replace("tonight", "someday"))])
        got = {(r.doc_new, r.doc_old) for r in
               dedup.minhash_index_probe(probe, t,
                                         threshold=0.5).collect()}
        assert (99, 10) in got and (98, 1) in got
        # re-crawl sA: tombstone everything but the incoming g2
        g2 = dedup.index_gen("sA", "v2")
        dedup.minhash_index_retract(spark, t, "sA", keep_gen=g2)
        got = {(r.doc_new, r.doc_old) for r in
               dedup.minhash_index_probe(probe, t,
                                         threshold=0.5).collect()}
        assert not any(do == 10 for _, do in got)   # dead generation
        assert (98, 1) in got                       # '' base unscathed
        # the replacement generation is live (it IS the keep_gen)
        other = ("fresh recrawled body text with wholly different "
                 "tokens about reduced gaussian grib grids")
        dedup.minhash_index_append(_docs(spark, [(11, other)]), t,
                                   gen=g2)
        got = {(r.doc_new, r.doc_old) for r in dedup.minhash_index_probe(
            _docs(spark, [(97, other.replace("fresh", "newly"))]), t,
            threshold=0.5).collect()}
        assert (97, 11) in got
        # physical purge at compaction + rule table cleared
        assert spark.table(f"{t}_sigs").where("doc_id = 10").count() == 1
        dedup.minhash_index_compact(spark, t, str(tmp_path / "cmp"))
        assert spark.table(f"{t}_sigs").where("doc_id = 10").count() == 0
        assert spark.table(f"{t}_bands").where("doc_id = 10").count() == 0
        assert not spark.catalog.tableExists(f"{t}_dead")
        got = {(r.doc_new, r.doc_old) for r in
               dedup.minhash_index_probe(probe, t,
                                         threshold=0.5).collect()}
        assert not any(do == 10 for _, do in got)
        assert (98, 1) in got
    finally:
        for s in ("bands", "sigs", "dead", "bands_compact",
                  "sigs_compact", "bands_old", "sigs_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")


def test_minhash_retract_validation_and_unversioned_guards(
        spark, tmp_path):
    """index_gen rejects empty/sentinel shards; retracting the ''
    base is refused (before any table lookup); a pre-r12 unversioned
    layout refuses tagged appends by name (rebuild to make it
    retractable), and every family's shard retract refuses it too —
    without writing a rule."""
    with pytest.raises(ValueError, match="non-empty"):
        dedup.index_gen("", "v1")
    with pytest.raises(ValueError, match="GEN_SEP"):
        dedup.index_gen("a\x1fb", "v1")
    with pytest.raises(ValueError, match="non-empty"):
        dedup.minhash_index_retract(spark, "t_any", "")
    # hand-build an old (gen-less) layout: bucketed tables + stamp
    from georiva_spark.operators import similarity
    from georiva_spark.sources.bucketing import write_bucketed
    t = "t_mhold"
    base = _docs(spark, [(1, BASE)])
    try:
        sig = dedup.minhash_signatures(base)
        banded = sig.select(
            "doc_id",
            F.posexplode(dedup._band_buckets(64, 16))
            .alias("band", "bucket"))
        write_bucketed(banded.select("band", "bucket", "doc_id"),
                       f"{t}_bands", ["band", "bucket"], 4,
                       str(tmp_path / "ob"))
        write_bucketed(sig, f"{t}_sigs", "doc_id", 4,
                       str(tmp_path / "os"), sort=False)
        spark.sql(
            f"ALTER TABLE {t}_bands SET TBLPROPERTIES ("
            f"'georiva.num_hashes'='64', 'georiva.bands'='16', "
            f"'georiva.n'='3', 'georiva.n_buckets'='4')")
        with pytest.raises(ValueError, match="unversioned"):
            dedup.minhash_index_append(base, t,
                                       gen=dedup.index_gen("s", "v"))
        # the same guard on every family's shard retract: a gen-less
        # Hamming membership table and a gen-less IVF table, built the
        # old way
        write_bucketed(
            spark.createDataFrame([(15, 1)], "ref long, id long"),
            "t_hmold_ids", "ref", 4, str(tmp_path / "hi"))
        (spark.createDataFrame([(1, [0.5, 0.5], 0)],
                               "vec_id long, embedding array<double>, "
                               "cell int")
         .write.partitionBy("cell").option("path", str(tmp_path / "iv"))
         .saveAsTable("t_ivold"))
        for retract, index in ((dedup.minhash_index_retract, t),
                               (dedup.hamming_index_retract, "t_hmold"),
                               (similarity.ivf_index_retract, "t_ivold")):
            with pytest.raises(ValueError, match="unversioned"):
                retract(spark, index, "s")
            assert not spark.catalog.tableExists(f"{index}_dead")
        # untagged appends and probes still work on the old layout
        dedup.minhash_index_append(_docs(spark, [(2, BASE)]), t)
        got = {(r.doc_new, r.doc_old) for r in
               dedup.minhash_index_probe(_docs(spark, [(9, BASE)]), t,
                                         threshold=0.5).collect()}
        assert {(9, 1), (9, 2)} <= got
    finally:
        for s in ("bands", "sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")
        for x in ("t_hmold_ids", "t_ivold"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")


def test_hamming_index_retract_membership_and_compact(spark, tmp_path):
    """r12 — T5 reaching the Hamming media index: retraction works at
    the MEMBERSHIP layer (band rows are distinct codes shared across
    shards); probes and lookups stop matching a re-crawled shard's
    dead members immediately, a new delivery re-admits the same
    (code, id) under its new generation, and compaction purges dead
    memberships AND band rows whose code has no live member left."""
    t = "t_hret"
    base = spark.createDataFrame([(1, 0b1111)],
                                 "media_id long, code long")
    try:
        dedup.hamming_index_write(base, t, str(tmp_path / "h"),
                                  max_hamming=2, bits=64, n_buckets=4)
        g1 = dedup.index_gen("mA", "v1")
        shard = spark.createDataFrame([(100, 0b10110000)],
                                      "media_id long, code long")
        dedup.hamming_index_append(shard, t, gen=g1)
        probe = spark.createDataFrame(
            [(900, 0b10110001), (902, 0b1110)],
            "media_id long, code long")

        def pairs():
            return {(r.id_new, r.id_old) for r in
                    dedup.hamming_index_probe(probe, t).collect()}

        assert pairs() == {(900, 100), (902, 1)}
        # re-crawl mA: the old membership dies
        g2 = dedup.index_gen("mA", "v2")
        dedup.hamming_index_retract(spark, t, "mA", keep_gen=g2)
        assert pairs() == {(902, 1)}
        look = {r.id_new for r in
                dedup.hamming_index_lookup(probe, t).collect()}
        assert look == {902}
        # the new delivery re-admits the same (code, id) under g2 —
        # the duplicate-membership anti-join considers LIVE rows only
        dedup.hamming_index_append(shard, t, gen=g2)
        assert pairs() == {(900, 100), (902, 1)}
        # retract the shard entirely, then compact: memberships AND
        # the now-member-less band rows purge physically
        dedup.hamming_index_retract(spark, t, "mA")
        assert pairs() == {(902, 1)}
        n_band_rows = spark.table(f"{t}_bands").count()
        dedup.hamming_index_compact(spark, t, str(tmp_path / "h2"))
        assert not spark.catalog.tableExists(f"{t}_dead")
        assert spark.table(f"{t}_ids").where("id = 100").count() == 0
        assert spark.table(f"{t}_bands").count() < n_band_rows
        assert pairs() == {(902, 1)}
        with pytest.raises(ValueError, match="non-empty"):
            dedup.hamming_index_retract(spark, t, "")
    finally:
        for s in ("bands", "ids", "dead", "bands_compact",
                  "ids_compact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")


def test_ivf_index_retract_float_and_pq(spark, tmp_path):
    """r12 — T5 reaching the embedding indexes: a re-crawled shard's
    vectors are tombstoned out of probe results immediately (float
    and PQ layouts), compaction purges them physically, and a PQ
    RETRAIN compaction restricts the caller's corpus to live rows
    (dead vectors neither train nor re-enter) while carrying each
    survivor's generation."""
    import numpy as np

    from georiva_spark.operators import similarity
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 8)) * 6.0

    def mk(ids, blobs, jitter=0.05):
        return spark.createDataFrame(
            [(i, [float(v) for v in
                  centers[b] + jitter * rng.normal(size=8)])
             for i, b in zip(ids, blobs)],
            "vec_id long, embedding array<double>")

    base = mk(range(8), [i % 4 for i in range(8)])
    g1 = dedup.index_gen("sE", "v1")
    q = [float(v) for v in centers[0]]
    for kind in ("float", "pq"):
        t = f"t_ivfret_{kind}"
        try:
            if kind == "float":
                similarity.ivf_index_write(
                    base, t, str(tmp_path / kind), n_centroids=4)
            else:
                similarity.ivf_pq_index_write(
                    base, t, str(tmp_path / kind), n_centroids=4,
                    m=4, nbits=3)
            delta = mk([100, 101], [0, 0])
            if kind == "float":
                similarity.ivf_index_append(delta, t, gen=g1)
                probe = lambda: {r.vec_id for r in           # noqa: E731
                                 similarity.ivf_index_probe(
                                     spark, t, q, k=4,
                                     nprobe=2).collect()}
            else:
                similarity.ivf_index_append(delta, t, gen=g1)
                probe = lambda: {r.vec_id for r in           # noqa: E731
                                 similarity.ivf_pq_index_probe(
                                     spark, t, q, k=4,
                                     nprobe=2).collect()}
            assert {100, 101} <= probe()
            similarity.ivf_index_retract(spark, t, "sE")
            got = probe()
            assert not ({100, 101} & got)
            assert {0, 4} <= got            # the blob-0 base vectors
            n = spark.table(t).count()
            assert n == 10                  # dead rows still physical
            if kind == "float":
                similarity.ivf_index_compact(
                    spark, t, str(tmp_path / f"{kind}_c"))
            else:
                # RETRAIN compaction: the caller's corpus still holds
                # the dead vectors — the live-filter must drop them
                full = base.unionByName(delta)
                similarity.ivf_index_compact(
                    spark, t, str(tmp_path / f"{kind}_c"),
                    emb=full, retrain_iters=1)
            assert spark.table(t).count() == 8
            assert not spark.catalog.tableExists(f"{t}_dead")
            assert "gen" in spark.table(t).columns
            got2 = probe()
            assert not ({100, 101} & got2) and {0, 4} <= got2
        finally:
            for s in ("", "_centroids", "_codebook", "_dead",
                      "_compact", "_centroids_compact",
                      "_codebook_compact", "_old"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{s}")


def test_tombstone_rules_survive_driver_restart(spark, tmp_path):
    """r12: Spark's in-memory catalog forgets the rule table across
    driver restarts while the warehouse keeps its files — the next
    session must ADOPT them (ignoring them would silently resurrect
    dead rows; re-creating a managed table over the location crashes
    with LOCATION_ALREADY_EXISTS, the exact bench failure this
    pins). clear_rules removes the adopted location too."""
    import os
    import shutil

    from georiva_spark.operators import _tombstones as tb
    t = "t_mhadopt"
    base = _docs(spark, [(1, BASE)])
    novel = ("entirely novel content about manifest pointer commits "
             "and adopted tombstone rule tables")
    try:
        dedup.minhash_index_write(base, t, str(tmp_path / "ix"),
                                  n_buckets=4)
        dedup.minhash_index_append(_docs(spark, [(10, novel)]), t,
                                   gen=dedup.index_gen("sA", "v1"))
        dedup.minhash_index_retract(spark, t, "sA")
        probe = _docs(spark, [(99, novel.replace("novel", "fresh"))])

        def hits():
            return {r.doc_old for r in dedup.minhash_index_probe(
                probe, t, threshold=0.4).collect()}

        assert 10 not in hits()
        # ---- simulate a driver restart: catalog entry gone, files
        # still on disk (managed DROP deletes, so park + restore)
        loc = tb.warehouse_path(spark, f"{t}_dead")
        assert loc and os.path.isdir(loc)
        shutil.copytree(loc, loc + "_bak")
        spark.sql(f"DROP TABLE {t}_dead")
        assert not os.path.exists(loc)
        shutil.move(loc + "_bak", loc)
        assert not spark.catalog.tableExists(f"{t}_dead")
        # a fresh retract must ADOPT + append, not crash on the
        # existing location (the bench failure shape)
        dedup.minhash_index_retract(spark, t, "sA")
        assert 10 not in hits()
        # and a pure reader adopts too (drop the entry again)
        shutil.copytree(loc, loc + "_bak")
        spark.sql(f"DROP TABLE {t}_dead")
        shutil.move(loc + "_bak", loc)
        assert 10 not in hits()               # the live filter adopted
        assert spark.catalog.tableExists(f"{t}_dead")
        # clear_rules removes the (now external) adopted location
        tb.clear_rules(spark, t)
        assert not spark.catalog.tableExists(f"{t}_dead")
        assert not os.path.exists(loc)
    finally:
        for s in ("bands", "sigs", "dead"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")
        if 'loc' in dir() and loc:
            shutil.rmtree(loc + "_bak", ignore_errors=True)


def test_minhash_compact_after_adoption_clears_location(spark,
                                                        tmp_path):
    """r13 (ADVICE): minhash_index_compact must clear an ADOPTED
    (post-driver-restart, external) rule table through clear_rules —
    the previous raw DROP left the adopted location's files on disk,
    so the next probe re-adopted the STALE rules and permanently
    tombstoned any later live generation of the shard that isn't the
    stale keep_gen."""
    import os
    import shutil

    from georiva_spark.operators import _tombstones as tb
    t = "t_mhcadopt"
    novel = ("a wholly novel passage describing adopted rule tables "
             "that a compaction must clear by location")
    try:
        dedup.minhash_index_write(_docs(spark, [(1, BASE)]), t,
                                  str(tmp_path / "ix"), n_buckets=4)
        g1 = dedup.index_gen("sA", "v1")
        dedup.minhash_index_append(_docs(spark, [(10, novel)]), t,
                                   gen=g1)
        dedup.minhash_index_retract(spark, t, "sA")
        # restart: catalog forgets, files survive -> next reader adopts
        loc = tb.warehouse_path(spark, f"{t}_dead")
        shutil.copytree(loc, loc + "_bak")
        spark.sql(f"DROP TABLE {t}_dead")
        shutil.move(loc + "_bak", loc)
        probe = _docs(spark, [(99, novel.replace("novel", "fresh"))])
        assert {r.doc_old for r in dedup.minhash_index_probe(
            probe, t, threshold=0.4).collect()} == set()  # adopted
        dedup.minhash_index_compact(spark, t, str(tmp_path / "c"))
        # the adopted external location is GONE, not just the entry —
        # a re-adoption of stale rules here would tombstone the next
        # live generation of sA forever
        assert not spark.catalog.tableExists(f"{t}_dead")
        assert not os.path.exists(loc)
        g2 = dedup.index_gen("sA", "v2")
        dedup.minhash_index_append(_docs(spark, [(11, novel)]), t,
                                   gen=g2)
        assert {r.doc_old for r in dedup.minhash_index_probe(
            probe, t, threshold=0.4).collect()} == {11}
    finally:
        for x in ("bands", "sigs", "dead", "bands_compact",
                  "sigs_compact", "bands_old", "sigs_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{x}")


def test_minhash_retract_docs_takedown(spark, tmp_path):
    """r13 — doc-grained T5 (takedown / right-to-be-forgotten):
    retracting SPECIFIC doc_ids hides them from probes immediately
    (second broadcast anti-join), compaction purges their band +
    signature rows physically and clears the rules, and a LATER
    append may re-admit the id (new content is a new ingestion
    decision)."""
    import os

    from georiva_spark.operators import _tombstones as tb
    t = "t_mhdocs"
    novel = ("an entirely distinct passage naming doc level takedown "
             "rules and their bounded broadcast anti join")
    try:
        dedup.minhash_index_write(
            _docs(spark, [(1, BASE), (2, novel)]), t,
            str(tmp_path / "ix"), n_buckets=4)
        dedup.minhash_index_append(
            _docs(spark, [(3, novel)]), t,
            gen=dedup.index_gen("sA", "v1"))
        probe = _docs(spark, [(99, novel.replace("entirely", "fully"))])

        def hits():
            return {r.doc_old for r in dedup.minhash_index_probe(
                probe, t, threshold=0.4).collect()}

        assert hits() == {2, 3}
        # takedown doc 2 (base, unversioned gen) AND doc 3 (tagged) —
        # doc rules work on any layout, gen or not
        dedup.minhash_index_retract_docs(spark, t, [2, 3])
        assert hits() == set()
        # the stamp is set (the r13 fail-by-name adoption tripwire)
        props = {r.key: r.value for r in spark.sql(
            f"SHOW TBLPROPERTIES {t}_bands").collect()}
        assert props.get("georiva.has_doc_tombstones")
        # physical rows remain until compaction purges them
        assert spark.table(f"{t}_sigs").where(
            "doc_id in (2, 3)").count() == 2
        dedup.minhash_index_compact(spark, t, str(tmp_path / "c"))
        assert spark.table(f"{t}_sigs").where(
            "doc_id in (2, 3)").count() == 0
        assert spark.table(f"{t}_bands").where(
            "doc_id in (2, 3)").count() == 0
        assert not spark.catalog.tableExists(f"{t}_dead_docs")
        loc = tb.warehouse_path(spark, f"{t}_dead_docs")
        assert loc and not os.path.exists(loc)
        props = {r.key: r.value for r in spark.sql(
            f"SHOW TBLPROPERTIES {t}_bands").collect()}
        assert not props.get("georiva.has_doc_tombstones")
        assert hits() == set()          # purge is probe-neutral
        assert 1 not in hits()
        # post-purge re-append re-admits (documented semantics)
        dedup.minhash_index_append(_docs(spark, [(3, novel)]), t,
                                   gen=dedup.index_gen("sA", "v2"))
        assert hits() == {3}
        # empty takedown fails by name
        with pytest.raises(ValueError, match="empty"):
            dedup.minhash_index_retract_docs(spark, t, [])
    finally:
        for x in ("bands", "sigs", "dead", "dead_docs",
                  "bands_compact", "sigs_compact", "bands_old",
                  "sigs_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{x}")


def test_hamming_and_ivf_retract_docs_takedown(spark, tmp_path):
    """r13 — the takedown reaches the perceptual and embedding
    families through the same rule machinery: Hamming retracts at the
    membership layer (shared band rows stay until compaction drops
    member-less codes), IVF filters vec_ids out of probes and purges
    at compaction; shard rules and doc rules COMPOSE."""
    from georiva_spark.operators import similarity

    # ---- Hamming
    t = "t_hdocs"
    try:
        base = spark.createDataFrame(
            [(1, 0b1111), (2, 0b1111), (3, 0b10110000)],
            "media_id long, code long")
        dedup.hamming_index_write(base, t, str(tmp_path / "h"),
                                  max_hamming=2, bits=64, n_buckets=4)
        probe = spark.createDataFrame(
            [(900, 0b1110), (901, 0b10110001)],
            "media_id long, code long")

        def pairs():
            return {(r.id_new, r.id_old) for r in
                    dedup.hamming_index_probe(probe, t).collect()}

        assert pairs() == {(900, 1), (900, 2), (901, 3)}
        dedup.hamming_index_retract_docs(spark, t, [2, 3])
        assert pairs() == {(900, 1)}            # 1 shares 2's code
        look = {r.id_new: r.n_matched_items for r in
                dedup.hamming_index_lookup(probe, t).collect()}
        assert look == {900: 1}                 # counts exclude dead
        n_bands = spark.table(f"{t}_bands").count()
        dedup.hamming_index_compact(spark, t, str(tmp_path / "h2"))
        assert pairs() == {(900, 1)}
        # 3's code lost its only member -> its band rows dropped
        assert spark.table(f"{t}_bands").count() < n_bands
        assert spark.table(f"{t}_ids").where(
            "id in (2, 3)").count() == 0
        assert not spark.catalog.tableExists(f"{t}_dead_docs")
    finally:
        for x in ("bands", "ids", "dead", "dead_docs",
                  "bands_compact", "ids_compact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{x}")

    # ---- IVF float: doc rules compose with shard rules
    import numpy as np
    t = "t_ivfdocs"
    try:
        rng = np.random.default_rng(3)
        centers = rng.normal(size=(4, 8)) * 6.0
        emb = spark.createDataFrame(
            [(i, [float(v) for v in
                  centers[i % 4] + 0.05 * rng.normal(size=8)])
             for i in range(8)],
            "vec_id long, embedding array<double>")
        similarity.ivf_index_write(emb, t, str(tmp_path / "v"),
                                   n_centroids=4)
        twins = spark.createDataFrame(
            [(100, [float(v) for v in centers[0]]),
             (101, [float(v) for v in centers[0]])],
            "vec_id long, embedding array<double>")
        similarity.ivf_index_append(twins, t,
                                    gen=dedup.index_gen("sE", "v1"))
        q = [float(v) for v in centers[0]]

        def got():
            return {r.vec_id for r in similarity.ivf_index_probe(
                spark, t, q, k=4, nprobe=2).collect()}

        assert {100, 101} <= got()
        similarity.ivf_index_retract_docs(spark, t, [100, 0])
        g = got()
        assert 100 not in g and 0 not in g and 101 in g
        # compose: now retract the whole shard too
        similarity.ivf_index_retract(spark, t, "sE")
        g = got()
        assert not ({100, 101, 0} & g) and 4 in g
        similarity.ivf_index_compact(spark, t, str(tmp_path / "vc"))
        assert spark.table(t).where(
            "vec_id in (0, 100, 101)").count() == 0
        assert not spark.catalog.tableExists(f"{t}_dead")
        assert not spark.catalog.tableExists(f"{t}_dead_docs")
        g = got()
        assert not ({100, 101, 0} & g) and 4 in g
    finally:
        for s in ("", "_centroids", "_dead", "_dead_docs",
                  "_compact", "_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{s}")


def test_single_writer_violation_fails_at_compaction(spark, tmp_path):
    """r13: the single-writer rule-table contract is OBSERVABLE — two
    concurrent retracters minting the same seq make 'latest rule per
    shard' ambiguous, and compaction must fail by name instead of
    physically deleting rows chosen by an ambiguous rule."""
    from georiva_spark.functions.frames import local_frame
    t = "t_mhsw"
    try:
        dedup.minhash_index_write(_docs(spark, [(1, BASE)]), t,
                                  str(tmp_path / "ix"), n_buckets=4)
        dedup.minhash_index_append(_docs(spark, [(2, BASE)]), t,
                                   gen=dedup.index_gen("sA", "v1"))
        dedup.minhash_index_retract(spark, t, "sA")
        # a concurrent retracter read the same max(seq) and appended
        # the same seq with a DIFFERENT keep_gen
        cur = spark.table(f"{t}_dead").agg(F.max("seq")).head()[0]
        (local_frame(spark,
                     [("sA", dedup.index_gen("sA", "v1"), int(cur))],
                     "shard string, keep_gen string, seq long")
         .write.mode("append").format("parquet")
         .saveAsTable(f"{t}_dead"))
        spark.catalog.refreshTable(f"{t}_dead")
        with pytest.raises(ValueError, match="single-writer"):
            dedup.minhash_index_compact(spark, t, str(tmp_path / "c"))
    finally:
        for x in ("bands", "sigs", "dead", "bands_compact",
                  "sigs_compact"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{x}")


def test_tombstone_stamp_fails_by_name_when_unadoptable(
        spark, tmp_path, monkeypatch):
    """r13 (the r12 verdict's 'What's wrong' #1): on a warehouse where
    rule-file adoption is impossible (non-file: scheme, in-memory
    catalog), a restarted driver must FAIL BY NAME at the next probe
    instead of silently resurrecting dead rows — the
    georiva.has_tombstones stamp on the index table is the witness."""
    from georiva_spark.operators import _tombstones as tb
    t = "t_mhstamp"
    novel = ("one more unique body about warehouse schemes and "
             "adoption tripwires for the stamp test")
    try:
        dedup.minhash_index_write(_docs(spark, [(1, BASE)]), t,
                                  str(tmp_path / "ix"), n_buckets=4)
        dedup.minhash_index_append(_docs(spark, [(10, novel)]), t,
                                   gen=dedup.index_gen("sA", "v1"))
        dedup.minhash_index_retract(spark, t, "sA")
        probe = _docs(spark, [(99, novel.replace("unique", "rare"))])
        assert {r.doc_old for r in dedup.minhash_index_probe(
            probe, t, threshold=0.4).collect()} == set()
        # restart onto an HDFS-style warehouse: catalog forgot the
        # rule table AND the location helper cannot reach its files
        spark.sql(f"DROP TABLE {t}_dead")
        monkeypatch.setattr(tb, "warehouse_path",
                            lambda *a, **k: None)
        with pytest.raises(ValueError,
                           match="georiva.has_tombstones"):
            dedup.minhash_index_probe(probe, t, threshold=0.4)
        # same tripwire for doc rules (clear the shard stamp first so
        # the doc stamp is the one that fires)
        monkeypatch.undo()
        spark.sql(f"ALTER TABLE {t}_bands UNSET TBLPROPERTIES "
                  f"IF EXISTS ('georiva.has_tombstones')")
        dedup.minhash_index_retract_docs(spark, t, [10])
        spark.sql(f"DROP TABLE {t}_dead_docs")
        monkeypatch.setattr(tb, "warehouse_path",
                            lambda *a, **k: None)
        with pytest.raises(ValueError,
                           match="georiva.has_doc_tombstones"):
            dedup.minhash_index_probe(probe, t, threshold=0.4)
    finally:
        monkeypatch.undo()
        for x in ("bands", "sigs", "dead", "dead_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{x}")


def test_tombstone_protocol_model_equivalence(spark, tmp_path):
    """r12 model-based sequence test: a seeded random sequence of the
    ingest protocol's index ops (deliver / re-deliver identical /
    re-crawl / retract-entirely / compact) against a persistent
    MinHash index must keep the probe-visible doc set EQUAL to a
    trivial dict model {shard: version} after every step — the
    end-to-end statement of the tombstone semantics (latest rule
    wins, keep_gen survives, replay guard, physical purge)."""
    import random

    t = "t_mhmodel"
    text = ("the shared near duplicate body text that every live "
            "document carries verbatim tonight")

    def docs_for(shard_i, version):
        ids = [shard_i * 10000 + version * 100 + j for j in range(2)]
        return _docs(spark, [(i, text) for i in ids]), set(ids)

    probe = _docs(spark, [(999999, text)])
    model: dict[int, int] = {}          # shard index -> live version

    def expected():
        return {s * 10000 + v * 100 + j
                for s, v in model.items() for j in range(2)}

    def live():
        return {r.doc_old for r in dedup.minhash_index_probe(
            probe, t, threshold=0.9).collect()}

    try:
        dedup.minhash_index_write(
            _docs(spark, [(1, "unrelated seed content about zonal "
                              "statistics and lambert grids")]),
            t, str(tmp_path / "ix"), n_buckets=4)
        rng = random.Random(7)
        for step in range(14):
            op = rng.choice(["deliver", "redeliver", "recrawl",
                             "retract", "compact"])
            s = rng.randrange(3)
            if op == "deliver" and s not in model:
                df, _ = docs_for(s, 1)
                dedup.minhash_index_append(
                    df, t, gen=dedup.index_gen(f"s{s}", "v1"))
                model[s] = 1
            elif op == "redeliver" and s in model:
                g = dedup.index_gen(f"s{s}", f"v{model[s]}")
                # replay guard: gen present -> the protocol skips
                assert dedup.minhash_index_has_gen(spark, t, g)
            elif op == "recrawl" and s in model:
                v2 = model[s] + 1
                g2 = dedup.index_gen(f"s{s}", f"v{v2}")
                dedup.minhash_index_retract(spark, t, f"s{s}",
                                            keep_gen=g2)
                df, _ = docs_for(s, v2)
                dedup.minhash_index_append(df, t, gen=g2)
                model[s] = v2
            elif op == "retract" and s in model:
                dedup.minhash_index_retract(spark, t, f"s{s}")
                del model[s]
            elif op == "compact":
                dedup.minhash_index_compact(
                    spark, t, str(tmp_path / f"c{step}"))
            assert live() == expected(), (step, op, s, model)
    finally:
        for x in ("bands", "sigs", "dead", "bands_compact",
                  "sigs_compact", "bands_old", "sigs_old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{x}")


def test_retract_only_stream_still_compacts(spark, tmp_path):
    """r13 (the r12 verdict's item 3): the loop's compaction cadence
    counts a batch with PENDING TOMBSTONE RULES even when its append
    was guard-skipped — a retract-heavy stream (operator retraction
    between batches, deliveries all replays) otherwise accumulates
    dead rows that every probe reads from disk with nothing ever
    triggering the physical purge."""
    from georiva_spark.operators._tombstones import batch_delivery_gen
    from georiva_spark.streaming import start_mediadup_stream

    t = "t_mdro"
    idx = spark.createDataFrame([(1, 0b1111)],
                                "media_id long, code long")
    dedup.hamming_index_write(idx, t, str(tmp_path / "h"),
                              max_hamming=2, bits=64, n_buckets=4)
    landing = tmp_path / "ro_landing"
    landing.mkdir()
    schema = "media_id long, code long, shard string"

    def drop(name, rows):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_mediadup_stream(
            src, t, str(tmp_path / "ro_out"), str(tmp_path / "ro_ck"),
            gen_fn=batch_delivery_gen("shard", "media_id", "code"),
            compact_every=1, compact_dir=str(tmp_path / "ro_cmp"))
        q.awaitTermination(180)

    try:
        drop("a", [(100, 0x5A5A5A00, "sA")])
        cycle()                                  # append + compact(1)
        # operator-initiated retraction between batches
        dedup.hamming_index_retract(spark, t, "sA")
        assert spark.catalog.tableExists(f"{t}_dead")
        assert spark.table(f"{t}_ids").where("id = 100").count() == 1
        # an identical redelivery: the gen is deterministic of content
        # so the append is guard-skipped — but rules are pending, so
        # the batch must still count toward the cadence and compact
        drop("b", [(100, 0x5A5A5A00, "sA")])
        cycle()
        assert not spark.catalog.tableExists(f"{t}_dead")
        assert spark.table(f"{t}_ids").where("id = 100").count() == 0
    finally:
        for s in ("bands", "ids", "dead"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")


def test_multi_shard_batch_appends_one_gen_per_shard(spark, tmp_path):
    """r13 (the r12 verdict's item 6): with ``shard_col`` the
    gen-tagged launchers slice a micro-batch per shard and run the
    guard + append PER SLICE — file arrivals straddling shard
    boundaries append one generation per shard instead of failing
    batch_delivery_gen's one-shard contract, and the replay guard
    holds per shard."""
    from georiva_spark.operators._tombstones import batch_delivery_gen
    from georiva_spark.streaming.neardup import start_neardup_stream

    t = "t_mhms"
    novel_c = ("completely fresh prose describing salted probe joins "
               "across bucketed index shards in detail")
    novel_d = ("a different unrelated body of text about rotation "
               "sidecars and quantizer version stamps")
    try:
        dedup.minhash_index_write(
            _docs(spark, [(1, BASE)]), t, str(tmp_path / "ix"),
            n_buckets=4)
        landing = tmp_path / "ms_landing"
        landing.mkdir()
        schema = "doc_id long, text string, shard string"
        # ONE file carrying TWO shards — one micro-batch
        (spark.createDataFrame(
            [(100, novel_c, "sC"), (200, novel_d, "sD")], schema)
         .coalesce(1).write.mode("append")
         .parquet(str(landing / "a")))

        def cycle(ck):
            src = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", "1")
                   .parquet(str(landing) + "/*"))
            q = start_neardup_stream(
                src, t, str(tmp_path / "ms_out"),
                str(tmp_path / ck),
                gen_fn=batch_delivery_gen("shard", "doc_id", "text"),
                shard_col="shard")
            q.awaitTermination(180)

        cycle("ms_ck")
        gens = {r.gen for r in spark.table(f"{t}_sigs")
                .where("doc_id >= 100").select("gen").distinct()
                .collect()}
        assert len(gens) == 2
        assert {g.split("\x1f")[0] for g in gens} == {"sC", "sD"}
        # replay from a fresh checkpoint: both shards guard-skip
        n = spark.table(f"{t}_sigs").count()
        cycle("ms_ck2")
        assert spark.table(f"{t}_sigs").count() == n
        # per-shard retraction now works on the straddled delivery
        dedup.minhash_index_retract(spark, t, "sC")
        probe = _docs(spark, [(900, novel_c.replace("fresh", "new")),
                              (901, novel_d.replace("body", "mass"))])
        got = {r.doc_old for r in dedup.minhash_index_probe(
            probe, t, threshold=0.4).collect()}
        assert got == {200}
    finally:
        for s in ("bands", "sigs", "dead"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")


def test_streaming_gen_tagged_appends_enable_retraction(spark,
                                                        tmp_path):
    """r12: the probe-then-grow launchers take ``gen_fn`` (one crawl
    delivery per micro-batch, batch_delivery_gen derives the tag), so
    a streamed delivery can later be retracted operator-initiated —
    exercised through the mediadup stream: two shard deliveries land
    as two batches, their memberships carry distinct gens, retracting
    one shard removes exactly its matches, replays stay idempotent,
    and a mixed-shard batch fails by name."""
    from georiva_spark.operators._tombstones import batch_delivery_gen
    from georiva_spark.streaming import start_mediadup_stream

    t = "t_mdgen"
    idx = spark.createDataFrame([(1, 0b1111)],
                                "media_id long, code long")
    dedup.hamming_index_write(idx, t, str(tmp_path / "h"),
                              max_hamming=2, bits=64, n_buckets=4)
    landing = tmp_path / "mg_landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "mg_out"), str(tmp_path / "mg_ckpt")
    schema = "media_id long, code long, shard string"
    novel_a, novel_b = 0x5A5A5A5A00, 0x3C3C3C3C00

    def drop(name, rows):
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.mode("append").parquet(str(landing / name)))

    def cycle():
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_mediadup_stream(
            src, t, out, ckpt,
            gen_fn=batch_delivery_gen("shard", "media_id", "code"))
        q.awaitTermination(180)

    try:
        drop("a", [(100, novel_a, "sA")])
        drop("b", [(200, novel_b, "sB")])
        cycle()
        gens = {r.gen for r in spark.table(f"{t}_ids")
                .where("id >= 100").select("gen").distinct().collect()}
        assert len(gens) == 2               # one gen per delivery
        assert all(g.startswith(("sA\x1f", "sB\x1f")) for g in gens)

        def probe(code):
            return {r.id_old for r in dedup.hamming_index_probe(
                spark.createDataFrame([(900, code)],
                                      "media_id long, code long"),
                t).collect()}

        assert probe(novel_a ^ 1) == {100}
        assert probe(novel_b ^ 1) == {200}
        # operator-initiated T5: shard sA was re-crawled away
        dedup.hamming_index_retract(spark, t, "sA")
        assert probe(novel_a ^ 1) == set()
        assert probe(novel_b ^ 1) == {200}
        # replay stays idempotent (gens deterministic of content)
        n = spark.table(f"{t}_ids").count()
        cycle()
        assert spark.table(f"{t}_ids").count() == n
        # a mixed-shard batch violates the atomic-delivery contract
        drop("c", [(300, novel_a ^ 2, "sC"), (301, novel_b ^ 2, "sD")])
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1")
               .parquet(str(landing) + "/*"))
        q = start_mediadup_stream(
            src, t, out, str(tmp_path / "mg_ckpt2"),
            gen_fn=batch_delivery_gen("shard", "media_id", "code"))
        with pytest.raises(Exception, match="distinct 'shard'"):
            q.awaitTermination(180)
    finally:
        for s in ("bands", "ids", "dead"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")
