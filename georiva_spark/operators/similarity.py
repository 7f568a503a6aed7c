"""Similarity search over embedding columns (north-star ops): brute-force
cosine top-k as the exact baseline; LSH-bucketed variant as the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from georiva_spark.functions.frames import local_frame

import itertools
from functools import cached_property

from georiva_spark.functions import fastexpr
from georiva_spark.functions.vectors import cosine_similarity, dot
from georiva_spark.operators import _index_table, _tombstones
from georiva_spark.operators.textops import portable_hash64

# centering offset for the portable (md5-derived, 60-bit unsigned) plane
# coefficients: subtract half the range so projections are sign-balanced
# like the signed xxhash64 default.
_PORTABLE_CENTER = 1 << 59


def _probe_buckets(planes: int, multi_probe: int):
    """Bucket-probe expressions: the home bucket plus every bucket within
    Hamming distance ``multi_probe`` of it (capped at 2 — beyond that
    the probe set approaches the whole bucket space)."""
    probes = [F.col("bucket")]
    if multi_probe >= 1:
        probes += [F.col("bucket").bitwiseXOR(F.lit(1 << p))
                   for p in range(planes)]
    if multi_probe >= 2:
        probes += [F.col("bucket").bitwiseXOR(F.lit((1 << p) | (1 << q)))
                   for p, q in itertools.combinations(range(planes), 2)]
    return probes


def knn_brute_force(emb: DataFrame, query_vec_id: int, k: int = 5) -> DataFrame:
    """Exact top-k by cosine for one query vector.

    The 1-row query side is broadcast; the corpus is scanned once with a
    JVM-side dot product — at 100 TB this is a single pass, no shuffle
    except the final top-k (limit pushes partial top-k to each partition).
    """
    q = emb.where(F.col("vec_id") == query_vec_id) \
           .select(F.col("embedding").alias("qe"))
    cos = cosine_similarity(F.col("embedding"), F.col("qe"))
    return (emb.crossJoin(F.broadcast(q))
            .where(F.col("vec_id") != query_vec_id)
            .select("vec_id", cos.alias("_cos"))
            .orderBy(F.desc("_cos"), F.asc("vec_id"))
            .limit(k)
            .select("vec_id", F.round("_cos", 4).alias("cosine")))


def knn_all_pairs_topk(emb: DataFrame, k: int = 5,
                       queries: DataFrame | None = None,
                       planes: int = 8, multi_probe: int = 1) -> DataFrame:
    """Top-k neighbours per query vector.

    With an explicit bounded `queries` set: exact — broadcast the query
    side, scan the corpus once, rank per query with a window (partial
    top-k per partition, one shuffle on q_id).

    Default (queries=None, the corpus×corpus case): approximate via SRP
    buckets — bucket the corpus on `planes` sign bits, self-join on the
    bucket key (probing every bucket within Hamming distance
    `multi_probe` of the query's for recall), rank inside the candidate
    set. Nothing is broadcast and
    the join shuffles only bucket keys, so 100 TB of embeddings never
    materializes the O(N²) pair space. Recall vs brute force is tested
    ≥0.9 at test scale (tests/test_llm_ops.py)."""
    if queries is not None:
        q = queries.select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("qe"))
        cos = cosine_similarity(F.col("embedding"), F.col("qe"))
        scored = (emb.crossJoin(F.broadcast(q))
                  .where(F.col("vec_id") != F.col("q_id"))
                  .select("q_id", "vec_id", cos.alias("cosine")))
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
        return (scored.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k).drop("_rn"))

    bucketed = random_hyperplane_buckets(emb, planes=planes)
    corpus = bucketed.select(F.col("vec_id").alias("n_id"),
                             F.col("embedding").alias("ne"), "bucket")
    qside = bucketed.select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("qe"),
                            F.explode(F.array(
                                *_probe_buckets(planes, multi_probe)))
                            .alias("bucket"))
    cos = cosine_similarity(F.col("ne"), F.col("qe"))
    cand = (qside.join(corpus, "bucket")
            .where(F.col("q_id") != F.col("n_id"))
            .select("q_id", F.col("n_id").alias("vec_id"),
                    cos.alias("cosine"))
            .dropDuplicates(["q_id", "vec_id"]))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def random_hyperplane_buckets(emb: DataFrame, planes: int = 12,
                              seed: int = 42,
                              portable: bool = False) -> DataFrame:
    """SRP-LSH bucketing: sign pattern against `planes` pseudo-random
    hyperplanes (deterministic hash-derived coefficients — no RNG state to
    ship to executors). Bucket id = packed sign bits. `portable=True`
    derives coefficients from the md5 hash DuckDB can replicate (centered
    to stay sign-balanced); default xxhash64 is the fast JVM path."""
    dim_idx = F.sequence(F.lit(0), F.size("embedding") - 1)

    def coeff(p: int, i):
        if portable:
            h = portable_hash64(F.concat_ws(
                ",", F.lit(str(seed)), F.lit(str(p)), i.cast("string")))
            return (h - F.lit(_PORTABLE_CENTER)).cast("double")
        return F.xxhash64(F.lit(seed), F.lit(p), i).cast("double")

    def projection(p: int):
        # hash-derived pseudo-random plane coefficients per (plane, dim)
        return F.aggregate(
            F.zip_with(F.col("embedding"), dim_idx,
                       lambda v, i: v.cast("double") * coeff(p, i)),
            F.lit(0.0), lambda acc, x: acc + x)

    proj = [projection(p) for p in range(planes)]
    bucket = None
    for p, pr in enumerate(proj):
        bit = F.when(pr >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.withColumn("bucket", bucket.cast("long"))


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             exact: bool = False, planes: int = 8,
                             multi_probe: int = 1) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine ≥
    threshold) — the vector analog of MinHash near-dup mining.

    Default: SRP-bucketed candidate generation (same-bucket plus buckets
    within Hamming distance `multi_probe`), so the pair space never
    materializes O(N²) and
    nothing broadcasts — at 100 TB this is the only viable shape; high
    thresholds mean true pairs are at tiny angles and land in the same
    or adjacent buckets with high probability.

    exact=True: all-pairs via a range self-join on vec_id — O(N²)
    compute, for bounded corpora and for measuring bucketed recall.
    """
    if exact:
        a = emb.select(F.col("vec_id").alias("vec_a"),
                       F.col("embedding").alias("ea"))
        b = emb.select(F.col("vec_id").alias("vec_b"),
                       F.col("embedding").alias("eb"))
        cos = cosine_similarity(F.col("ea"), F.col("eb"))
        return (a.join(b, F.col("vec_a") < F.col("vec_b"))
                .select("vec_a", "vec_b", cos.alias("cosine"))
                .where(F.col("cosine") >= threshold))
    bucketed = random_hyperplane_buckets(emb, planes=planes)
    left = bucketed.select(F.col("vec_id").alias("vec_a"),
                           F.col("embedding").alias("ea"), "bucket")
    right = bucketed.select(F.col("vec_id").alias("vec_b"),
                            F.col("embedding").alias("eb"),
                            F.explode(F.array(
                                *_probe_buckets(planes, multi_probe)))
                            .alias("bucket"))
    cos = cosine_similarity(F.col("ea"), F.col("eb"))
    return (left.join(right, "bucket")
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", cos.alias("cosine"))
            .where(F.col("cosine") >= threshold)
            .dropDuplicates(["vec_a", "vec_b"]))


def ivf_assign(emb: DataFrame, n_centroids: int = 16,
               seed: int = 42) -> tuple[DataFrame, "object"]:
    """IVF coarse quantizer: train KMeans (Spark ML, one pass over a
    sampled corpus at scale) and assign every vector to its nearest
    centroid. Returns (assigned DataFrame with `centroid` column, the
    fitted model). The assigned table is written partitioned by centroid
    at scale — a probe then reads nprobe/n_centroids of the corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.withColumn("_features", array_to_vector("embedding"))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="_features",
                   predictionCol="centroid").fit(feat)
    return model.transform(feat).drop("_features"), model


def knn_ivf(emb: DataFrame, query_vec_id: int, k: int = 5,
            n_centroids: int = 16, nprobe: int = 2,
            seed: int = 42) -> DataFrame:
    """Approximate top-k via IVF: search only the `nprobe` centroid
    cells nearest the query vector. The alternative ANN scale path to
    SRP-LSH — better recall on clustered corpora (cells follow the data
    distribution), at the cost of a training pass."""
    import numpy as np

    assigned, model = ivf_assign(emb, n_centroids=n_centroids, seed=seed)
    centers = np.vstack([c for c in model.clusterCenters()])
    qrow = emb.where(F.col("vec_id") == query_vec_id) \
              .select("embedding").head()
    q = np.asarray(qrow.embedding, dtype=np.float64)
    d = ((centers - q) ** 2).sum(axis=1)
    probe_cells = [int(c) for c in np.argsort(d)[:nprobe]]

    qdf = emb.where(F.col("vec_id") == query_vec_id) \
             .select(F.col("embedding").alias("qe"))
    cos = cosine_similarity(F.col("embedding"), F.col("qe"))
    return (assigned.where(F.col("centroid").isin(probe_cells))
            .crossJoin(F.broadcast(qdf))
            .where(F.col("vec_id") != query_vec_id)
            .select("vec_id", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def knn_ivf_pinned(emb: DataFrame, query_vec_id: int, k: int = 5,
                   n_centroids: int = 8, nprobe: int = 2) -> DataFrame:
    """IVF probe with PINNED coarse centroids: centroid i is the corpus
    vector at vec_id = i·⌊N/C⌋ + ⌊N/C⌋//2 (deterministic rows, no
    training pass) — the shape of an IVF index whose quantizer was
    trained elsewhere and shipped as literals.

    Scale shape: the C centroid vectors are collected once (bounded) and
    inlined as array literals, so cell assignment is a pure IN-ROW argmin
    over C dot products — the corpus is scanned once with ZERO shuffle;
    at scale the assigned table is written partitioned by cell and a
    probe reads nprobe/C of it. Unlike the KMeans variant (knn_ivf),
    every step is exact closed-form arithmetic an external SQL engine
    reproduces — this is the oracle-checkable IVF path."""
    import numpy as np

    n = emb.count()
    step = max(1, n // n_centroids)
    cids = [i * step + step // 2 for i in range(n_centroids)]
    cmap = {r.vec_id: [float(v) for v in r.embedding]
            for r in emb.where(F.col("vec_id").isin(cids))
                        .select("vec_id", "embedding").collect()}
    missing = [c for c in cids if c not in cmap]
    if missing:
        raise ValueError(
            f"pinned-centroid quantizer needs dense vec_ids 0..N-1: "
            f"centroid rows {missing} absent from the corpus; re-index "
            "ids or use the trained-quantizer path (knn_ivf)")
    cents = [cmap[c] for c in cids]

    # in-row argmin via lexicographic array_min over (dist, cell)
    # structs — one parsed SQL string (fastexpr, r13)
    assigned = emb.withColumn("cell", _argmin_cell(cents))

    qv = cmap.get(query_vec_id)
    if qv is None:
        row = (emb.where(F.col("vec_id") == query_vec_id)
                  .select("embedding").head())
        if row is None:
            raise ValueError(f"query vec_id {query_vec_id} not in corpus")
        qv = row.embedding
    q = np.asarray(qv, dtype=np.float64)
    d = [(float(((np.asarray(c) - q) ** 2).sum()), i)
         for i, c in enumerate(cents)]
    probe_cells = [i for _, i in sorted(d)[:nprobe]]

    qdf = emb.where(F.col("vec_id") == query_vec_id) \
             .select(F.col("embedding").alias("qe"))
    cos = cosine_similarity(F.col("embedding"), F.col("qe"))
    return (assigned.where(F.col("cell").isin(probe_cells))
            .crossJoin(F.broadcast(qdf))
            .where(F.col("vec_id") != query_vec_id)
            .select("vec_id", "cell", F.round(cos, 4).alias("cosine"),
                    cos.alias("_cos"))
            .orderBy(F.desc("_cos"), F.asc("vec_id"))
            .limit(k)
            .drop("_cos"))


def _pinned_cents(emb: DataFrame, n_centroids: int) -> list[list[float]]:
    """knn_ivf_pinned's deterministic quantizer: centroid i = the
    corpus vector at vec_id = i·⌊N/C⌋ + ⌊N/C⌋//2."""
    n = emb.count()
    step = max(1, n // n_centroids)
    cids = [i * step + step // 2 for i in range(n_centroids)]
    cmap = {r.vec_id: [float(v) for v in r.embedding]
            for r in emb.where(F.col("vec_id").isin(cids))
                        .select("vec_id", "embedding").collect()}
    missing = [c for c in cids if c not in cmap]
    if missing:
        raise ValueError(
            f"pinned-centroid quantizer needs dense vec_ids 0..N-1: "
            f"centroid rows {missing} absent from the corpus")
    return [cmap[c] for c in cids]


def _argmin_cell(cents: list[list[float]]):
    """In-row argmin over literal centroids (zero shuffle) — lexico
    array_min over (dist, cell) structs, lower cell wins ties.
    Rendered as ONE parsed SQL string (functions.fastexpr, r13): the
    per-literal py4j construction of this tree was measured at
    ~0.6 s per call of driver stall; the parsed form is ~2 ms and
    Catalyst sees the identical expression."""
    return fastexpr.argmin_col(
        [fastexpr.l2_sql("embedding", c) for c in cents])


#: quantizer sidecar suffix -> (key column, vector column): bounded
#: model state, row ``key = i`` holding vector i
_SIDECARS = {"_centroids": ("cell", "embedding"),
             "_codebook": ("code", "embedding"),
             "_rotation": ("i", "row")}


def _write_sidecars(spark, table: str, path: str, vecs: dict,
                    version: int, staged: str = "") -> None:
    """Write each quantizer sidecar ``{table}{suffix}{staged}`` (at
    ``{path}{suffix}``) from ``vecs`` (suffix -> vectors) and stamp
    it with the quantizer ``version`` its main table carries."""
    for suffix, vs in vecs.items():
        key, col = _SIDECARS[suffix]
        name = f"{table}{suffix}{staged}"
        (local_frame(spark, list(enumerate(vs)),
                     f"{key} int, {col} array<double>")
         .write.mode("overwrite").format("parquet")
         .option("path", f"{path}{suffix}").saveAsTable(name))
        _index_table.stamp(spark, name, {"quantizer_version": version})


def _read_sidecar(spark, table: str, suffix: str) -> list:
    """The vectors of the sidecar ``{table}{suffix}`` in key order."""
    key, col = _SIDECARS[suffix]
    rows = spark.table(f"{table}{suffix}").collect()
    return [list(map(float, r[col]))
            for r in sorted(rows, key=lambda r: r[key])]


class _IvfLayout:
    """The IVF family's layout head — every probe and append starts
    here. ONE stamp read (or the caller's already-read ``stamps``)
    names the layout: ``pq_m`` means PQ, ``pq_opq`` a rotated index.
    The quantizer-version sync check covers exactly the sidecars the
    stamps name (:attr:`sidecars`), so a torn retraining compaction
    fails by name before anything routes. The sidecar vectors load on
    first use, so a caller reads only the sidecars it needs."""

    def __init__(self, spark, table: str, stamps: dict | None = None):
        self.spark, self.table = spark, table
        self.stamps = (_index_table.props(spark, table)
                       if stamps is None else stamps)
        self.pq = _index_table.get(self.stamps, "pq_m") is not None
        self.opq = _index_table.get(self.stamps, "pq_opq") == "1"
        self.residual = _index_table.get(self.stamps, "pq_residual") == "1"
        self.sidecars = (("_centroids",)
                         + (("_codebook",) if self.pq else ())
                         + (("_rotation",) if self.opq else ()))
        _index_table.check_quantizer_sync(spark, table, self.stamps,
                                          self.sidecars)

    def pq_shape(self) -> list:
        """[m, nbits], or fail by name: the table is not a PQ index."""
        return _index_table.require(self.stamps, self.table, "ivf_pq",
                                    "pq_m", "pq_nbits")

    @cached_property
    def cents(self) -> list:
        cents = _read_sidecar(self.spark, self.table, "_centroids")
        if not cents:
            raise ValueError(f"{self.table!r} has no centroid sidecar — "
                             f"not an IVF index")
        return cents

    @cached_property
    def codebook(self) -> list:
        return _read_sidecar(self.spark, self.table, "_codebook")

    @cached_property
    def rotation(self) -> list:
        """The OPQ rotation (d rows — model state, like the codebook);
        callers check :attr:`opq`."""
        return _read_sidecar(self.spark, self.table, "_rotation")

    def rotate(self, emb: DataFrame) -> DataFrame:
        """``emb``'s embeddings in index space: an OPQ index lives in
        rotated space, so its inputs rotate in-row first."""
        if not self.opq:
            return emb
        return emb.withColumn("embedding", _rotate_expr(self.rotation))

    @property
    def order(self) -> list:
        """The ranking of a scored candidate ``_s``: cosine descending
        (float) or ADC-L2² ascending (PQ), then vec_id."""
        return [F.asc("_s") if self.pq else F.desc("_s"), F.asc("vec_id")]


def ivf_index_retract(spark, table: str, shard: str,
                      keep_gen: str = "") -> None:
    """Retract a re-crawled embedding shard's DEAD vectors from a
    persistent IVF index — float or PQ layout (r12; the tombstone
    machinery shared with the MinHash/Hamming families): tombstone
    every generation of ``shard`` except ``keep_gen``. Probes stop
    returning the dead vectors immediately (O(1) rule row, zero index
    rewrite); :func:`ivf_index_compact` purges them physically and
    clears the rules. Recall calibration and tuning
    (:func:`ann_recall_estimate`, :func:`ann_tune`) also see only live
    rows — dead vectors neither serve as queries nor count as
    truth."""
    _tombstones.retract(spark, table, "ivf", shard, keep_gen)


def ivf_index_retract_docs(spark, table: str, vec_ids) -> None:
    """TAKEDOWN (r13 — doc-grained T5) for the embedding indexes,
    float or PQ layout: tombstone SPECIFIC vec_ids. ``vec_ids`` is
    the bounded id list of the request (legal takedown /
    right-to-be-forgotten names items, not crawl shards). Probes,
    recall calibration, and tuning stop seeing the vectors
    immediately (a second broadcast anti-join in the live filter);
    :func:`ivf_index_compact` purges them physically and clears the
    rules. Works on any layout including unversioned pre-r12 indexes
    (the filter keys on vec_id, not the gen)."""
    _tombstones.retract_docs(spark, table, "ivf", vec_ids)


def ivf_index_write(emb: DataFrame, table: str, path: str,
                    n_centroids: int = 8, train_iters: int = 0,
                    seed_ids: list[int] | None = None,
                    train_sample_ppm: int | None = None,
                    gen: str = "") -> None:
    """Materialize a PERSISTENT IVF ANN index — the storage layout
    knn_ivf_pinned's docstring promises: the quantizer cell
    assignment (in-row argmin over literal centroids, zero shuffle on
    the corpus) written PARTITIONED BY cell, plus a bounded
    ``{table}_centroids`` sidecar (cell, embedding). A probe then
    scans ONLY its nprobe cells — partition pruning at file-LISTING
    time (PartitionFilters in the scan, plan-asserted in tests) — so
    repeated queries pay the assignment once and read nprobe/C of the
    corpus. At 100 TB with C=4096 cells, a 2-probe query touches
    ~0.05% of the data.

    Quantizer choice — ``train_iters`` (the 100-TB knob):

    - ``train_iters=0`` (default): deterministic hash-order SAMPLE
      centroids (:func:`_pinned_cents`). Exact, SQL-replayable, fine
      for uniformly scattered vectors — but real embedding corpora
      are CLUSTERED by construction, and sampled centroids then give
      unbalanced cells: one hot cell can absorb a large corpus
      fraction, and every probe routed there reads that fraction
      instead of ~1/C, defeating the layout.
    - ``train_iters>0``: run :func:`kmeans_centroids` Lloyd rounds
      first (same deterministic seeds/tie-breaks, still
      SQL-replayable). On a 16-blob clustered 500 k-vector corpus the
      max-cell/mean-cell balance ratio drops from ~8 (sampled) to ~1
      (trained) — see SCALE.md's clustered-quantizer smoke.

    ``train_sample_ppm`` (with ``train_iters>0``): train the quantizer
    on a deterministic md5-bucket SUBSAMPLE — the FAISS practice
    (~256·k training vectors suffice) that makes training cost
    independent of corpus size; each Lloyd round scans the sample, the
    final assignment still covers every row. At 100 TB this is the
    difference between "training costs iters extra corpus scans" and
    "training is free relative to the write".

    DEFAULT POLICY (decided r8): the default stays ``train_iters=0``
    — the pinned quantizer matches the in-memory knn_ivf_pinned
    bit-for-bit and costs no training scans, which is what tests and
    oracles want. It is NOT the production setting: real corpora are
    clustered, and the pinned path additionally requires dense
    vec_ids 0..N-1 (raises by name otherwise). Production indexes
    should always pass ``train_iters>0`` (the trained path has no id
    requirement); COVERAGE.md carries the same note.

    The quantizer parameters are stamped as TBLPROPERTIES so probes
    and appends can validate what they are joining against.

    Rebuilding a LIVE index (an existing ``table``) is
    writer-exclusive: the write DROPs the table first (to uncache
    dependent persisted plans), so from that drop until the final
    stamp a concurrent probe or append finds no table, or an
    unstamped one. Quiesce readers for the rebuild, or build under a
    new name.

    ``gen`` (r12) tags every row's generation (``index_gen(shard,
    digest)`` from operators/dedup.py — the tombstone machinery is
    shared across the index triad) so a re-crawled embedding shard
    can be RETRACTED (:func:`ivf_index_retract`): probes stop
    matching the dead vectors immediately, compaction purges them
    physically. The default '' (unversioned base) is never
    retractable."""
    if train_iters > 0:
        cents = kmeans_centroids(emb, k=n_centroids, iters=train_iters,
                                 seed_ids=seed_ids,
                                 sample_ppm=train_sample_ppm)
    else:
        cents = _pinned_cents(emb, n_centroids)
    assigned = (emb.withColumn("cell", _argmin_cell(cents))
                .withColumn("gen", F.lit(gen)))
    # drop-first (r14): a bounded persist from a previous probe of the
    # SAME table (e.g. the recall grid's scored candidates) holds a
    # cached plan over its partitioned scan; overwriting the live
    # table re-optimizes those entries mid-drop and dies by name
    # (PruneFileSourcePartitions -> requireTableExists on the repeat
    # evaluation). DROP TABLE uncaches dependents first; the overwrite
    # write below then recreates table + data exactly as before.
    emb.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    (assigned.write.mode("overwrite").format("parquet")
     .partitionBy("cell").option("path", path).saveAsTable(table))
    _write_sidecars(emb.sparkSession, table, path,
                    {"_centroids": cents}, 1)
    _index_table.stamp(emb.sparkSession, table, {
        "n_centroids": n_centroids, "train_iters": train_iters,
        "train_sample_ppm": train_sample_ppm or 0,
        "quantizer_version": 1})
    # the rebuilt index starts with no rules: the old name's tombstones
    # would hide its rows (cleared last — a crash before only hides)
    _tombstones.clear_rules(emb.sparkSession, table, stamp_table=table)


def ivf_index_append(emb: DataFrame, table: str,
                     gen: str = "") -> None:
    """Append a delta shard to an IVF index, float
    (:func:`ivf_index_write`) or PQ (:func:`ivf_pq_index_write`) — the
    growth half of the ANN layout (mirror of minhash_index_append).
    The index's stamps name its layout (``pq_m`` means PQ). New
    vectors are assigned with the INDEX'S OWN centroids (read from the
    bounded sidecar, inlined as literals — zero shuffle) and appended
    into the same cell partitions, so probes keep pruning to nprobe/C
    over the grown corpus without ever re-assigning it. A PQ index
    also encodes the delta with its OWN codebook (rotated first by its
    own rotation on an OPQ index); the stamped m/nbits/residual drive
    the packing, so a probe's unpacking stays consistent across
    appends. ``gen`` tags the appended rows' generation for
    :func:`ivf_index_retract` (T5); tagged appends into an
    unversioned pre-r12 layout fail by name."""
    spark = emb.sparkSession
    layout = _IvfLayout(spark, table)
    gen_cols = _tombstones.gen_cols(spark, table, "ivf", gen,
                                    "ivf_index_append")
    if not layout.pq:
        assigned = emb.withColumn("cell", _argmin_cell(layout.cents)) \
                      .select(*emb.columns, *gen_cols, "cell")
    else:
        m, nbits = layout.pq_shape()
        assigned = _pq_encode_frame(
            layout.rotate(emb), layout.cents, layout.codebook, m, nbits,
            layout.residual).select("vec_id", "pq_code", *gen_cols,
                                    "cell")
    (assigned.write.mode("append").format("parquet")
     .partitionBy("cell").saveAsTable(table))
    # a reader that scanned the table BEFORE this append (the probe in
    # a probe-then-grow streaming loop, foreachBatch's cloned session)
    # holds a cached file listing that silently misses the new files —
    # invalidate it here so the very next probe sees the grown index
    spark.catalog.refreshTable(table)


def ivf_index_compact(spark, table: str, path: str,
                      retrain_iters: int = 0,
                      train_sample_ppm: int | None = None,
                      emb: DataFrame | None = None) -> None:
    """Compact an appended-to IVF index, float or PQ (the stamps name
    the layout): every :func:`ivf_index_append` adds files to the
    touched cell partitions; after many deltas a probe opens one file
    per append per probed cell. Re-materialize one file per cell
    (repartition on the partition column, pure layout rewrite — no
    re-assignment; tombstoned generations are removed PHYSICALLY —
    :func:`ivf_index_retract`), then end through
    :func:`_index_table.install`: stamps carried onto the staged
    table, catalog swap via
    :func:`~georiva_spark.sources.bucketing.atomic_swap_table`
    (rename-out / rename-in / drop-old), rules cleared. Each statement
    is atomic, the sequence is not, but every intermediate state
    leaves a probeable table under some name and a crash is recovered
    by renaming the surviving ``_compact``/``_old`` back. Old data
    directories are the caller's to retire.

    ``retrain_iters>0`` — RETRAIN on compact (the drift story): heavy
    appends under distribution drift decay the cell balance (new
    blobs all route to whichever old cell is least-far — one hot
    cell, probes read its fraction instead of ~1/C) and nothing
    re-trains. Since compaction rewrites every byte anyway, this is
    the free moment to re-run Lloyd (:func:`kmeans_centroids`) on the
    LIVE corpus, once read: a float index's own (vec_id, embedding)
    rows, fully re-assigned; a PQ index's float corpus ``emb`` (the
    caller's grown corpus — base + every appended delta; a PQ table
    stores sub-codes only), semi-joined to the live vec_ids so dead
    vectors neither train nor re-enter, each row keeping its gen tag,
    and re-encoded through :func:`_pq_encode_frame`. A trained PQ
    codebook (stamped ``pq_codebook_iters>0``) re-trains with the same
    iteration count (on residuals if stamped); a pinned codebook and
    an OPQ rotation are CARRIED — codewords and rotations are data,
    and re-pinning or re-rotating would silently re-encode everything
    against a different basis (the retrain runs in the rotated space
    the index lives in). The staged main table and every sidecar
    (``_centroids``, ``_codebook``, ``_rotation``) carry the
    incremented ``georiva.quantizer_version``; the sidecars swap
    before the main table, and every probe/append validates version
    sync — a crash between the swaps fails BY NAME instead of routing
    new assignments with old centroids (silently wrong recall).
    ``emb`` on a float index, or a PQ retrain without it, fails by
    name. ``train_sample_ppm`` gates every Lloyd round to a
    deterministic md5-bucket subsample (the writer's knob) — at 100 TB
    the re-ASSIGNMENT is the compaction rewrite itself, but per-round
    training cost should never be corpus-sized."""
    _tombstones.validate_single_writer(spark, table)
    # no layout head here: a compaction is the recovery path of a
    # quantizer-version skew, so it must run without the sync check
    stamps = _index_table.props(spark, table)
    params = _index_table.params(stamps)
    pq = "pq_m" in params
    if emb is not None and not pq:
        raise ValueError(
            "ivf_index_compact: emb= is the float corpus of a PQ "
            "retrain — a float index retrains from its own rows")
    if pq and retrain_iters > 0 and emb is None:
        raise ValueError(
            "ivf_index_compact: retrain_iters>0 on a PQ index needs "
            "the float corpus (emb=) — the PQ table stores sub-codes "
            "only")
    live = _tombstones.live_filter(spark, table, stamps, "vec_id")(
        spark.table(table))
    sidecars = {}
    if retrain_iters <= 0:
        staged = live.repartition("cell")
    else:
        k, = _index_table.require(stamps, table, "IVF", "n_centroids")
        rot = None
        if not pq:
            corpus = live.drop("cell")
        else:
            corpus = emb.join(live.select("vec_id"), "vec_id",
                              "left_semi")
            if params.get("pq_opq") == "1":
                rot = _read_sidecar(spark, table, "_rotation")
                corpus = corpus.select(
                    "vec_id", _rotate_expr(rot).alias("embedding"))
        cents = kmeans_centroids(corpus, k=k, iters=retrain_iters,
                                 sample_ppm=train_sample_ppm)
        sidecars["_centroids"] = cents
        if not pq:
            staged = corpus.withColumn("cell", _argmin_cell(cents))
        else:
            m, nbits = _index_table.require(stamps, table, "ivf_pq",
                                            "pq_m", "pq_nbits")
            residual = params.get("pq_residual") == "1"
            cb_iters = int(params.get("pq_codebook_iters", "0"))
            sidecars["_codebook"] = (
                pq_train_codebooks(corpus, m, nbits, cb_iters,
                                   cents=cents if residual else None,
                                   sample_ppm=train_sample_ppm)
                if cb_iters > 0
                else _read_sidecar(spark, table, "_codebook"))
            if rot is not None:
                sidecars["_rotation"] = rot
            staged = _pq_encode_frame(corpus, cents,
                                      sidecars["_codebook"], m, nbits,
                                      residual)
            if "gen" in live.columns:
                staged = (staged.join(live.select("vec_id", "gen"),
                                      "vec_id")
                          .select("vec_id", "pq_code", "gen", "cell"))
        params.update(train_iters=retrain_iters,
                      train_sample_ppm=train_sample_ppm or 0,
                      quantizer_version=int(
                          params.get("quantizer_version", "1")) + 1)
    (staged.write.mode("overwrite").format("parquet")
     .partitionBy("cell").option("path", path)
     .saveAsTable(f"{table}_compact"))
    if sidecars:
        _write_sidecars(spark, table, path, sidecars,
                        params["quantizer_version"], staged="_compact")
    _index_table.install(spark, table, table, params,
                         [f"{table}{sc}" for sc in sidecars] + [table])


def ivf_index_probe(spark, table: str, query_vec, k: int = 5,
                    nprobe: int = 2,
                    exclude_vec_id: int | None = None,
                    candidate_filter=None) -> DataFrame:
    """Probe a :func:`ivf_index_write` index with a query VECTOR →
    top-k (vec_id, cell, cosine). Cell selection is driver-side over
    the bounded centroid sidecar (C rows); the corpus scan carries a
    `cell IN (...)` predicate that Spark turns into partition pruning
    — the nprobe/C read the index layout exists for.

    ``candidate_filter`` (optional Column or SQL string): FILTERED ANN
    — the float index stores every attribute column the corpus had, so
    a metadata predicate (``"label = 2"``, ``"lang = 'en'"``) applies
    scan-side and pushes down to parquet (PushedFilters) BEFORE any
    distance math. Semantics are filter-then-rank within the probed
    cells: a highly selective filter thins each cell, so callers
    should raise ``nprobe`` accordingly (the standard filtered-ANN
    recall trade — the filter does not change which cells are probed)."""
    import numpy as np

    layout = _IvfLayout(spark, table)
    cents = np.asarray(layout.cents, dtype=np.float64)
    q = np.asarray(list(query_vec), dtype=np.float64)
    order = sorted((float(((c - q) ** 2).sum()), cell)
                   for cell, c in enumerate(cents))
    probe_cells = [cell for _, cell in order[:nprobe]]

    qlit = F.expr(fastexpr.darr(q))
    cos = cosine_similarity(F.col("embedding"), qlit)
    scan = _tombstones.live_filter(spark, table, layout.stamps, "vec_id")(
        spark.table(table)).where(F.col("cell").isin(probe_cells))
    if candidate_filter is not None:
        scan = scan.where(candidate_filter)
    if exclude_vec_id is not None:
        scan = scan.where(F.col("vec_id") != exclude_vec_id)
    return (scan.select("vec_id", F.col("cell").cast("long").alias("cell"),
                        F.round(cos, 4).alias("cosine"),
                        cos.alias("_c"))
            .orderBy(F.desc("_c"), F.asc("vec_id"))
            .limit(k).drop("_c"))


def ivf_index_probe_batch(spark, table: str, queries: DataFrame,
                          k: int = 5, nprobe: int = 2,
                          exclude_self: bool = False,
                          max_broadcast_queries: int = 10_000,
                          candidate_filter=None,
                          candidate_ids: DataFrame | None = None
                          ) -> DataFrame:
    """Batch-serve ANN queries against an IVF index, float
    (:func:`ivf_index_write`) or PQ (:func:`ivf_pq_index_write`) —
    the stamps name the layout. Every query row (q_id, embedding)
    routes IN-ROW to its nprobe nearest cells, the fan-out joins the
    cell-partitioned index under a static probed-cell partition
    filter, and each query keeps its top-k (the serving pass is
    :func:`_ivf_candidates`). → (q_id, vec_id, cell, cosine) by exact
    cosine descending on a float index; (q_id, vec_id, cell,
    adc_dist) by ADC-L2² ascending on a PQ index, whose serving join
    ships no float embedding in either direction. Ties break by
    vec_id.

    This is the serving shape the per-query :func:`ivf_index_probe`
    can't reach: 10k queries cost ONE join over the probed cells, not
    10k driver round-trips. Batches up to ``max_broadcast_queries``
    broadcast the fan-out; a larger backlog (50 M queries streamed
    through one call) would OOM an executor as a broadcast, so past
    the gate the join runs as a salted shuffle join on cell — both
    plan shapes asserted in tests. At production C (≥4096) the cell
    key distributes the shuffle.

    ``exclude_self`` (opt-in): drop candidates whose vec_id equals
    the query's q_id — only meaningful when q_ids share the corpus
    id space (corpus-internal dedup probes). External query batches
    must leave it False: a q_id that happens to collide with an
    unrelated vec_id would silently lose that valid neighbor.

    Filtered batch ANN, filter-then-rank (selective filters warrant a
    larger ``nprobe``, see :func:`ivf_index_probe`):
    ``candidate_filter`` (Column or SQL string) is a metadata
    predicate on the index scan, pushed to parquet beside the cell
    filter — a float index stores every attribute column the corpus
    had, a PQ index none, so there it fails by name;
    ``candidate_ids`` (single-column frame, either layout) SEMI-joins
    the scan to the vec_ids an attribute query on the metadata table
    returned."""
    layout = _IvfLayout(spark, table)
    cand, _ = _ivf_candidates(layout, queries, nprobe,
                              "ivf_index_probe_batch.probed",
                              max_broadcast_queries, exclude_self,
                              candidate_filter, candidate_ids)
    name, digits = ("adc_dist", 6) if layout.pq else ("cosine", 4)
    return _top_k(cand, layout.order, k).select(
        "q_id", "vec_id", F.col("cell").cast("long").alias("cell"),
        F.round("_s", digits).alias(name))


def _top_k(cand: DataFrame, order: list, k: int) -> DataFrame:
    """Each query's first ``k`` candidates by ``order`` (rank ``_r``)."""
    w = Window.partitionBy("q_id").orderBy(*order)
    return (cand.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k))


def _ivf_candidates(layout: _IvfLayout, queries: DataFrame,
                    nprobe: int, slot: str, max_broadcast_queries: int,
                    exclude_self: bool, candidate_filter=None,
                    candidate_ids: DataFrame | None = None) -> tuple:
    """The IVF family's ONE serving pass, float or PQ — every batch
    probe, the batch refine's stage 1 and the recall grid score their
    candidates here.

    1. ROUTE in-row: each query row (q_id, embedding — rotated into
       index space on an OPQ index) argsorts the centroid literals and
       fans out to its ``nprobe`` nearest cells (no shuffle on the
       query side). ``__pos`` is the cell's rank, so a smaller
       nprobe's fan is a ``__pos`` prefix of this one. A float fan-out
       row carries the query embedding ``qe``; a PQ row its ADC
       lookup table ``qd`` — the m·2^nbits query↔codeword distances,
       from the query's residual against the row's probed cell on a
       residual index — in place of the embedding.
    2. PERSIST the fan-out in ``slot`` (each caller keeps its own, so
       a serving probe never evicts the grid's cache), then ONE
       :func:`_fanout_gate` job counts the distinct queries and
       collects the probed-cell union (bounded by C — model-state
       scale). Routing executes exactly once: a non-deterministic
       ``queries`` frame cannot route to one cell set in the static
       filter and another in the join.
    3. SCAN the live rows (tombstones anti-joined) of the probed cells
       only — a STATIC partition filter, so the listing prunes
       deterministically (PartitionFilters, asserted in tests) —
       narrowed by ``candidate_filter`` / ``candidate_ids`` (see
       :func:`ivf_index_probe_batch`).
    4. JOIN on cell: broadcast the fan-out under
       ``max_broadcast_queries`` queries; past the gate spread a
       degenerate fan-out (:func:`_spread_fanout`) and salt the
       shuffle join against live-cell skew (:func:`_salted_cell_join`).
    5. SCORE: exact cosine (float) or ADC-L2² from ``qd`` and the
       packed sub-codes (PQ), after the optional exclude-self.

    → (candidates (q_id, __pos, vec_id, cell, _s), small) — rank
    ``_s`` by ``layout.order``; ``small`` is the gate's verdict."""
    from pyspark import StorageLevel

    from georiva_spark.operators._retention import persist_bounded

    if layout.pq and candidate_filter is not None:
        raise ValueError(
            f"{layout.table!r} is a PQ index: it stores sub-codes, no "
            f"attributes for candidate_filter — evaluate the predicate "
            f"on the metadata table and pass the surviving vec_ids as "
            f"candidate_ids")
    spark, table, cents = layout.spark, layout.table, layout.cents
    cells = F.expr(fastexpr.route_cells_sql("embedding", cents, nprobe))
    fan = layout.rotate(queries).select(
        "q_id", F.col("embedding").alias("qe"),
        F.posexplode(cells).alias("__pos", "cell"))
    if layout.pq:
        m, nbits = layout.pq_shape()
        vec = "qe"
        if layout.residual:
            fan = fan.withColumn(
                "_rq", F.zip_with(F.col("qe"), _cent_lookup(cents),
                                  lambda a, b: a.cast("double") - b))
            vec = "_rq"
        fan = fan.select("q_id", "__pos",
                         _pq_adc_flat(vec, m, layout.codebook).alias("qd"),
                         "cell")
        score = _pq_adc_score(m, nbits)
    else:
        score = cosine_similarity(F.col("embedding"), F.col("qe"))
    probed = persist_bounded(fan, slot, StorageLevel.MEMORY_AND_DISK)
    # gate on the DISTINCT query count, not the fan-out rows: an index
    # with fewer cells than nprobe fans out fewer rows per query, and a
    # row gate would let larger batches onto the broadcast path
    n_queries, live_cells = _fanout_gate(probed)
    scan = _tombstones.live_filter(spark, table, layout.stamps, "vec_id")(
        spark.table(table)).where(F.col("cell").isin(live_cells))
    if candidate_filter is not None:
        scan = scan.where(candidate_filter)
    if candidate_ids is not None:
        ids = candidate_ids.select(
            F.col(candidate_ids.columns[0]).alias("vec_id"))
        scan = scan.join(ids, "vec_id", "left_semi")
    small = n_queries <= max_broadcast_queries
    if small:
        cand = scan.join(F.broadcast(probed), "cell")
    else:
        cand = _salted_cell_join(spark, scan,
                                 _spread_fanout(spark, probed),
                                 len(live_cells))
    if exclude_self:
        cand = cand.where(F.col("vec_id") != F.col("q_id"))
    return (cand.select("q_id", "__pos", "vec_id", "cell",
                        score.alias("_s")), small)


def _fanout_gate(probed: DataFrame) -> tuple[int, list]:
    """ONE job over the persisted query fan-out → (distinct q_id
    count, sorted probed-cell union). Replaces the two separate
    distinct jobs both batch probes ran (r13): the agg is bounded —
    the count is one long, the cell set ≤ C — and the single action
    still materializes the persist so routing executes exactly once."""
    row = probed.agg(
        F.count_distinct("q_id").alias("nq"),
        # a NULL q_id forms its own group under distinct() but is
        # excluded by count_distinct — count it back in so a batch
        # carrying null q_ids cannot under-count the broadcast gate
        # (r14, the r13 advisor's item)
        F.max(F.col("q_id").isNull().cast("int")).alias("hasnull"),
        F.collect_set("cell").alias("cells")).collect()[0]
    return int(row.nq) + int(row.hasnull or 0), sorted(row.cells)


def _spread_fanout(spark, fan: DataFrame) -> DataFrame:
    """Repartition a DEGENERATE query fan-out by q_id before the
    heavy per-candidate work (r10): a streaming micro-batch arrives
    as one file = ONE partition, and when Spark broadcasts the
    (small) index side the whole candidate evaluation + window
    group-limit then runs inside that single task — measured as a
    one-task 15-minute stall in the streamed-PQ smoke, with the
    cell-salt never engaging because there is no shuffle join to
    salt. One bounded narrow shuffle of the fan-out (queries ×
    nprobe rows, each a q_id + one bounded table/embedding) restores
    full parallelism under ANY join strategy, and hash(q_id)
    pre-aligns the final top-k window's required distribution. A fan
    already at ≥ parallelism partitions is returned untouched, and
    the helper is applied only PAST the broadcast gate (under it the
    fan-out is collected for broadcast and the scan side drives
    parallelism) — the interactive batch path pays nothing. When the
    join does run as a genuine shuffle join the salted exchange
    supersedes this one (a redundant bounded shuffle of the
    fan-out); the case that NEEDS it is Spark electing to broadcast
    the small scan side, where no exchange would otherwise exist."""
    if (fan.rdd.getNumPartitions()
            >= spark.sparkContext.defaultParallelism):
        return fan
    return fan.repartition("q_id")


def _salted_cell_join(spark, scan: DataFrame, probed: DataFrame,
                      n_live_cells: int, salt_cap: int = 32
                      ) -> DataFrame:
    """The probe-batch SHUFFLE join, skew-proofed (r10): joining the
    index scan to the query fan-out on ``cell`` alone caps
    parallelism at the number of LIVE cells — and a regionally
    skewed query batch (a drift burst, a single-tenant upload) can
    route ~everything to one or two cells, serializing billions of
    ADC/cosine evaluations through one reducer. AQE's skew-join
    split rescues interactive batches but is DISABLED inside
    Structured Streaming micro-batches (measured: a 100k-query drift
    batch pinned one task for 15+ minutes in the streamed-PQ smoke),
    so the salt must be in the plan: the index side gets a
    deterministic ``pmod(xxhash64(vec_id), S)`` salt, the fan-out
    side explodes ×S, and the join runs on (cell, salt) —
    parallelism = live_cells × S. S sizes itself to
    ``⌈defaultParallelism / live_cells⌉`` capped at ``salt_cap``, so
    a healthy batch over many cells keeps S=1 and the plan is
    byte-identical to the unsalted join; fan-out duplication cost is
    bounded by S × fan-out rows (each a q_id + one bounded
    table/embedding). Results are identical either way — the salt
    never reaches the output."""
    s = max(1, min(salt_cap,
                   -(-spark.sparkContext.defaultParallelism
                     // max(1, n_live_cells))))
    if s <= 1:
        return scan.join(probed, "cell")
    for frame, who in ((scan, "index"), (probed, "fan-out")):
        if "__cell_salt" in frame.columns:
            raise ValueError(
                f"_salted_cell_join: the {who} side already has a "
                f"__cell_salt column — rename it")
    salted_scan = scan.withColumn(
        "__cell_salt",
        F.pmod(F.xxhash64("vec_id"), F.lit(s)).cast("int"))
    salted_fan = probed.withColumn(
        "__cell_salt",
        F.explode(F.sequence(F.lit(0), F.lit(s - 1))))
    return (salted_scan.join(salted_fan, ["cell", "__cell_salt"])
            .drop("__cell_salt"))


def _cent_lookup(cents: list[list[float]]):
    """In-row centroid pick for a frame carrying a ``cell`` column: an
    array-of-arrays literal (bounded C·d doubles — model state shipped
    in the plan) indexed by the row's cell. The residual-encoding
    primitive: ``x − cent[cell]`` without any join or shuffle."""
    return F.expr(fastexpr.cell_lookup_sql(cents))


def _pq_pack_expr(vec: str, cb: list[list[float]], m: int, nbits: int,
                  sub: int):
    """Packed PQ code for the array column ``vec``: per-subspace IN-ROW
    argmin over codeword literals (zero shuffle, whole-stage codegen,
    lower code wins ties), sub-codes packed little-end-first —
    ``Σ_s code_s << (s·nbits)``. Shared by write and append so the
    encodings cannot drift. One parsed SQL string (fastexpr, r13):
    the m·2^nbits sub-L2 tree cost ~7 s of py4j chatter per call."""
    ncw = 1 << nbits
    codes = [fastexpr.argmin_sql([
        fastexpr.l2_sql(f"slice({vec}, {s * sub + 1}, {sub})",
                        cb[j][s * sub:(s + 1) * sub])
        for j in range(ncw)]) for s in range(m)]
    return F.expr(" + ".join(
        f"shiftleft(CAST({c} AS BIGINT), {s * nbits})"
        for s, c in enumerate(codes)))


def _pq_encode_frame(emb: DataFrame, cents: list[list[float]],
                     cb: list[list[float]], m: int, nbits: int,
                     residual: bool) -> DataFrame:
    """(vec_id, pq_code, cell) for ``emb`` under the given quantizer +
    codebook — the one encode pipeline write, append, and retraining
    compaction all share, so the three cannot drift."""
    sub = len(cb[0]) // m
    assigned = emb.withColumn("cell", _argmin_cell(cents))
    vec_col = "embedding"
    if residual:
        assigned = assigned.withColumn(
            "_v", F.zip_with(F.col("embedding"), _cent_lookup(cents),
                             lambda a, b: a.cast("double") - b))
        vec_col = "_v"
    packed = _pq_pack_expr(vec_col, cb, m, nbits, sub)
    return assigned.select("vec_id", packed.alias("pq_code"), "cell")


def _train_sample(corpus: DataFrame, sample_ppm: int | None,
                  caller: str) -> DataFrame:
    """Deterministic training subsample: keep rows whose md5 bucket
    (salt 'train', the operators/sampling.py policy — reproducible
    across engines/partitionings) falls under ``sample_ppm``/1e6.
    Training quantizers on a sample is the standard scale move (FAISS
    trains on ~256·k vectors, not the corpus): it caps EVERY Lloyd
    round at sample size instead of a full corpus scan per round,
    while assignment/encoding still cover the whole corpus with the
    trained model. Zero shuffle, zero sort — a scan predicate, so the
    sample never materializes anywhere."""
    if sample_ppm is None:
        return corpus
    if not 0 < sample_ppm <= 1_000_000:
        raise ValueError(
            f"{caller}: train_sample_ppm={sample_ppm} must be in "
            f"(0, 1_000_000]")
    h = F.md5(F.concat_ws(":", F.lit("train"),
                          F.col("vec_id").cast("string")))
    bucket = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") \
        % 1_000_000
    return corpus.where(bucket < sample_ppm)


def pq_train_codebooks(emb: DataFrame, m: int, nbits: int, iters: int,
                       cents: list[list[float]] | None = None,
                       decimals: int = 6,
                       sample_ppm: int | None = None
                       ) -> list[list[float]]:
    """Train per-subspace PQ codebooks (Jégou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 §II; FAISS
    IVFPQ's training stage): an independent 2^nbits-codeword k-means
    per subspace, run as ``iters`` Lloyd rounds — this, not the coarse
    quantizer, is where ADC recall comes from on non-uniform data,
    because each subspace's codewords move to where THAT slice of the
    distribution actually lives instead of being hash-order corpus
    rows shared across all subspaces.

    ``cents`` (optional): coarse quantizer centroids — when given,
    training runs on RESIDUALS ``x − cent[cell(x)]`` (the IVFPQ
    encoding that removes the coarse component before quantizing, so
    the codebook spends its 2^nbits codewords on the within-cell
    structure where ANN distances are decided).

    Determinism contract (the kmeans_fit policy, so a SQL oracle
    replays training verbatim): seeds are the 2^nbits corpus rows with
    the smallest (md5(vec_id), vec_id) — the SAME seed rows for every
    subspace, diverging from round 1; assignment ties break toward the
    lower code; empty codewords carry over; every codeword coordinate
    is ROUNDED at ``decimals`` after init and after each update (PQ
    codebooks are routinely stored fp16 — 6 dp is far finer — and the
    quantization pins the codebook bit-identical across engines, so
    the downstream encode argmin sees literally equal operands).

    Scale shape: ONE corpus scan per Lloyd round trains ALL m
    subspaces — each row emits m (subspace, code, segment) structs and
    the update is a groupBy(s, code, dim) mean whose map-side partial
    collapses to ≤ m·2^nbits·(d/m) = 2^nbits·d rows per partition;
    only that bounded model state reaches the driver. Returns the
    2^nbits codewords in CONCATENATED layout (codeword j's dims
    [s·sub, (s+1)·sub) belong to subspace s's j-th codeword), the
    exact shape the ``{table}_codebook`` sidecar and every ADC slice
    already use — trained and pinned codebooks are interchangeable
    downstream. ``sample_ppm`` trains on a deterministic md5-bucket
    subsample (:func:`_train_sample`) — the FAISS move that makes
    training cost independent of corpus size; encoding still covers
    every row."""
    ncw = 1 << nbits
    corpus = _train_sample(emb.where(F.col("embedding").isNotNull()),
                           sample_ppm, "pq_train_codebooks")
    if cents is not None:
        corpus = (corpus
                  .withColumn("cell", _argmin_cell(cents))
                  .select("vec_id",
                          F.zip_with(F.col("embedding"),
                                     _cent_lookup(cents),
                                     lambda a, b: a.cast("double") - b)
                          .alias("vec")))
    else:
        corpus = corpus.select(
            "vec_id",
            F.transform(F.col("embedding"),
                        lambda a: a.cast("double")).alias("vec"))
    # persist the (bounded, sample_ppm-gated) training frame for the
    # seed pick + every Lloyd round (r13, guide §5): without it each
    # round re-scans the corpus and re-derives residuals — iters+1
    # full passes at 100 TB. Consumed entirely within this call, so a
    # plain persist/unpersist pair is safe.
    corpus = corpus.persist()
    try:
        return _pq_train_rounds(corpus, m, nbits, iters, decimals)
    finally:
        corpus.unpersist()


def _pq_train_rounds(corpus: DataFrame, m: int, nbits: int,
                     iters: int, decimals: int) -> list[list[float]]:
    ncw = 1 << nbits
    seeds = (corpus.select(
                 "vec_id", "vec",
                 F.md5(F.col("vec_id").cast("string").cast("binary"))
                 .alias("__h"))
             .orderBy("__h", "vec_id").limit(ncw).collect())
    if len(seeds) < ncw:
        raise ValueError(
            f"pq_train_codebooks needs at least 2^nbits={ncw} rows "
            f"with non-null embeddings, found {len(seeds)}")
    dim = len(seeds[0].vec)
    if dim % m:
        raise ValueError(
            f"pq_train_codebooks: dim={dim} not divisible by m={m}")
    sub = dim // m

    def rnd(v) -> float:
        return round(float(v), decimals) + 0.0

    cb = [[[rnd(v) for v in r.vec[s * sub:(s + 1) * sub]]
           for r in seeds] for s in range(m)]     # cb[s][j][local dim]

    def seg_argmin(s: int) -> str:
        # one parsed SQL string per subspace (fastexpr, r13): the two
        # Lloyd rounds' per-literal construction was ~9 s of py4j
        # chatter per call; `vec` is already double, so no cast
        return fastexpr.argmin_sql([
            fastexpr.l2_sql(f"slice(vec, {s * sub + 1}, {sub})",
                            cb[s][j], cast_a=False)
            for j in range(ncw)])

    for _ in range(iters):
        rows = (corpus.select(F.explode(F.expr(
                    "array(" + ", ".join(
                        f"named_struct('s', {s}, "
                        f"'code', {seg_argmin(s)}, "
                        f"'seg', slice(vec, {s * sub + 1}, {sub}))"
                        for s in range(m)) + ")")).alias("t"))
                .select("t.s", "t.code",
                        F.posexplode("t.seg").alias("dim", "v"))
                .groupBy("s", "code", "dim")
                .agg(F.avg("v").alias("v"))
                .collect())
        nxt = [[list(cw) for cw in cb[s]] for s in range(m)]
        for r in rows:
            nxt[r.s][r.code][r.dim] = rnd(r.v)
        cb = nxt
    return [[v for s in range(m) for v in cb[s][j]] for j in range(ncw)]


def opq_train_rotation(emb: DataFrame, m: int,
                       sample_ppm: int | None = None,
                       decimals: int = 9) -> list[list[float]]:
    """OPQ-P learned rotation (Ge, He, Ke & Sun, "Optimized Product
    Quantization", CVPR 2013 §4 — the closed-form parametric
    solution; FAISS OPQMatrix's PCA + eigenvalue-allocation init):
    product quantization assumes the m subspaces are independent and
    carry comparable energy, but real embedding dimensions are
    correlated and anisotropic — so learn an ORTHOGONAL rotation R
    that (1) decorrelates dimensions (PCA basis) and (2) permutes the
    principal directions so each subspace's eigenvalue PRODUCT is
    balanced (greedy: next-largest eigenvalue goes to the non-full
    subspace with the smallest log-product — Ge et al.'s allocation).
    Rotation preserves L2/cosine exactly (orthogonality), so an index
    built entirely in rotated space returns the same exact neighbors
    while ADC quantization error drops where the subspace-independence
    assumption used to break.

    Scale shape: ONE distributed Gram pass (:func:`embedding_moments`
    — bounded d²+d model rows to the driver), then a driver-side d×d
    eigendecomposition (model-sized, the kmeans-centroid-update
    policy). ``sample_ppm`` bounds the moments scan like quantizer
    training. Deterministic: eigenvector signs fix by
    largest-|coefficient|-positive (the pca_project rule) and entries
    round at ``decimals`` — the rotation is DATA, stamped into the
    index sidecar like the codebook. Returns d×d R as rows:
    ``x' = R·x`` (row i of R = the eigenvector serving output dim i;
    output dims [s·(d/m), (s+1)·(d/m)) = subspace s's allocation)."""
    import math

    import numpy as np

    corpus = _train_sample(emb.where(F.col("embedding").isNotNull()),
                           sample_ppm, "opq_train_rotation")
    head = corpus.select(F.size("embedding").alias("d")).head(1)
    if not head:
        raise ValueError("opq_train_rotation: no non-null embeddings")
    d = head[0].d
    if d % m:
        raise ValueError(
            f"opq_train_rotation: dim={d} not divisible by m={m}")
    _, mu, exx = _moments_arrays(corpus, d)
    cov = exx - mu[:, None] * mu[None, :]
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    for c in range(d):
        amax = int(np.argmax(np.abs(v[:, c])))
        if v[amax, c] < 0:
            v[:, c] = -v[:, c]
    sub = d // m
    logs = [math.log(max(float(x), 1e-12)) for x in w]
    buckets: list[list[int]] = [[] for _ in range(m)]
    totals = [0.0] * m
    for i in range(d):                     # eigenvalues descending
        open_b = [b for b in range(m) if len(buckets[b]) < sub]
        b = min(open_b, key=lambda bb: (totals[bb], bb))
        buckets[b].append(i)
        totals[b] += logs[i]
    perm = [i for b in range(m) for i in buckets[b]]
    R = v[:, perm].T                       # rows: x' = R @ x
    return [[round(float(x), decimals) + 0.0 for x in row]
            for row in R]


def _pq_cross_moment(corpus: DataFrame, R, CB, m: int):
    """Distributed cross-moment M = Σ_x x·y(x)ᵀ for the OPQ-NP
    Procrustes step: y(x) is the PQ reconstruction of R·x under
    codebook ``CB`` (2^nbits × d concatenated layout, argmin ties to
    the lower code — the pq_train_codebooks contract). One
    Arrow-batched BLAS pass per partition (the embedding_moments
    shape: each partition folds to ONE d×d partial, the reduce ships
    d² bounded rows), corpus scanned exactly once; the returned d×d
    numpy matrix is model state."""
    import numpy as np
    import pandas as pd

    d = len(R)
    sub = d // m
    Rl = [list(map(float, r)) for r in R]
    CBl = [list(map(float, c)) for c in CB]

    def kern(batches):
        Rm, CBm = np.array(Rl), np.array(CBl)
        M = np.zeros((d, d))
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64)
            Xr = X @ Rm.T
            Y = np.empty_like(Xr)
            for s in range(m):
                sl = slice(s * sub, (s + 1) * sub)
                diff = Xr[:, None, sl] - CBm[None, :, sl]
                codes = np.argmin((diff * diff).sum(-1), axis=1)
                Y[:, sl] = CBm[codes, sl]
            M += X.T @ Y
        yield pd.DataFrame({"v": [M.ravel().tolist()]})

    parts = (corpus.select("embedding")
             .mapInPandas(kern, "v array<double>"))
    red = (parts.select(F.posexplode("v").alias("i", "x"))
           .groupBy("i").agg(F.sum("x").alias("x")))
    rows = red.collect()          # bounded: d² model values
    M = np.zeros((d, d))
    for r in rows:
        M[r.i // d, r.i % d] = r.x
    return M


def opq_train_rotation_np(emb: DataFrame, m: int, nbits: int = 4,
                          iters: int = 2, codebook_iters: int = 1,
                          sample_ppm: int | None = None,
                          decimals: int = 9) -> list[list[float]]:
    """NON-PARAMETRIC OPQ (Ge, He, Ke & Sun, CVPR 2013 §5; FAISS
    OPQMatrix's training loop) — r10, the r9 verdict's item 6:
    alternate codebook and rotation updates instead of trusting the
    Gaussian assumption behind the closed-form OPQ-P allocation.
    Initialized at :func:`opq_train_rotation` (OPQ-P — Ge et al.'s
    own recommended init), then each iteration (1) trains per-
    subspace PQ codebooks on the rotated sample
    (:func:`pq_train_codebooks` — plain PQ, the paper's objective),
    (2) reconstructs y = q(R·x) and solves the orthogonal Procrustes
    problem min_R Σ‖R·x − y‖² in closed form: M = Σ x·yᵀ,
    M = U·S·Vᵀ → R = V·Uᵀ. Monotone by construction (each half-step
    minimizes the shared quantization-error objective with the other
    half fixed), so the learned R is ≥ OPQ-P on the training
    objective; SCALE.md's correlated-blob smoke measures the recall
    side.

    Scale shape: per iteration, one codebook-training pass (bounded
    2^nbits·d model rows shuffle) + one cross-moment corpus pass
    (embedding_moments' per-partition BLAS fold, d² bounded reduce)
    — both over the ``sample_ppm`` md5 sample; the SVD is a driver
    d×d (model-sized, the eigh policy). Same contract as
    :func:`opq_train_rotation`: returns d×d R rows (x' = R·x),
    entries rounded at ``decimals`` — a drop-in rotation for the
    stamped ``{table}_rotation`` sidecar, nothing downstream
    changes."""
    import numpy as np

    if iters < 1:
        raise ValueError(
            f"opq_train_rotation_np: iters={iters} must be >= 1")
    if codebook_iters < 1:
        raise ValueError(
            f"opq_train_rotation_np: codebook_iters={codebook_iters} "
            f"must be >= 1 (the rotation update needs trained "
            f"codebooks to reconstruct against)")
    R = np.array(opq_train_rotation(emb, m, sample_ppm=sample_ppm,
                                    decimals=decimals), dtype=float)
    corpus = _train_sample(emb.where(F.col("embedding").isNotNull()),
                           sample_ppm, "opq_train_rotation_np")
    for _ in range(iters):
        rot = [[float(x) for x in row] for row in R]
        rotated = corpus.select(
            "vec_id", _rotate_expr(rot).alias("embedding"))
        cb = pq_train_codebooks(rotated, m, nbits, codebook_iters)
        M = _pq_cross_moment(corpus, rot, cb, m)
        u, _, vt = np.linalg.svd(M)
        R = (u @ vt).T                  # argmax tr(R·M) = V·Uᵀ
    return [[round(float(x), decimals) + 0.0 for x in row]
            for row in R]


def _rotate_expr(R: list[list[float]], col: str = "embedding"):
    """In-row orthogonal rotation ``x' = R·x`` as a literal-fold HOF
    array (d² multiply-adds inside whole-stage codegen — the
    random_projection pattern): the d×d rotation is bounded model
    state shipped in the plan, the corpus never shuffles. One parsed
    SQL string (fastexpr, r13): the d² per-literal py4j construction
    was whole seconds per call at d=64."""
    return F.expr(fastexpr.rotate_sql(R, col=col))


def ivf_pq_index_write(emb: DataFrame, table: str, path: str,
                       n_centroids: int = 8, m: int = 8, nbits: int = 4,
                       train_iters: int = 0,
                       seed_ids: list[int] | None = None,
                       codebook_iters: int = 0,
                       residual: bool = False,
                       train_sample_ppm: int | None = None,
                       opq: bool = False,
                       opq_np_iters: int = 0,
                       gen: str = "") -> None:
    """PQ-COMPRESSED persistent IVF index — the memory-bound variant
    of :func:`ivf_index_write`: instead of storing raw
    ``array<double>`` embeddings (at 100 TB the float index is as
    large as the corpus), each vector stores ONE packed long of
    ``m`` sub-codes (``m·nbits`` bits), PARTITIONED BY cell. The
    measured on-disk ratio vs the float index is ~40× at 64-dim
    doubles (SCALE.md smoke) — the difference between an in-memory
    probe and an I/O-bound one.

    Layout: ``{table}`` (vec_id, pq_code, cell) partitioned by cell;
    ``{table}_centroids`` (cell, embedding) — the coarse quantizer
    sidecar, C rows; ``{table}_codebook`` (code, embedding) — the
    PQ codeword sidecar, 2^nbits rows of the ACTUAL codeword vectors
    in concatenated per-subspace layout (dims [s·sub, (s+1)·sub) of
    codeword j = subspace s's j-th codeword — for the pinned default
    every subspace shares the same corpus row, for trained codebooks
    they diverge), so probes are self-contained and never depend on
    how the codebook was derived.

    Codebook choice — ``codebook_iters`` (the ADC-recall knob):

    - ``codebook_iters=0`` (default): PINNED codewords — 2^nbits
      hash-order corpus rows shared across all m subspaces
      (:func:`knn_ivf_pq`'s rule, so the in-memory and persistent
      variants agree bit-for-bit). Exact and SQL-replayable, but
      statistically naive: on real (clustered, anisotropic) embedding
      corpora the shared untrained codebook inflates ADC error exactly
      where distances are close. Fine for uniform data and smoke
      tests; NOT the production setting.
    - ``codebook_iters>0``: per-subspace k-means codebooks
      (:func:`pq_train_codebooks` — Jégou et al. 2011, FAISS IVFPQ's
      training). Same determinism contract as the coarse
      ``train_iters`` (SQL-replayable), measured recall@10 win on an
      unequal-variance correlated-blob corpus in SCALE.md's trained-PQ
      smoke. This is the recommended production setting.
    - ``residual=True`` (requires ``codebook_iters>0``): encode
      ``x − cent[cell(x)]`` instead of raw ``x`` — the coarse
      component is removed before quantizing, so the codebook's
      2^nbits codewords resolve within-cell structure; probes build
      their ADC tables per probed cell from the query's residual.
      Raw pinned rows would make a nonsense residual codebook, hence
      the coupling.

    - ``opq=True`` (requires ``codebook_iters>0``): learn an
      orthogonal OPQ-P rotation first (:func:`opq_train_rotation` —
      Ge et al. 2013) and build the ENTIRE index in rotated space:
      the coarse quantizer trains on rotated vectors, the codebook on
      rotated (residuals if also ``residual=True``), and every
      probe/append rotates its input against the stamped
      ``{table}_rotation`` sidecar. Orthogonality preserves L2/cosine
      exactly, so correctness is unchanged; ADC error drops where
      correlated/anisotropic dimensions used to break PQ's
      subspace-independence assumption (measured on the correlated-
      blob smoke, SCALE.md). ``opq_np_iters>0`` (r10) refines the
      rotation NON-parametrically (:func:`opq_train_rotation_np` —
      Ge et al. §5 alternating updates; same sidecar contract,
      strictly ≥ OPQ-P on the training objective) — reach for it
      when OPQ-P alone still misses the recall target.

    DEFAULT POLICY (decided r8, same as ivf_index_write's): defaults
    stay pinned (``train_iters=0, codebook_iters=0``) for bit-for-bit
    parity with :func:`knn_ivf_pq` and zero training cost — the
    test/oracle setting, which also requires dense vec_ids 0..N-1.
    Production indexes should pass ``train_iters>0, codebook_iters>0,
    residual=True`` — SCALE.md's trained-PQ smoke measures 3.4–3.7×
    the pinned codebook's recall on unequal-variance correlated
    blobs, and the trained path has no id requirement. Add
    ``opq=True`` when the recall harness (:func:`ann_recall_estimate`)
    shows the budgeted (nprobe, shortlist) still misses target — see
    SCALE.md's OPQ row for the measured case.

    Encoding is an IN-ROW argmin per subspace over codeword literals
    (zero shuffle, one corpus scan, whole-stage codegen), exactly
    :func:`knn_ivf_pq`'s arithmetic — so a probe of this index
    matches knn_ivf_pq's answer bit-for-bit and the same SQL oracle
    replays it. Sub-codes pack little-end-first:
    ``pq_code = Σ_s code_s << (s·nbits)``; ``m·nbits`` must stay
    ≤ 62 (the sub-64-bit packing convention — DuckDB's ``1 << p``
    overflows at 63). All quantizer/codebook provenance
    (n_centroids, train_iters, m, nbits, codebook_iters, residual)
    is stamped as TBLPROPERTIES and validated at probe/append. A live
    rebuild is writer-exclusive, for the DROP-first reason given in
    :func:`ivf_index_write`."""
    if m * nbits > 62:
        raise ValueError(
            f"ivf_pq_index_write: m={m} × nbits={nbits} = {m * nbits} "
            f"bits does not fit one signed long (≤ 62); lower m or "
            f"nbits, or shard the code into words")
    if residual and codebook_iters <= 0:
        raise ValueError(
            "ivf_pq_index_write: residual=True requires "
            "codebook_iters>0 — residuals are centered near zero and "
            "a pinned raw-corpus-row codebook cannot quantize them")
    if opq and codebook_iters <= 0:
        raise ValueError(
            "ivf_pq_index_write: opq=True requires codebook_iters>0 "
            "— pinned codewords are raw corpus rows in ORIGINAL "
            "space; rotating the corpus under them would silently "
            "mis-encode everything")
    if opq_np_iters > 0 and not opq:
        raise ValueError(
            "ivf_pq_index_write: opq_np_iters>0 requires opq=True — "
            "the non-parametric iterations refine the OPQ rotation")
    rot = None
    if opq:
        if opq_np_iters > 0:
            rot = opq_train_rotation_np(
                emb, m, nbits=nbits, iters=opq_np_iters,
                codebook_iters=codebook_iters,
                sample_ppm=train_sample_ppm)
        else:
            rot = opq_train_rotation(emb, m,
                                     sample_ppm=train_sample_ppm)
        emb = emb.select("vec_id",
                         _rotate_expr(rot).alias("embedding"))
    ncw = 1 << nbits
    if train_iters > 0:
        cents = kmeans_centroids(emb, k=n_centroids, iters=train_iters,
                                 seed_ids=seed_ids,
                                 sample_ppm=train_sample_ppm)
    else:
        cents = _pinned_cents(emb, n_centroids)
    if codebook_iters > 0:
        cb = pq_train_codebooks(emb, m, nbits, codebook_iters,
                                cents=cents if residual else None,
                                sample_ppm=train_sample_ppm)
    else:
        # pinned codebook: hash-order corpus rows (knn_ivf_pq's rule)
        n = emb.count()
        step2 = max(1, n // ncw)
        cwids = [j * step2 + step2 // 3 for j in range(ncw)]
        cmap = {r.vec_id: [float(v) for v in r.embedding]
                for r in emb.where(F.col("vec_id").isin(cwids))
                            .select("vec_id", "embedding").collect()}
        missing = [c for c in cwids if c not in cmap]
        if missing:
            raise ValueError(
                f"pinned-codebook rows {missing} absent from the "
                f"corpus — PQ pinning needs dense vec_ids 0..N-1")
        cb = [cmap[c] for c in cwids]
    dim = len(cb[0])
    if dim % m:
        raise ValueError(
            f"ivf_pq_index_write: dim={dim} not divisible by m={m}")

    assigned = _pq_encode_frame(emb, cents, cb, m, nbits, residual) \
        .withColumn("gen", F.lit(gen))
    # drop-first: uncache dependent plans before the overwrite (see
    # ivf_index_write — the recall grid's persisted candidates)
    emb.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    (assigned.write.mode("overwrite").format("parquet")
     .partitionBy("cell").option("path", path).saveAsTable(table))
    spark = emb.sparkSession
    sidecars = {"_centroids": cents, "_codebook": cb}
    if rot is not None:
        sidecars["_rotation"] = rot
    _write_sidecars(spark, table, path, sidecars, 1)
    _index_table.stamp(spark, table, {
        "n_centroids": n_centroids, "train_iters": train_iters,
        "train_sample_ppm": train_sample_ppm or 0, "pq_m": m,
        "pq_nbits": nbits, "pq_codebook_iters": codebook_iters,
        "pq_residual": int(residual), "pq_opq": int(opq),
        "quantizer_version": 1})
    # no rules carry over to the rebuilt index (see ivf_index_write)
    _tombstones.clear_rules(spark, table, stamp_table=table)


def ivf_pq_index_probe(spark, table: str, query_vec, k: int = 5,
                       nprobe: int = 2,
                       exclude_vec_id: int | None = None,
                       candidate_ids: DataFrame | None = None
                       ) -> DataFrame:
    """Probe a :func:`ivf_pq_index_write` index → top-k
    (vec_id, adc_dist), approximate L2² ascending — FAISS IVFPQ's
    serving shape. Cell selection is driver-side over the C-row
    centroid sidecar; the scan carries the ``cell IN (...)`` partition
    filter (file-listing pruning); scoring is an ADC lookup — the
    per-subspace query↔codeword distance table (m × 2^nbits doubles,
    computed driver-side from the codebook sidecar) ships as literals
    and each row's score is m ``element_at`` picks on its unpacked
    sub-codes. A RESIDUAL index (stamped ``pq_residual``) builds one
    ADC table per probed cell from the query's residual against THAT
    cell's centroid — nprobe bounded tables, dispatched by a
    when-chain on the row's cell. The scan never touches a float
    embedding: it reads (vec_id, pq_code) only — the ~40× I/O
    reduction is the point. ``m``/``nbits``/``residual`` come from
    the stamp (a probe against a non-PQ table fails by name).

    ``candidate_ids`` (optional single-column frame): FILTERED ANN
    for the compressed layout — the PQ table stores only sub-codes,
    so attribute predicates evaluate on the metadata table and pass
    their surviving vec_ids here; the scan SEMI-joins them (hash keys
    only, no floats, no pair expansion) before scoring. Same
    filter-then-rank semantics as the float family's
    ``candidate_filter`` — selective filters warrant larger nprobe."""
    import numpy as np

    layout = _IvfLayout(spark, table)
    m, nbits = layout.pq_shape()
    ncw = 1 << nbits

    cents = np.asarray(layout.cents, dtype=np.float64)
    q = np.asarray(list(query_vec), dtype=np.float64)
    if layout.opq:
        # the index lives in rotated space; rotate the query into it
        # (driver-side d×d matvec — model-sized, like the routing)
        q = np.asarray(layout.rotation, dtype=np.float64) @ q
    order = sorted((float(((c - q) ** 2).sum()), cell)
                   for cell, c in enumerate(cents))
    probe_cells = [cell for _, cell in order[:nprobe]]

    cb = np.asarray(layout.codebook, dtype=np.float64)
    dim = len(cb[0])
    sub = dim // m

    def adc_for(qv: "np.ndarray") -> str:
        # one parsed SQL string (fastexpr, r13) — the m·2^nbits ADC
        # literal table cost seconds of py4j chatter per probe
        qd = [[float(((qv[s * sub:(s + 1) * sub]
                       - cb[j][s * sub:(s + 1) * sub]) ** 2).sum())
               for j in range(ncw)] for s in range(m)]
        return " + ".join(
            f"element_at({fastexpr.darr(qd[s])}, "
            f"CAST((shiftrightunsigned(pq_code, {s * nbits}) & "
            f"{ncw - 1}) AS INT) + 1)"
            for s in range(m))

    if layout.residual:
        adc = F.expr("CASE " + " ".join(
            f"WHEN cell = {cell} THEN ({adc_for(q - cents[cell])})"
            for cell in probe_cells) + " END")
    else:
        adc = F.expr(adc_for(q))

    scan = _tombstones.live_filter(spark, table, layout.stamps, "vec_id")(
        spark.table(table)).where(F.col("cell").isin(probe_cells))
    if candidate_ids is not None:
        ids = candidate_ids.select(
            F.col(candidate_ids.columns[0]).alias("vec_id"))
        scan = scan.join(ids, "vec_id", "left_semi")
    if exclude_vec_id is not None:
        scan = scan.where(F.col("vec_id") != exclude_vec_id)
    return (scan.select("vec_id", F.round(adc, 6).alias("adc_dist"),
                        adc.alias("_d"))
            .orderBy(F.asc("_d"), F.asc("vec_id"))
            .limit(k).drop("_d"))


def ivf_pq_index_refine(spark, table: str, emb: DataFrame, query_vec,
                        k: int = 5, nprobe: int = 2,
                        shortlist: int = 100,
                        exclude_vec_id: int | None = None) -> DataFrame:
    """Two-stage high-recall ANN serving (FAISS IVFPQ + refine): stage
    1 probes the COMPRESSED index — cell-pruned scan over (vec_id,
    pq_code) only — and keeps the top-``shortlist`` candidates by ADC;
    stage 2 re-ranks them EXACTLY by cosine, reading float embeddings
    for only those R rows: the shortlist ids (bounded driver data,
    same class as the centroid collect) become an ``IN`` predicate the
    float scan pushes down to parquet row-group skipping. At 100 TB
    the corpus-sized read is sub-code longs; float I/O is R rows per
    query. ADC's quantization error is confined to the shortlist
    BOUNDARY — with shortlist ≫ k the exact top-k is recovered unless
    a true neighbor's ADC rank falls below the cutoff.
    → (vec_id, cosine) desc, the exact scores.

    This is the ONE-QUERY shape (the shortlist ids take a driver hop
    and ride as an IN predicate — bounded by ``shortlist``, fine for
    a single interactive query). Serving many queries must go through
    :func:`ivf_pq_index_refine_batch`, which re-ranks via a join and
    never touches the driver."""
    from georiva_spark.functions.vectors import cosine_similarity

    short = ivf_pq_index_probe(spark, table, query_vec, k=shortlist,
                               nprobe=nprobe,
                               exclude_vec_id=exclude_vec_id)
    ids = [r.vec_id for r in short.select("vec_id").collect()]
    qlit = F.expr(fastexpr.darr(query_vec))
    cos = cosine_similarity(F.col("embedding"), qlit)
    return (emb.where(F.col("vec_id").isin(ids))
            .select("vec_id", F.round(cos, 4).alias("cosine"),
                    cos.alias("_c"))
            .orderBy(F.desc("_c"), F.asc("vec_id"))
            .limit(k).drop("_c"))


def _pq_adc_flat(vec_col: str, m: int, cb: list):
    """The flat m·2^nbits ADC lookup table of one query (fan-out)
    row: ||q_seg − cw_seg||² against the codebook literals ``cb``
    (2^nbits rows) — ONE parsed string (fastexpr)."""
    ncw, sub = len(cb), len(cb[0]) // m

    def qd(s: int, j: int) -> str:
        return fastexpr.l2_sql(
            f"slice({vec_col}, {s * sub + 1}, {sub})",
            cb[j][s * sub:(s + 1) * sub])

    return F.expr("array(" + ", ".join(
        qd(s, j) for s in range(m) for j in range(ncw)) + ")")


def _pq_adc_score(m: int, nbits: int):
    """Per-candidate ADC-L2² from the riding `qd` table + the packed
    `pq_code` — m element_at picks, no floats shipped."""
    ncw = 1 << nbits
    adc = None
    for s in range(m):
        code_s = (F.shiftrightunsigned(F.col("pq_code"), s * nbits)
                  .bitwiseAND(F.lit(ncw - 1)).cast("int"))
        term = F.element_at(F.col("qd"), F.lit(s * ncw) + code_s + 1)
        adc = term if adc is None else adc + term
    return adc


def ivf_pq_index_refine_batch(spark, table: str, emb: DataFrame,
                              queries: DataFrame, k: int = 5,
                              nprobe: int = 2, shortlist: int = 100,
                              exclude_self: bool = False,
                              max_broadcast_queries: int = 10_000
                              ) -> DataFrame:
    """Two-stage BATCH ANN serving — the per-query
    :func:`ivf_pq_index_refine`'s driver round-trip removed: stage 1
    is the PQ serving pass (:func:`ivf_index_probe_batch`'s compressed
    cell-pruned scan, no float I/O) keeping the top-``shortlist`` ADC
    candidates per query; stage 2 re-ranks them EXACTLY by cosine via
    a JOIN of the (q_id, vec_id) shortlist against the float table —
    no driver collect, no ``IN``-literal in the plan, so serving N
    queries costs ONE two-join plan instead of N driver hops (the
    shape the r7 verdict flagged as un-loopable). Float I/O is the
    join-matched shortlist rows (≤ |batch|·shortlist); at production
    scale the float table is bucketed/sorted on vec_id so the join
    co-locates, and Spark's runtime bloom-filter join pushes the
    shortlist keys into the scan. A float index has no ADC stage to
    refine and fails by name.

    The ``queries`` projection is PERSISTED before stage 1 so a
    non-deterministic frame cannot route with one set of embeddings
    and re-rank with another. Broadcast gate: both stage-2 build
    sides (the shortlist pairs and the query embeddings) broadcast
    under ``max_broadcast_queries`` distinct queries (stage 1's gate
    count), shuffle past it — same contract as the stage-1 join.
    → per-query top-k (q_id, vec_id, cosine), exact scores, desc."""
    from pyspark import StorageLevel

    from georiva_spark.operators._retention import persist_bounded

    layout = _IvfLayout(spark, table)
    layout.pq_shape()                  # a float index fails by name
    qsrc = persist_bounded(
        queries.select("q_id", "embedding"),
        "ivf_pq_index_refine_batch.queries",
        StorageLevel.MEMORY_AND_DISK)
    cand, small = _ivf_candidates(layout, qsrc, nprobe,
                                  "ivf_pq_index_refine_batch.probed",
                                  max_broadcast_queries, exclude_self)
    pairs = _top_k(cand, layout.order, shortlist).select("q_id", "vec_id")
    build = F.broadcast(pairs) if small else pairs
    qe = qsrc.select(F.col("q_id").alias("__qid"),
                     F.col("embedding").alias("qe"))
    if small:
        qe = F.broadcast(qe)
    cos = cosine_similarity(F.col("embedding"), F.col("qe"))
    cand = (emb.join(build, "vec_id")
            .join(qe, F.col("q_id") == F.col("__qid"))
            .select("q_id", "vec_id", cos.alias("_s")))
    return _top_k(cand, [F.desc("_s"), F.asc("vec_id")], k).select(
        "q_id", "vec_id", F.round("_s", 4).alias("cosine"))


def _exact_topk(corpus: DataFrame, queries: DataFrame, k: int,
                metric: str) -> DataFrame:
    """Exact per-query top-k ground truth over the float corpus —
    broadcast the bounded query sample, scan the corpus ONCE, window
    top-k. ``metric='cosine'`` (desc) matches what the float probe
    and PQ refine rank by; ``'l2'`` (squared distance asc) matches
    what raw ADC approximates. Ties break by vec_id, the probe-family
    convention. → (q_id, vec_id).

    Scale note: the window shuffles (q_id, vec_id, score) triples —
    corpus_rows × n_queries of ~24 bytes, never an embedding — so the
    exact-truth cost is LINEAR in the sample size; that is the knob
    (``sample_ppm``), and why ground truth on a hash sample is the
    standard calibration practice rather than corpus×corpus truth."""
    from georiva_spark.functions.vectors import cosine_similarity

    q = queries.select(F.col("q_id"), F.col("embedding").alias("qe"))
    if metric == "cosine":
        score = cosine_similarity(F.col("embedding"), F.col("qe"))
        order = [F.desc("_s"), F.asc("vec_id")]
    elif metric == "l2":
        score = F.aggregate(
            F.zip_with(F.col("embedding"), F.col("qe"),
                       lambda a, b: (a.cast("double") - b.cast("double"))
                       * (a.cast("double") - b.cast("double"))),
            F.lit(0.0), lambda acc, x: acc + x)
        order = [F.asc("_s"), F.asc("vec_id")]
    else:
        raise ValueError(f"_exact_topk: metric={metric!r} — expected "
                         f"'cosine' or 'l2'")
    scored = (corpus.select("vec_id", "embedding")
              .crossJoin(F.broadcast(q))
              .where(F.col("vec_id") != F.col("q_id"))
              .select("q_id", "vec_id", score.alias("_s")))
    return _top_k(scored, order, k).select("q_id", "vec_id")


def _grid_probe_settings(layout: _IvfLayout, queries: DataFrame, k: int,
                         nprobes: tuple, shortlists: tuple,
                         emb: DataFrame | None,
                         max_broadcast_queries: int) -> list:
    """The recall harness's probes for the FULL (nprobe × shortlist)
    grid off ONE serving pass (:func:`_ivf_candidates` at
    max(nprobes) — one routed fan-out, one index scan; r14, guide
    §1.2). The nprobe-n fan is the ``__pos < n`` prefix of the
    max(nprobes) fan, and a shortlist is a prefix of the stage-1 ADC
    ranking, so every grid setting is a filter + window over SHARED
    scored candidates. Top-k sets are identical to the serving batch
    probes' (same pass, same (score, vec_id) tie-break, the
    exclude_self-always-on harness contract) — pytest-pinned against
    :func:`ivf_index_probe_batch` for a float and a raw-ADC PQ index.
    → [(nprobe, shortlist_or_None, got_df(q_id, vec_id)), ...]."""
    from pyspark import StorageLevel

    from georiva_spark.operators._retention import persist_bounded

    # the harness always probes exclude_self (q_ids ARE corpus ids)
    cand, small = _ivf_candidates(
        layout, queries, max(int(n) for n in nprobes),
        "ann_recall_estimate.probed", max_broadcast_queries, True)
    cand = persist_bounded(cand.select("q_id", "__pos", "vec_id", "_s"),
                           "ann_recall_estimate.cand",
                           StorageLevel.MEMORY_AND_DISK)
    if shortlists == (None,):
        # float probe / raw ADC: per setting, top-k over the shared
        # scored candidates routed at that nprobe (fan prefix)
        return [(np_, None,
                 _top_k(cand.where(F.col("__pos") < int(np_)),
                        layout.order, k).select("q_id", "vec_id"))
                for np_ in nprobes]
    # PQ refine grid: stage-1 ADC rank per nprobe at max(shortlist)
    # (a shortlist is a rank prefix), then ONE exact-cosine join over
    # the union of shortlisted pairs — the ORIGINAL (unrotated)
    # query embeddings re-rank against the float corpus, exactly the
    # serving refine's stage-2 contract
    max_sl = max(int(s) for s in shortlists)
    ranked = None
    for np_ in nprobes:
        r1 = (_top_k(cand.where(F.col("__pos") < int(np_)),
                     layout.order, max_sl)
              .select(F.lit(int(np_)).alias("__np"), "q_id", "vec_id",
                      "_r"))
        ranked = r1 if ranked is None else ranked.unionByName(r1)
    ranked = persist_bounded(ranked, "ann_recall_estimate.ranked",
                             StorageLevel.MEMORY_AND_DISK)
    pairs = ranked.select("q_id", "vec_id").distinct()
    qe = queries.select(F.col("q_id").alias("__qid"),
                        F.col("embedding").alias("qe"))
    if small:
        pairs, qe = F.broadcast(pairs), F.broadcast(qe)
    cos = cosine_similarity(F.col("embedding"), F.col("qe"))
    rescored = persist_bounded(
        emb.join(pairs, "vec_id")
        .join(qe, F.col("q_id") == F.col("__qid"))
        .select("q_id", "vec_id", cos.alias("_s")),
        "ann_recall_estimate.rescored", StorageLevel.MEMORY_AND_DISK)
    out = []
    for np_ in nprobes:
        for sl in shortlists:
            sel = (ranked.where((F.col("__np") == int(np_))
                                & (F.col("_r") <= int(sl)))
                   .select("q_id", "vec_id"))
            # sel is model-sized (≤ sample queries × shortlist rows);
            # without the hint the per-setting semi joins over the two
            # cached frames planned as SortMergeJoins (4 in the
            # ann_tune_pq after-plan) — broadcast keeps the shared
            # rescored frame unshuffled per setting (guide §3.1), under
            # the same max_broadcast_queries gate as the other hints
            if small:
                sel = F.broadcast(sel)
            got = _top_k(rescored.join(sel, ["q_id", "vec_id"], "left_semi"),
                         [F.desc("_s"), F.asc("vec_id")], k)
            out.append((np_, sl, got.select("q_id", "vec_id")))
    return out


def ann_recall_estimate(spark, table: str, k: int = 5,
                        nprobes: tuple = (1, 2),
                        sample_ppm: int = 30_000,
                        emb: DataFrame | None = None,
                        shortlist: int | tuple | None = None,
                        salt: str = "recall",
                        max_broadcast_queries: int = 10_000
                        ) -> DataFrame:
    """Recall-CALIBRATION harness — the sizing loop a production user
    runs before committing to (nprobe, shortlist) settings: hash-
    sample ``sample_ppm``/1e6 of the indexed ids as queries (md5
    bucket, engine-reproducible), compute EXACT per-query top-k
    ground truth on the sample (one corpus scan against the broadcast
    sample — never all-pairs), probe the index at each ``nprobes``
    setting, and report measured recall@k per setting. Until r9 this
    calibration was the operator's problem (the r8 verdict's Missing
    #1); now it is one query: pick the smallest setting whose recall
    clears the product target.

    Index families: a FLOAT IVF index is self-contained (the index
    table holds the embeddings; ground truth and probes both read
    it). A PQ index stores sub-codes only, so pass the float corpus
    as ``emb``; with ``shortlist`` (an int or a tuple — the full
    (nprobe × shortlist) sizing grid in one call) the probes run
    two-stage refine (exact-cosine re-rank — truth metric cosine),
    without it raw ADC (truth metric L2², what ADC approximates).

    Scale shape: the sample is bounded (ppm of corpus ids, the
    training-sample policy); ground truth is ONE corpus scan per call
    (broadcast sample, window top-k — n_sample·k rows out); each
    probe setting reuses the serving-path batch probe (cell-pruned,
    plan-asserted elsewhere); recall aggregation joins two bounded
    frames. Recall = |probe ∩ truth| / |truth| (truth rows per query
    = min(k, N−1), so starved corpora don't deflate the score).
    → (nprobe, shortlist, k, n_queries, truth_rows, hits, recall),
    one row per setting."""
    return _recall_estimate(_IvfLayout(spark, table), k, nprobes,
                            sample_ppm, emb, shortlist, salt,
                            max_broadcast_queries)


def _recall_sample(layout: _IvfLayout, emb: DataFrame | None, salt: str,
                   sample_ppm: int) -> tuple:
    """The recall harness's float corpus (a PQ index's ``emb``, a
    float index's own live rows) and its query sample: the rows whose
    md5 bucket of ``salt:vec_id`` falls under ``sample_ppm``/1e6
    (engine-reproducible). → (corpus (vec_id, embedding), queries
    (q_id, embedding))."""
    corpus = (emb if layout.pq else _tombstones.live_filter(
        layout.spark, layout.table, layout.stamps, "vec_id")(
        layout.spark.table(layout.table))).select("vec_id", "embedding")
    h = F.md5(F.concat_ws(":", F.lit(salt),
                          F.col("vec_id").cast("string")))
    bucket = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") \
        % 1_000_000
    return corpus, corpus.where(bucket < sample_ppm).select(
        F.col("vec_id").alias("q_id"), "embedding")


def _recall_estimate(layout: _IvfLayout, k: int, nprobes: tuple,
                     sample_ppm: int, emb: DataFrame | None, shortlist,
                     salt: str, max_broadcast_queries: int) -> DataFrame:
    """:func:`ann_recall_estimate` over the caller's layout head."""
    from pyspark import StorageLevel

    from georiva_spark.operators._retention import persist_bounded

    if not 0 < sample_ppm <= 1_000_000:
        raise ValueError(
            f"ann_recall_estimate: sample_ppm={sample_ppm} must be "
            f"in (0, 1_000_000]")
    if layout.pq and emb is None:
        raise ValueError(
            "ann_recall_estimate: a PQ index stores sub-codes only — "
            "pass the float corpus as emb for ground truth")
    if shortlist is not None and not layout.pq:
        raise ValueError(
            "ann_recall_estimate: shortlist applies to PQ refine "
            "probes; a float index probes exactly at stage 1")
    corpus, sample = _recall_sample(layout, emb, salt, sample_ppm)
    queries = persist_bounded(sample, "ann_recall_estimate.queries",
                              StorageLevel.MEMORY_AND_DISK)
    metric = "l2" if (layout.pq and shortlist is None) else "cosine"
    truth = persist_bounded(
        _exact_topk(corpus, queries, k, metric),
        "ann_recall_estimate.truth", StorageLevel.MEMORY_AND_DISK)
    shortlists = ((shortlist,) if isinstance(shortlist, int)
                  else tuple(shortlist) if shortlist is not None
                  else (None,))
    # the whole (nprobe × shortlist) grid probes off ONE routed
    # fan-out + ONE index scan (r14 — see _grid_probe_settings);
    # per-setting results are filter+window slices of the shared
    # scored candidates, identical to the serving batch probes'
    settings = _grid_probe_settings(layout, queries, k, nprobes,
                                    shortlists, emb, max_broadcast_queries)
    out = None
    for np_, sl, got in settings:
        # one bounded union-shuffle per setting: hits = pairs in both
        u = (truth.select("q_id", "vec_id", F.lit(1).alias("__t"),
                          F.lit(0).alias("__g"))
             .unionByName(got.select(
                 "q_id", "vec_id", F.lit(0).alias("__t"),
                 F.lit(1).alias("__g"))))
        flat = (u.groupBy("q_id", "vec_id")
                .agg(F.max("__t").alias("t"), F.max("__g").alias("g")))
        row = flat.agg(
            F.lit(int(np_)).cast("int").alias("nprobe"),
            F.lit(int(sl or 0)).cast("int").alias("shortlist"),
            F.lit(int(k)).cast("int").alias("k"),
            F.count_distinct(F.when(F.col("t") == 1, F.col("q_id")))
            .cast("long").alias("n_queries"),
            F.sum("t").cast("long").alias("truth_rows"),
            F.sum(F.col("t") * F.col("g")).cast("long").alias("hits"),
            F.round(F.sum(F.col("t") * F.col("g")).cast("double")
                    / F.sum("t"), 6).alias("recall"))
        out = row if out is None else out.unionByName(row)
    return out


def ann_tune(spark, table: str, target_recall: float, k: int = 5,
             nprobes: tuple = (1, 2, 4),
             shortlist: int | tuple | None = None,
             sample_ppm: int = 30_000,
             emb: DataFrame | None = None,
             salt: str = "recall",
             max_broadcast_queries: int = 10_000) -> DataFrame:
    """Recall-target AUTO-SIZER — the capstone over
    :func:`ann_recall_estimate` (r10, the r9 verdict's Missing #2):
    instead of reading the calibration grid by hand, give the product
    target and get back the CHEAPEST (nprobe, shortlist) that meets
    it. Measures recall at every grid setting through the real
    serving paths, prices each setting with the transparent serving
    cost model ``cost = nprobe · ⌈N/C⌉ + shortlist`` (candidate rows
    scanned per query — nprobe cells of an N-row C-cell index — plus
    re-ranked rows for a PQ refine ladder), and returns ONE row: the
    min-cost setting with measured recall ≥ ``target_recall``; if no
    setting meets the target (raise nprobe/shortlist or the grid),
    the best-recall row returns flagged ``meets_target = false``
    (fail-visible, never silently under-recalled).

    Tie/selection order is total and engine-replayable: meets-target
    first, then MEASURED cost, then higher recall, then the analytic
    cost, then smaller nprobe, then smaller shortlist. Scale shape:
    the measurement is ann_recall_estimate's (bounded sample, one
    truth scan, serving probes); pricing joins ONE aggregated count
    row plus a C-row cell histogram (both broadcast); the selection
    sorts |grid| bounded rows. → (nprobe, shortlist, k, n_queries,
    truth_rows, hits, recall, cost, measured_cost, target_recall,
    meets_target).

    MEASURED pricing (r11): the analytic proxy ``nprobe·⌈N/C⌉``
    assumes uniform cells, but a skewed live-cell distribution (the
    very case :func:`_salted_cell_join` hardens the serving path
    against) makes per-probe cost non-uniform — so each setting is
    ALSO priced with the actual candidate rows its probes scan:
    route the same md5 query sample through the same centroid
    argsort the serving path uses (rotated for OPQ), sum the probed
    cells' real sizes from a bounded C-row histogram, and average
    per query. ``measured_cost = avg candidates/query + shortlist``
    ranks the grid; the analytic ``cost`` column stays for
    reference and as the final tie-break. On a uniform index the
    two agree (pytest-pinned); on a skewed one only the measured
    column tells the truth."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(
            f"ann_tune: target_recall={target_recall} must be in "
            f"(0, 1]")
    props = _index_table.props(spark, table)
    n_cents, = _index_table.require(props, table, "IVF", "n_centroids")
    layout = _IvfLayout(spark, table, props)
    rows = _recall_estimate(layout, k, nprobes, sample_ppm, emb,
                            shortlist, salt, max_broadcast_queries)
    n = F.broadcast(_tombstones.live_filter(spark, table, props, "vec_id")(
        spark.table(table)).agg(F.count(F.lit(1)).alias("__n")))
    per_probe = F.expr(f"(__n + {n_cents} - 1) div {n_cents}")
    cost = (F.col("nprobe").cast("long") * per_probe
            + F.col("shortlist").cast("long"))
    meets = F.round(F.col("recall"), 6) >= F.lit(float(target_recall))
    meas = _measured_candidates(spark, table, props, nprobes,
                                sample_ppm, emb, salt, layout)
    priced = (rows.crossJoin(n)
              .withColumn("cost", cost.cast("long"))
              .withColumn("target_recall",
                          F.lit(float(target_recall)))
              .withColumn("meets_target", meets)
              .drop("__n")
              .join(F.broadcast(meas), "nprobe", "left")
              .withColumn("measured_cost",
                          F.round(F.col("__mc")
                                  + F.col("shortlist").cast("double"),
                                  6))
              .drop("__mc"))
    return (priced.orderBy(
        F.col("meets_target").desc(),
        F.when(F.col("meets_target"), F.col("measured_cost"))
        .asc_nulls_last(),
        F.col("recall").desc(), F.col("cost").asc(),
        F.col("nprobe").asc(), F.col("shortlist").asc())
        .limit(1)
        .select("nprobe", "shortlist", "k", "n_queries", "truth_rows",
                "hits", "recall", "cost", "measured_cost",
                "target_recall", "meets_target"))


def _measured_candidates(spark, table: str, props: dict,
                         nprobes: tuple, sample_ppm: int,
                         emb: DataFrame | None, salt: str,
                         layout: _IvfLayout | None = None) -> DataFrame:
    """Skew-aware per-setting candidate counts for :func:`ann_tune`:
    (nprobe, __mc = avg candidate rows scanned per query). Routes the
    SAME md5 query sample through the SAME centroid-literal argsort
    the serving probes use (rotated first for an OPQ index), joins
    the bounded C-row cell histogram, and averages per query — every
    frame here is bounded by the sample or by C, and the one corpus
    touch is the histogram's map-side-combined count. ``layout``: the
    caller's head over ``props`` (ann_tune's, so the sync check and
    the sidecar reads are not repeated)."""
    layout = layout or _IvfLayout(spark, table, props)
    queries = layout.rotate(_recall_sample(layout, emb, salt,
                                           sample_ppm)[1])
    maxnp = max(int(np_) for np_ in nprobes)
    cells = F.expr(fastexpr.route_cells_sql("embedding", layout.cents,
                                            maxnp))
    fan = queries.select("q_id",
                         F.posexplode(cells).alias("__pos", "cell"))
    sizes = (_tombstones.live_filter(spark, table, props, "vec_id")(
        spark.table(table)).groupBy("cell")
        .agg(F.count(F.lit(1)).alias("__sz")))
    np_df = local_frame(spark, [(int(np_),) for np_ in nprobes],
                        "nprobe int")
    perq = (fan.join(F.broadcast(sizes), "cell", "left")
            .crossJoin(F.broadcast(np_df))
            .where(F.col("__pos") < F.col("nprobe"))
            .groupBy("q_id", "nprobe")
            .agg(F.sum(F.coalesce(F.col("__sz"), F.lit(0)))
                 .alias("__cand")))
    return (perq.groupBy("nprobe")
            .agg(F.round(F.avg(F.col("__cand").cast("double")), 6)
                 .alias("__mc")))


def semdedup(emb: DataFrame, n_clusters: int = 8,
             threshold: float = 0.97, train_iters: int = 0,
             seed_ids: list[int] | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    embedding space, then mark as duplicates the members whose cosine to
    a LOWER-vec_id member of the SAME cluster exceeds ``threshold`` (the
    lowest id of each near-duplicate set survives as the deterministic
    representative). → (vec_id, cluster, is_dup).

    Clustering uses the same pinned deterministic centroids as
    knn_ivf_pinned (corpus rows at evenly spaced ids — a quantizer
    "trained elsewhere and shipped as literals"), so assignment is an
    in-row argmin with ZERO shuffle and the whole pipeline is exact
    closed-form arithmetic a SQL oracle reproduces. ``train_iters>0``
    runs :func:`kmeans_centroids` Lloyd rounds first (the
    ivf_index_write policy: real embedding corpora are clustered, and
    sampled centroids give unbalanced clusters — one hot cluster
    makes the per-cluster |c|×|c| cosine block quadratic in the hot
    fraction, exactly what K bounds exist to prevent).

    Scale shape: the point of SemDeDup is that the O(n²) cosine matrix
    is never formed — pairs exist only WITHIN a cluster. After the
    zero-shuffle assignment, ONE shuffle groups members by cluster and
    an Arrow-batched applyInPandas computes each cluster's |c|×|c|
    cosine block as a single numpy matmul (the paper's own per-cluster
    implementation; |c| ≈ n/K is the knob that bounds both memory and
    work — production runs use K large enough that a cluster fits an
    executor). A per-pair join with expression-evaluated cosines was
    measured 30× slower at 5k vectors — the matmul keeps the O(|c|²)
    inner loop in BLAS, not in the expression interpreter.
    """
    import pandas as pd
    if train_iters > 0:
        cents = kmeans_centroids(emb, k=n_clusters, iters=train_iters,
                                 seed_ids=seed_ids)
    else:
        n = emb.count()
        step = max(1, n // n_clusters)
        cids = [i * step + step // 2 for i in range(n_clusters)]
        cmap = {r.vec_id: [float(v) for v in r.embedding]
                for r in emb.where(F.col("vec_id").isin(cids))
                            .select("vec_id", "embedding").collect()}
        missing = [c for c in cids if c not in cmap]
        if missing:
            raise ValueError(
                f"pinned-centroid quantizer needs dense vec_ids "
                f"0..N-1: centroid rows {missing} absent from the "
                "corpus; re-index ids or use train_iters>0")
        cents = [cmap[c] for c in cids]

    cell = _argmin_cell(cents)
    # null embeddings can't be clustered or compared — drop them here
    # rather than letting one null row kill the per-cluster kernel
    assigned = (emb.where(F.col("embedding").isNotNull())
                .select("vec_id", "embedding", cell.alias("cluster")))

    def mark(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        pdf = pdf.sort_values("vec_id")
        m = np.asarray([np.asarray(e, dtype=np.float64)
                        for e in pdf["embedding"]])
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        mn = m / norms[:, None]
        s = mn @ mn.T
        # is_dup[i] = any j < i (id order) with cos > threshold;
        # mask, don't tril-zero — a negative threshold would count zeros
        lower = np.tril(np.ones(s.shape, dtype=bool), k=-1)
        is_dup = ((s > threshold) & lower).any(axis=1)
        return pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                             "cluster": pdf["cluster"].to_numpy(),
                             "is_dup": is_dup})

    return assigned.groupBy("cluster").applyInPandas(
        mark, schema="vec_id long, cluster int, is_dup boolean")


def knn_ivf_pq(emb: DataFrame, query_vec_id: int, k: int = 5,
               n_centroids: int = 8, nprobe: int = 2,
               m: int = 8, nbits: int = 4) -> DataFrame:
    """IVF-PQ probe with PINNED coarse centroids and PINNED product-
    quantization codebooks — the memory-bound ANN shape (FAISS
    IVFPQ): vectors compress to m sub-codes; the query scans probed
    cells with an ADC lookup table instead of full vectors. At 100 TB
    the PQ codes are 32× smaller than float32 embeddings, which is the
    difference between an in-memory probe and an I/O-bound one.

    Pinning (centroids = every ⌊N/C⌋-th corpus row, codeword j of
    every subspace = row j·⌊N/2^nbits⌋+offset) keeps the whole path —
    cell assignment, sub-code encoding, ADC scoring — exact closed-form
    arithmetic an external SQL engine reproduces; the trained-quantizer
    variants keep their pytest recall bounds. Encoding is an IN-ROW
    argmin per subspace over codeword literals: one corpus scan, zero
    shuffle. Returns (vec_id, adc_dist) — approximate L2², ascending."""
    import numpy as np

    n = emb.count()
    # --- coarse cells (same pinning rule as knn_ivf_pinned) -----------
    step = max(1, n // n_centroids)
    cids = [i * step + step // 2 for i in range(n_centroids)]
    ncw = 1 << nbits
    step2 = max(1, n // ncw)
    cwids = [j * step2 + step2 // 3 for j in range(ncw)]
    want = sorted(set(cids) | set(cwids) | {query_vec_id})
    vecs = {r.vec_id: [float(v) for v in r.embedding]
            for r in emb.where(F.col("vec_id").isin(want))
                        .select("vec_id", "embedding").collect()}
    absent = [c for c in sorted(set(cids) | set(cwids))
              if c not in vecs]
    if absent:
        raise ValueError(
            f"pinned-centroid/codebook rows {absent} absent from the "
            "corpus — PQ pinning needs dense vec_ids 0..N-1")
    cents = [vecs[c] for c in cids]
    cb = [vecs[c] for c in cwids]
    dim = len(cb[0])
    sub = dim // m

    cell = _argmin_cell(cents)

    # --- PQ encode: per-subspace in-row argmin over codeword literals
    # (one parsed SQL string per subspace — fastexpr, r13)
    codes = [fastexpr.argmin_sql([
        fastexpr.l2_sql(f"slice(embedding, {s * sub + 1}, {sub})",
                        cb[j][s * sub:(s + 1) * sub])
        for j in range(ncw)]) for s in range(m)]

    # --- query-side: probe cells + ADC lookup table (driver numpy) ----
    if query_vec_id not in vecs:
        raise ValueError(f"query vec_id {query_vec_id} not in corpus")
    q = np.asarray(vecs[query_vec_id], dtype=np.float64)
    dc = [(float(((np.asarray(c) - q) ** 2).sum()), i)
          for i, c in enumerate(cents)]
    probe_cells = [i for _, i in sorted(dc)[:nprobe]]
    qd = [[float(((q[s * sub:(s + 1) * sub]
                   - np.asarray(cb[j][s * sub:(s + 1) * sub])) ** 2).sum())
           for j in range(ncw)] for s in range(m)]

    adc = F.expr(" + ".join(
        f"element_at({fastexpr.darr(qd[s])}, ({codes[s]}) + 1)"
        for s in range(m)))

    return (emb.withColumn("cell", cell)
            .where(F.col("cell").isin(probe_cells))
            .where(F.col("vec_id") != query_vec_id)
            .select("vec_id", F.round(adc, 6).alias("adc_dist"),
                    adc.alias("_d"))
            .orderBy(F.asc("_d"), F.asc("vec_id"))
            .limit(k)
            .drop("_d"))


def knn_lsh(emb: DataFrame, query_vec_id: int, k: int = 5,
            planes: int = 8, portable: bool = False) -> DataFrame:
    """Approximate top-k: search only the query's SRP bucket. At scale the
    bucketed table is written partitioned by bucket → the probe prunes to
    1/2^planes of the corpus."""
    bucketed = random_hyperplane_buckets(emb, planes=planes,
                                         portable=portable)
    qrow = bucketed.where(F.col("vec_id") == query_vec_id) \
                   .select(F.col("embedding").alias("qe"),
                           F.col("bucket").alias("qb"))
    cos = cosine_similarity(F.col("embedding"), F.col("qe"))
    return (bucketed.join(F.broadcast(qrow), F.col("bucket") == F.col("qb"))
            .where(F.col("vec_id") != query_vec_id)
            .select("vec_id", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def kmeans_centroids(emb: DataFrame, k: int = 8, iters: int = 2,
                     seed_ids: list[int] | None = None,
                     sample_ppm: int | None = None
                     ) -> list[list[float]]:
    """The TRAINING half of :func:`kmeans_fit`: run ``iters`` Lloyd
    rounds and return the trained centroid list — bounded model state
    (K·d floats), never the corpus. Same determinism contract as
    kmeans_fit (hash-order seeds on any id space, lower-cluster tie
    break, empty-cluster carryover, double arithmetic); split out so
    :func:`ivf_index_write` can train its quantizer with the exact
    arithmetic an external SQL engine replays. ``sample_ppm`` trains
    on a deterministic md5-bucket subsample (:func:`_train_sample` —
    hash-order seeding and the Lloyd rounds see only the sample;
    EXPLICIT ``seed_ids`` resolve against the full corpus, since the
    caller pinned those exact rows), capping per-round cost at sample
    size instead of a full corpus scan — assignment downstream still
    covers every row."""
    full = emb.where(F.col("embedding").isNotNull())
    # persist the (bounded) training frame for the seed pick + every
    # Lloyd round (r13, guide §5) — otherwise each round is a fresh
    # corpus scan through the sample predicate; consumed entirely
    # within this call
    corpus = _train_sample(full, sample_ppm,
                           "kmeans_centroids").persist()
    try:
        return _kmeans_rounds(corpus, full, k, iters, seed_ids)
    finally:
        corpus.unpersist()


def _kmeans_rounds(corpus: DataFrame, full: DataFrame, k: int,
                   iters: int, seed_ids: list[int] | None
                   ) -> list[list[float]]:
    if seed_ids is not None:
        # explicit pinned seeds (callers that know the data layout,
        # e.g. one per planted blob); seed order = cluster id
        if len(seed_ids) != k:
            raise ValueError(
                f"kmeans_fit: {len(seed_ids)} seed_ids for k={k}")
        cmap = {r.vec_id: [float(v) for v in r.embedding]
                for r in full.where(F.col("vec_id").isin(seed_ids))
                             .select("vec_id", "embedding").collect()}
        missing = [s for s in seed_ids if s not in cmap]
        if missing:
            raise ValueError(
                f"kmeans_fit: seed rows {missing} absent from the "
                f"corpus (or have null embeddings)")
        cents = [cmap[s] for s in seed_ids]
    else:
        # hash-order seed pick: TakeOrderedAndProject ships only k
        # rows to the driver (bounded model state, never the corpus)
        seeds = (corpus.select(
                     "vec_id", "embedding",
                     F.md5(F.col("vec_id").cast("string").cast("binary"))
                     .alias("__h"))
                 .orderBy("__h", "vec_id").limit(k).collect())
        if len(seeds) < k:
            raise ValueError(
                f"kmeans_fit needs at least k={k} rows with non-null "
                f"embeddings, found {len(seeds)}")
        cents = [[float(v) for v in r.embedding] for r in seeds]

    for _ in range(iters):
        # withColumn-then-select: a Generate (posexplode) in the same
        # select drops the struct field aliases inside the argmin
        means = (corpus.withColumn("cluster", _argmin_cell(cents))
                 .select("cluster",
                         F.posexplode("embedding").alias("dim", "v"))
                 .groupBy("cluster", "dim")
                 .agg(F.avg(F.col("v").cast("double")).alias("v"))
                 .collect())
        nxt = [list(c) for c in cents]        # empty-cluster carryover
        for r in means:
            nxt[r.cluster][r.dim] = float(r.v)
        cents = nxt
    return cents


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 2,
               seed_ids: list[int] | None = None) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column → final
    cluster assignment (vec_id, cluster) after ``iters`` centroid
    updates. This is the TRAINING pass the IVF/SemDeDup quantizers
    assume was "trained elsewhere" (reference analog: the clustering
    stage of arXiv:2303.09540 §2; Spark MLlib's KMeans is the library
    shape but its init/tie-breaks aren't reproducible across engines —
    this one is exact closed-form arithmetic end-to-end).

    Determinism: init picks the k corpus rows with the smallest
    (md5(vec_id), vec_id) — a deterministic hash-order sample that
    works on ANY id space (sparse, negative, non-contiguous) and that
    an external SQL engine replays verbatim (md5 of the decimal id
    string is engine-independent); seed rank = cluster id. Assignment
    ties break toward the lower cluster id; empty clusters carry
    their previous centroid; all arithmetic is double on float32
    inputs, so the rounds replay bit-comparably (integral output —
    no float hashing). Null embeddings never seed or assign.

    Scale shape per iteration: assignment is a pure IN-ROW argmin over
    K literal centroids (zero shuffle, one corpus scan, whole-stage
    codegen); the update is posexplode → groupBy(cluster, dim).avg
    whose map-side partial collapses each partition to ≤ K·d rows
    before the exchange, and only the K·d result (bounded model state,
    like the pinned-centroid collects above) ever reaches the driver.
    The corpus is never collected, broadcast, or pairwise-joined."""
    cents = kmeans_centroids(emb, k=k, iters=iters, seed_ids=seed_ids)
    return (emb.where(F.col("embedding").isNotNull())
            .select("vec_id", _argmin_cell(cents).alias("cluster")))


def embedding_moments(emb: DataFrame, d: int) -> DataFrame:
    """Distributed second-moment pass over an embedding column →
    ONE row (n, sum[d], gram[d*d]): the sufficient statistics for
    mean/covariance/PCA. The covariance path every
    embedding-analytics stage (PCA whitening, SemDeDup
    cluster-shape audits, drift monitors) starts from.

    Scale shape: each partition folds its rows into ONE d×d Gram
    matrix with a single BLAS matmul (Arrow-batched mapInPandas — the
    per-element expression equivalent explodes n·d² rows, a 4096×
    amplification at d=64); the partials then tree-reduce through a
    posexplode → groupBy(idx) SUM whose map-side combine ships d²+d+1
    values per partition, so no driver ever sees more than the d²
    result. The corpus is scanned exactly once."""
    import pandas as pd
    import numpy as np

    def gram(batches):
        g = np.zeros((d, d)); s = np.zeros(d); c = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g += m.T @ m
            s += m.sum(axis=0)
            c += len(m)
        yield pd.DataFrame({"c": [c], "v": [s.tolist() + g.ravel().tolist()]})

    parts = (emb.where(F.col("embedding").isNotNull())
             .select("embedding")
             .mapInPandas(gram, "c long, v array<double>"))
    reduced = (parts.select(F.col("c"), F.posexplode("v").alias("i", "x"))
               .groupBy("i").agg(F.sum("x").alias("x"),
                                 F.sum("c").alias("c")))
    # n rides every (i, x) row; d²+d bounded rows total
    return reduced


def _moments_arrays(emb: DataFrame, d: int):
    """Collect the bounded d²+d moment rows once → (n, mean[d],
    exx[d,d]) numpy arrays. The collect is model-sized driver control
    data (≈ d² doubles), same policy as the pinned-centroid collects —
    a DataFrame-side assembly was measured to branch the plan and
    re-run the corpus Gram pass three times (mean×2 + gram)."""
    import numpy as np

    rows = embedding_moments(emb, d).collect()
    n = rows[0].c if rows else 0
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in rows:
        if r.i < d:
            s[r.i] = r.x
        else:
            g[(r.i - d) // d, (r.i - d) % d] = r.x
    if n == 0:
        raise ValueError("no non-null embeddings to aggregate")
    return n, s / n, g / n


def covariance_long(emb: DataFrame, d: int,
                    decimals: int = 6) -> DataFrame:
    """Embedding covariance in long form (i, j, cov) for i ≤ j, from
    ONE :func:`embedding_moments` corpus pass: cov = E[xᵢxⱼ] − μᵢμⱼ,
    assembled driver-side from the bounded moments (the result is d²
    values — model, not data) and returned as a local relation.
    Rounded at ``decimals`` (6: the engines agree to ~1e-14 abs, and
    4 dp would flatten the small off-diagonal entries to zero);
    ``+ 0.0`` folds IEEE −0.0 to +0.0 (DuckDB's ROUND emits −0.0 for
    tiny negatives and the value hash distinguishes the two)."""
    _, mu, exx = _moments_arrays(emb, d)
    cov = exx - mu[:, None] * mu[None, :]
    data = [(i, j, round(float(cov[i, j]), decimals) + 0.0)
            for i in range(d) for j in range(i, d)]
    return local_frame(emb.sparkSession,
                       data, "i int, j int, cov double")


def pca_project(emb: DataFrame, d: int, q: int = 4) -> DataFrame:
    """PCA projection onto the top-``q`` principal components: fit =
    one distributed moments pass (covariance is d×d, bounded) + a
    driver-side eigendecomposition of the d×d matrix (numpy eigh —
    model-sized work, like the k-means centroid update); project =
    the same literal-fold in-row HOFs as random_projection (zero
    shuffle, components ship in the plan). Eigenvector sign is fixed
    by making each component's largest-|coefficient| entry positive,
    so output is deterministic. → (vec_id, dim, val)."""
    import numpy as np

    _, mu, exx = _moments_arrays(emb, d)
    cov = exx - mu[:, None] * mu[None, :]
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:q]
    comps = v[:, order].T                                   # q × d
    for ci in range(q):
        amax = int(np.argmax(np.abs(comps[ci])))
        if comps[ci][amax] < 0:
            comps[ci] = -comps[ci]

    arr = F.expr("array(" + ", ".join(
        fastexpr.dot_sql("embedding", comps[ci])
        for ci in range(q)) + ")")
    return (emb.where(F.col("embedding").isNotNull())
            .withColumn("_p", arr)
            .select("vec_id", F.posexplode("_p").alias("dim", "val"))
            .select("vec_id", F.col("dim").cast("int").alias("dim"),
                    F.round("val", 4).alias("val")))
