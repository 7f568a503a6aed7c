"""Plan-evidence tests: the SCALE.md claims as executable assertions.
Each test inspects the physical plan (pre-execution, AQE initial plan)
for the strategy the 100-TB story depends on — pushdown reaching the
parquet scan, broadcast vs shuffle join choices, no cartesian products.
"""

import datetime as dt

import numpy as np
import pytest

from georiva_spark.operators import regrid
from georiva_spark.queries import QUERIES
from georiva_spark.testing import grid_from_arrays

SF = "/root/testdata/sf0.001"
T0 = dt.datetime(2020, 1, 1)


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    """P2 time filter must ride the scan (PushedFilters), not a
    post-scan Filter over all rows."""
    plan = _plan(QUERIES["time_filter"](spark, SF))
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    assert "DataFilters: [isnotnull(o_orderdate" in scan
    assert "o_orderdate" in scan.split("DataFilters:", 1)[1]


def test_pricing_summary_prunes_columns(spark):
    """Column pruning: the lineitem scan reads only the referenced
    columns, far fewer than the table's 16."""
    plan = _plan(QUERIES["pricing_summary"](spark, SF))
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_regional_revenue_broadcasts_bounded_dims(spark):
    """Bounded dims (region/nation) broadcast; the fact side is never
    the build side of a nested loop."""
    plan = _plan(QUERIES["regional_revenue"](spark, SF))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zonal_mask_broadcast_no_fact_shuffle_for_tagging(spark):
    """J3: the scanline runs join onto the grid via broadcast — the fact
    table is not exchanged before the tagging join — and no Python UDF
    sits anywhere on the zonal / area request path."""
    for q in ("zonal_stats", "zonal_rollup", "area_timeseries"):
        plan = _plan(QUERIES[q](spark, SF))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, q
        assert "CartesianProduct" not in plan, q
        assert "ArrowEvalPython" not in plan, q
        assert "BatchEvalPython" not in plan, q


def test_zonal_mask_gate_broadcasts_small_shuffles_large(spark):
    """J3 at 100× scale: past broadcast_max_mask_rows scanline RUNS the
    tagging join falls back to a shuffle instead of force-broadcasting
    a run table that could exceed executor memory on a fine or
    curvilinear grid — goldens unchanged either way (same join,
    different strategy). The box tags three of the four pixel rows (the
    centres on its north edge fall outside under the half-open edge
    rule), one run each, so a gate of 2 sits under its run count."""
    from georiva_spark.operators import zonal
    g = grid_from_arrays(spark, np.ones((4, 4)), [T0],
                         lat0=0.5, lon0=0.5, res=1.0)
    box = ('{"type":"Polygon","coordinates":'
           '[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}')
    b = [(1, 0, "box", box)]
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = zonal.tag_pixels(g, b)
        assert "BroadcastHashJoin" in _plan(small)   # hinted
        large = zonal.tag_pixels(g, b, broadcast_max_mask_rows=2)
        plan = _plan(large)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert sorted((r.y, r.x) for r in small.collect()) == \
            sorted((r.y, r.x) for r in large.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_bilinear_broadcasts_small_target_shuffles_large(spark):
    """Small targets carry an explicit broadcast hint (survives even
    with auto-broadcast off); past broadcast_max_targets the hint is
    withheld so the planner can fall back to a shuffle join instead of
    force-broadcasting a grid-sized lattice (driver OOM at scale)."""
    g = grid_from_arrays(spark, np.ones((4, 4)), [T0])
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = regrid.regrid_bilinear(g, src=(0, 0, 1.0), dst=(0, 0, 0.5),
                                       dst_shape=(8, 8), src_shape=(4, 4))
        assert "BroadcastHashJoin" in _plan(small)   # hinted
        large = regrid._regrid_bilinear(g, src=(0, 0, 1.0),
                                        dst=(0, 0, 0.5),
                                        dst_shape=(8, 8), src_shape=(4, 4),
                                        broadcast_max_targets=4)
        plan = _plan(large)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_minhash_ships_no_signature_through_band_shuffle(spark):
    """The band self-join must carry only (doc_id, band, bucket) — the
    64-long signature array stays out of the candidate exchange."""
    docs = spark.createDataFrame(
        [(i, f"doc {i} text body words", "en", "s", 20) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long")
    from georiva_spark.operators import dedup
    plan = _plan(dedup.minhash_lsh_pairs(docs, threshold=0.1))
    # candidate join keys are band+bucket; dropDuplicates on ids only
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_lm_score_broadcasts_vocab(spark):
    """The LM scoring join must broadcast the bounded vocab — the token
    stream is never the build side and never crosses a cartesian."""
    plan = _plan(QUERIES["lm_score"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_utm_project_stays_in_codegen(spark):
    """The Krüger/Snyder column math must be pure JVM expressions — no
    Python UDF (Batch/ArrowEvalPython) anywhere in the plan; the only
    exchange is the distinct's."""
    plan = _plan(QUERIES["utm_project"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert phys.count("Exchange") <= 2     # distinct's partial+final only


def test_knn_ivf_pinned_assignment_in_row(spark):
    """Pinned-centroid IVF: cell assignment is in-row argmin over
    centroid literals — the corpus join graph has no cartesian and no
    per-row Python."""
    plan = _plan(QUERIES["knn_ivf"](spark, SF))
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", "")          # 1-row query broadcast ok
    assert "BatchEvalPython" not in plan


def test_bpe_tokenize_zero_shuffle(spark):
    """The pinned-merge BPE chain is pure in-row expressions — the plan
    must contain NO Exchange at all (a tokenization that shuffles the
    corpus would be wrong at any scale)."""
    plan = _plan(QUERIES["bpe_tokenize"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in phys
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys


def test_gopher_rules_zero_shuffle_no_python(spark):
    plan = _plan(QUERIES["gopher_rules"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in phys
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys


def test_line_dedup_shuffles_hashes_not_text(spark):
    """The line-frequency exchange must carry the 64-bit line hash, not
    the line string: the hash column feeds hashpartitioning."""
    plan = _plan(QUERIES["line_dedup"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning(lh#" in phys


def test_url_dedup_no_window_sort(spark):
    """One hash aggregation, no Window operator, no global Sort — the
    winner-per-URL policy must be max_by, not row_number."""
    plan = _plan(QUERIES["url_dedup"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Window" not in phys
    assert "max_by" in phys or "HashAggregate" in phys


def test_semdedup_single_cluster_shuffle(spark):
    """Assignment is in-row (no join/exchange before the cluster
    groupBy); exactly one hashpartitioning on the cluster key feeds the
    per-cluster kernel."""
    plan = _plan(QUERIES["semdedup"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("hashpartitioning(cluster#") == 1
    assert "CartesianProduct" not in phys and "BroadcastNestedLoop" \
        not in phys


def test_c4_rules_is_scan_speed(spark):
    """c4_rules is a pure in-row expression chain: no Exchange, no
    Python eval in the physical plan."""
    plan = _plan(QUERIES["c4_rules"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in phys
    assert "BatchEvalPython" not in phys
    assert "ArrowEvalPython" not in phys


def test_fasttext_score_partial_agg_no_python(spark):
    """fasttext_score explodes features and collapses them map-side:
    the only shuffle key is doc_id (partial agg), the weight table is a
    literal array (no weight join), and nothing drops to Python."""
    plan = _plan(QUERIES["fasttext_score"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "hashpartitioning(doc_id#" in phys
    assert "BatchEvalPython" not in phys
    assert "ArrowEvalPython" not in phys
    assert "CartesianProduct" not in phys


def test_temperature_mix_is_scan_predicate(spark):
    """r11: counts, isqrt weights, and thresholds all derive IN the
    plan from a bounded #strata-row agg that broadcast-joins back —
    the corpus side stays a scan (its only join is the broadcast hash
    join; no CASE-chain thresholds, no driver collect at composition
    time), every shuffle keys on the bounded stratum frame (never
    doc_id), and nothing drops to Python."""
    plan = _plan(QUERIES["temperature_mix"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys
    for ln in phys.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert ("__sb_s" in ln or "lang#" in ln) \
                and "doc_id" not in ln, ln
    assert "BatchEvalPython" not in phys


def test_lm_bigram_broadcast_model_joins(spark):
    """Stupid-Backoff scoring joins the token stream against BROADCAST
    model tables (bounded bigram table + vocab) — no shuffle join of
    the corpus against the model, no cartesian."""
    plan = _plan(QUERIES["lm_bigram"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys or "BroadcastExchange" in phys
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoop" not in phys
    assert "BatchEvalPython" not in phys


def test_dup_spans_skew_safe_df_no_gram_window(spark):
    """r5 shape: document frequency is a two-level aggregation
    (groupBy(gram, doc_id) → groupBy(gram).count(), map-side partial
    both levels) joined back to the persisted position table — NOT a
    window over the gram partition (un-splittable by AQE when a
    boilerplate gram hits millions of docs). Assert: an equi-join on
    gram exists (AQE-skew-splittable), no cartesian, and the only
    Window left is the per-doc island merge (partitioned by doc_id,
    never by gram)."""
    plan = _plan(QUERIES["dup_spans"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    phys = plan.split("== Physical Plan ==")[-1]
    assert ("SortMergeJoin" in phys or "ShuffledHashJoin" in phys
            or "BroadcastHashJoin" in phys)
    # no window partitioned on the gram hash; island merge windows on
    # doc_id only
    for line in phys.splitlines():
        if "Window [" in line or line.strip().startswith("Window"):
            assert "gram#" not in line, line
            assert "doc_id#" in line, line


def test_video_scenes_partitions_by_media(spark):
    """scene_cuts' lag window partitions by media_id — state is one
    video's frames, never a global sort."""
    plan = _plan(QUERIES["video_scenes"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Window" in phys
    assert "hashpartitioning(media_id#" in phys
    assert "CartesianProduct" not in phys


def test_audio_spectrum_no_shuffle(spark):
    """audio_spectrum is a pure per-clip decode: no exchange other than
    the scan's own output."""
    plan = _plan(QUERIES["audio_spectrum"](spark, SF))
    import re
    n_ex = len(re.findall(r"Exchange", plan))
    assert n_ex == 0, plan


def test_split_assign_zero_exchange(spark):
    """split_assign is a pure scan-stage projection — no Exchange, no
    Python, the md5-bucket CASE runs in whole-stage codegen."""
    plan = _plan(QUERIES["split_assign"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in phys
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys


def test_kmeans_fit_assignment_in_row_no_python(spark):
    """kmeans_fit's final assignment is an in-row argmin over K literal
    centroids: no Python eval, no cartesian, and the only exchange in
    the FINAL plan is none at all (the per-iteration update shuffles
    K*d partials, but the returned assignment is scan -> project)."""
    plan = _plan(QUERIES["kmeans_fit"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys
    assert "CartesianProduct" not in phys
    assert "Exchange" not in phys


def test_bm25_broadcasts_model_sides_never_sorts_corpus(spark):
    """BM25: idf table and query terms join the corpus stream as
    BROADCASTS (map-side); the corpus is never globally sorted — the
    only Sort is inside the bounded per-query top-k window."""
    plan = _plan(QUERIES["bm25_topk"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in phys
    assert "BatchEvalPython" not in phys


def test_random_proj_zero_shuffle_no_python(spark):
    """The JL projection is pure in-row HOFs: no exchange, no Python."""
    plan = _plan(QUERIES["random_proj"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in phys
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys


def test_embed_cov_moments_one_gram_pass_bounded_shuffle(spark):
    """Covariance: the distributed part is ONE Arrow-batched Gram pass
    (mapInPandas) whose output is one row per partition BEFORE any
    exchange — the only shuffle moves the bounded d²+d partials, and
    the returned covariance itself is a local (model-sized) relation."""
    import pyspark.sql.functions as SF_
    from georiva_spark.operators import similarity
    from georiva_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(similarity.embedding_moments(emb, 64))
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("MapInPandas") == 1
    assert "BatchEvalPython" not in phys
    # the exchange sits ABOVE the Gram partials: partial_sum before it
    assert "partial_sum" in phys
    cov_plan = _plan(QUERIES["embed_cov"](spark, SF))
    assert "FileScan" not in cov_plan.split("== Physical Plan ==")[-1]


def test_asof_join_one_key_shuffle_no_join(spark):
    """As-of: the union-tag shape means NO join operator at all — one
    exchange on the key feeds one window sort."""
    plan = _plan(QUERIES["asof_join"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Join" not in phys          # no SortMergeJoin/BroadcastHashJoin
    assert "Window" in phys
    assert phys.count("Exchange hashpartitioning") == 1


def test_range_join_binned_equi_join_no_theta(spark):
    """Range join: the bin key turns the interval-overlap theta join
    into an equi-join — no cartesian, no broadcast-nested-loop."""
    plan = _plan(QUERIES["range_join"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "bin" in phys


def test_image_dup_pairs_band_join_no_cartesian(spark):
    """Image near-dup: candidates come from the pigeonhole band
    equi-join — never an all-pairs product — and identical codes are
    pre-collapsed (HashAggregate on the code) before banding, so a
    hot code (black frames) contributes ONE row per band."""
    plan = _plan(QUERIES["image_dup_pairs"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "HashAggregate(keys=[dhash" in phys   # distinct codes band
    assert "Union" in phys                       # cross + within pairs


def test_train_classifier_weights_in_row_no_python(spark):
    """Classifier scoring joins the weight vector as a literal array
    lookup — no Python anywhere, no cartesian; the only exchanges are
    the feature build and the per-doc/per-bucket reductions."""
    plan = _plan(QUERIES["train_classifier"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys
    assert "CartesianProduct" not in phys


def test_audio_dup_pairs_band_join_no_cartesian(spark):
    """112-bit multiword fingerprints: banding on hex nibbles of the
    distinct codes, identical codes pre-collapsed (silence clips)."""
    plan = _plan(QUERIES["audio_dup_pairs"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "HashAggregate(keys=[fp" in phys      # distinct codes band


def test_video_dup_pairs_band_join_no_cartesian(spark):
    """96-bit multiword fingerprints: banding on hex nibbles of the
    distinct codes, identical codes pre-collapsed (black frames)."""
    plan = _plan(QUERIES["video_dup_pairs"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "HashAggregate(keys=[fp" in phys      # distinct codes band


def test_ivf_index_probe_partition_pruning(spark):
    """The persistent IVF index exists for this plan property: the
    probe's cell predicate reaches the scan as PartitionFilters —
    file-listing-level pruning to nprobe/C of the corpus — and the
    centroid sidecar never joins the corpus (driver-side cell pick)."""
    plan = _plan(QUERIES["ivf_index"](spark, SF))
    scan = [ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and "t_ivfidx" in ln][0]
    pf = scan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "cell" in pf                      # pruned at listing time
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys


def test_ivf_probe_batch_static_pruning_one_join(spark):
    """Batch ANN serving: one broadcast join answers every query, and
    the index scan's PartitionFilters cover only the probed-cell
    union — never the whole corpus, never a cartesian."""
    plan = _plan(QUERIES["ivf_probe_batch"](spark, SF))
    scan = [ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and "t_ivfidxb" in ln][0]
    assert "cell" in scan.split("PartitionFilters:", 1)[1].split("]")[0]
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys


def test_ivf_pq_probe_batch_ships_no_embeddings(spark):
    """The PQ serving join moves no float embeddings in EITHER
    direction: the index scan reads (vec_id, pq_code) under a cell
    partition filter, and the query fan-out carries the bounded ADC
    array instead of the embedding."""
    plan = _plan(QUERIES["ivf_pq_probe_batch"](spark, SF))
    scan = [ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and "t_ivfpqb" in ln
            and "codebook" not in ln and "centroids" not in ln][0]
    assert "cell" in scan.split("PartitionFilters:", 1)[1].split("]")[0]
    read = scan.split("ReadSchema:", 1)[1]
    assert "embedding" not in read and "pq_code" in read
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys


@pytest.mark.parametrize("layout", ["float", "pq"])
def test_ivf_probe_batch_gate_broadcasts_small_shuffles_large(spark,
                                                              layout):
    """probe_batch at 100× scale, on either index layout: up to
    max_broadcast_queries the query fan-out is broadcast-hinted
    (shuffle-free serving join); past the gate the hint is withheld
    so a 50 M-query backlog joins as a shuffle on cell instead of
    force-broadcasting into an executor OOM — results identical
    either way, and the static PartitionFilters pruning survives both
    shapes."""
    import os
    import tempfile

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(5 if layout == "float" else 13)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(64)],
        "vec_id long, embedding array<double>")
    t = f"t_gate_{layout}"
    d = os.path.join(tempfile.gettempdir(), f"georiva_spark_{t}")
    if layout == "float":
        similarity.ivf_index_write(emb, t, os.path.join(d, "i"),
                                   n_centroids=4)
    else:
        similarity.ivf_pq_index_write(emb, t, os.path.join(d, "i"),
                                      n_centroids=4, m=4, nbits=3)
    qs = (emb.where("vec_id in (0, 1, 2)")
          .selectExpr("vec_id as q_id", "embedding"))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = similarity.ivf_index_probe_batch(
            spark, t, qs, k=3, nprobe=2, exclude_self=True)
        assert "BroadcastHashJoin" in _plan(small)    # hinted
        large = similarity.ivf_index_probe_batch(
            spark, t, qs, k=3, nprobe=2, exclude_self=True,
            max_broadcast_queries=0)
        plan = _plan(large)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        scan = [ln for ln in plan.splitlines()
                if "FileScan parquet" in ln and t in ln
                and "codebook" not in ln and "centroids" not in ln][0]
        assert "cell" in scan.split("PartitionFilters:", 1)[1].split("]")[0]
        assert sorted(map(tuple, small.collect())) == \
            sorted(map(tuple, large.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for sc in ("", "_centroids", "_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{sc}")


def test_ivf_pq_refine_batch_joins_not_enumerates(spark):
    """The batch refine's stage-2 must be a JOIN against the float
    table — zero driver collects of candidate ids, no IN-literal
    filter in the plan (the r7 per-query refine's un-loopable shape);
    broadcast under the gate, shuffle past it, identical results
    either way, and per-query results equal to N per-query refines."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(31)
    centers = rng.normal(size=(4, 8)) * 4
    vecs = (np.repeat(centers, 25, axis=0)
            + rng.normal(scale=0.3, size=(100, 8)))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<double>")
    import os
    import tempfile
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_pqrb")
    similarity.ivf_pq_index_write(emb, "t_pqrb", os.path.join(d, "i"),
                                  n_centroids=4, m=4, nbits=3)
    # a range predicate, not IN — so ANY vec_id IN/INSET in the plan
    # is the forbidden shortlist enumeration, not this query filter
    qs = emb.where("vec_id < 3").selectExpr("vec_id as q_id", "embedding")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = similarity.ivf_pq_index_refine_batch(
            spark, "t_pqrb", emb, qs, k=3, nprobe=2, shortlist=20,
            exclude_self=True)
        plan = _plan(small)
        phys = plan.split("== Physical Plan ==")[-1]
        # the float side is JOINED on vec_id, never enumerated as an
        # IN/INSET literal (the old per-query shape); the cell IN (...)
        # partition filter from stage 1 is expected and allowed
        import re
        assert not re.search(r"vec_id#\d+L? (IN|INSET) ", phys)
        assert "CartesianProduct" not in phys
        assert "BroadcastNestedLoopJoin" not in phys
        assert "BroadcastHashJoin" in phys
        large = similarity.ivf_pq_index_refine_batch(
            spark, "t_pqrb", emb, qs, k=3, nprobe=2, shortlist=20,
            exclude_self=True, max_broadcast_queries=0)
        lphys = _plan(large).split("== Physical Plan ==")[-1]
        assert "SortMergeJoin" in lphys or "ShuffledHashJoin" in lphys
        got_small = sorted(map(tuple, small.collect()))
        assert got_small == sorted(map(tuple, large.collect()))
        # agrees with N per-query refines (the driver-hop shape it
        # replaces)
        per_q = []
        for q in (0, 1, 2):
            qv = [float(v) for v in vecs[q]]
            for r in similarity.ivf_pq_index_refine(
                    spark, "t_pqrb", emb, qv, k=3, nprobe=2,
                    shortlist=20, exclude_vec_id=q).collect():
                per_q.append((q, r.vec_id, r.cosine))
        assert got_small == sorted(per_q)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for t in ("t_pqrb", "t_pqrb_centroids", "t_pqrb_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_shuffle_shards_and_token_budget_one_exchange(spark):
    """The r8 sampling ops keep the documented shuffle budget: the
    shard shuffle exchanges ONCE on the shard key (per-shard sorts are
    window-local, no global sort operator over the corpus), and the
    token-budget draw exchanges ONCE — and (r9) on the COMPOSITE
    (stratum, coarse-bucket) key, never the stratum alone: a dominant
    stratum (English at >40% of a web corpus) must spread over
    coarse_buckets window tasks, not funnel through one reducer. The
    bounded offsets frame rides a broadcast join (the pre-boundary
    prune), not a shuffle."""
    plan = _plan(QUERIES["shuffle_shards"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    n_ex = phys.count("Exchange hashpartitioning")
    assert n_ex == 1, f"shuffle_shards: {n_ex} hash exchanges (want 1)"
    assert "Exchange rangepartitioning" not in phys  # no global sort
    assert "CartesianProduct" not in phys
    # token_budget: the CORPUS shuffles exactly once — the window
    # exchange keyed by (stratum, __tb_coarse), never the stratum
    # alone. Two more exchanges exist but sit on the bounded offsets
    # branch BEHIND a map-side partial aggregate (only strata×coarse
    # histogram rows ever shuffle there), feeding the broadcast join
    # that prunes post-boundary buckets.
    plan = _plan(QUERIES["token_budget"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("Exchange hashpartitioning") == 3
    assert "Exchange rangepartitioning" not in phys
    assert "CartesianProduct" not in phys
    main_ex = [ln for ln in phys.splitlines()
               if "Exchange hashpartitioning" in ln][0]
    assert "__tb_coarse" in main_ex     # two-phase: never 1 task/stratum
    assert "BroadcastHashJoin" in phys  # bounded offsets broadcast
    # the histogram branch combines map-side BEFORE its exchange
    hist_part = phys.split("BroadcastExchange", 1)[1]
    assert "partial_sum" in hist_part.split(
        "Exchange hashpartitioning")[-1]
    # epoch up-sampling: the full-epoch fan-out is an in-row sequence
    # explode behind a broadcast join (zero exchange); the crossing
    # epoch pays the (stratum, coarse) window, and its extra
    # exchanges sit on the bounded offsets branch behind a map-side
    # partial aggregate (the token_budget shape). r10: the crossing-
    # epoch plan itself (n_full, residual, salt per stratum) is now
    # DERIVED IN-PLAN from the totals agg — no per-stratum driver
    # literals, so the plan must contain NO LocalTableScan and the
    # totals-agg exchange rides each union subtree textually (its
    # broadcast exchange canonicalizes identically → ReuseExchange
    # materializes it once at runtime)
    plan = _plan(QUERIES["token_budget_epochs"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "LocalTableScan" not in phys   # nothing strata-sized driven
    n_ex = phys.count("Exchange hashpartitioning")
    assert n_ex == 6, f"token_budget_epochs: {n_ex} hash exchanges"
    assert any("__tbe_coarse" in ln for ln in phys.splitlines()
               if "Exchange hashpartitioning" in ln)
    assert "partial_sum" in phys        # histogram combines map-side
    assert "Exchange rangepartitioning" not in phys
    assert "CartesianProduct" not in phys
    # the datacard cube: ONE exchange with a map-side partial in front
    # (expand ships <= 2^dims partial rows per observed group per map
    # task), no sort anywhere
    plan = _plan(QUERIES["corpus_stats"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("Exchange hashpartitioning") == 1
    pre = phys.split("Exchange hashpartitioning")[1]
    assert "HashAggregate" in pre        # partial agg below the exchange
    assert "Sort" not in phys and "Expand" in phys
    # the quality cut (r11 — single in-plan path): thresholds derive
    # from windows over the BOUNDED strata×bins histogram and
    # broadcast-join back — the corpus side's only join is the
    # broadcast hash join, every hash exchange and sort keys on the
    # bounded histogram frame (__s/__b), never on doc_id, and no
    # driver collect happens at composition time
    plan = _plan(QUERIES["quality_threshold"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys
    for ln in phys.splitlines():
        if "Exchange hashpartitioning" in ln or "Sort " in ln:
            assert ("__s#" in ln or "__b#" in ln or "lang#" in ln
                    or "_groupingexpression#" in ln), ln
            assert "doc_id" not in ln, ln


def test_ann_tune_measured_pricing_is_bounded(spark, tmp_path):
    """r11 measured (skew-aware) tune pricing: the per-setting
    candidate-count frame touches the corpus exactly once — the
    C-row cell histogram's map-side-combined agg — and everything
    downstream (query fan × nprobes, the per-query sums) is bounded
    by the sample: the histogram joins back as a BROADCAST, no
    sort-merge join, no cartesian, nothing drops to Python."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)])
         for i in range(200)],
        "vec_id long, embedding array<double>")
    t = "t_mcplan"
    try:
        similarity.ivf_index_write(emb, t, str(tmp_path / "i"),
                                   n_centroids=4, train_iters=1)
        props = {r.key: r.value for r in
                 spark.sql(f"SHOW TBLPROPERTIES {t}").collect()}
        mc = similarity._measured_candidates(spark, t, props, (1, 2),
                                             80_000, None, "recall")
        phys = (mc._jdf.queryExecution().toString()
                .split("== Physical Plan ==")[-1])
        assert "BroadcastHashJoin" in phys           # histogram join
        assert "BroadcastNestedLoopJoin" in phys \
            or "CartesianProduct" not in phys        # tiny nprobe frame
        assert "SortMergeJoin" not in phys
        assert "BatchEvalPython" not in phys
        assert "ArrowEvalPython" not in phys
        # corpus-side exchanges only for the bounded histogram (cell
        # keys) and the bounded per-query agg (q_id, nprobe) — never
        # an embedding-carrying corpus shuffle
        for ln in phys.splitlines():
            if "Exchange hashpartitioning" in ln:
                assert ("cell#" in ln or "q_id#" in ln
                        or "nprobe#" in ln), ln
                assert "embedding" not in ln, ln
    finally:
        for s in ("", "_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS t_mcplan{s}")


def test_ivf_filtered_probe_pushes_predicate_to_scan(spark):
    """Filtered ANN (r8): the metadata predicate reaches the index
    scan as a PushedFilter alongside the cell PartitionFilters —
    non-matching candidates are dropped at the parquet reader, before
    any distance math or the serving join."""
    plan = _plan(QUERIES["ivf_filtered_probe"](spark, SF))
    scan = [ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and "t_ivfidxf" in ln
            and "centroids" not in ln][0]
    assert "cell" in scan.split("PartitionFilters:", 1)[1].split("]")[0]
    pushed = scan.split("PushedFilters:", 1)[1].split("]")[0]
    assert "label" in pushed                    # predicate at the scan
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys


def test_ivf_probe_batch_gate_counts_queries_not_fanout(spark):
    """The broadcast gate counts DISTINCT queries, not fan-out rows:
    with fewer cells than nprobe each query fans out fewer rows, and a
    row-count gate would broadcast batches larger than
    max_broadcast_queries (the tiny-C hazard)."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(21)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(32)],
        "vec_id long, embedding array<double>")
    import os
    import tempfile
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_tinyc")
    # C=2 cells but nprobe=4: fan-out is 2 rows/query, so 3 queries
    # fan out 6 rows — under the OLD gate of max*nprobe = 2*4 = 8,
    # over the new distinct-query gate of 2
    similarity.ivf_index_write(emb, "t_tinyc", os.path.join(d, "i"),
                               n_centroids=2)
    qs = (emb.where("vec_id in (0, 1, 2)")
          .selectExpr("vec_id as q_id", "embedding"))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = similarity.ivf_index_probe_batch(
            spark, "t_tinyc", qs, k=3, nprobe=4, exclude_self=True,
            max_broadcast_queries=2)
        plan = _plan(out)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert out.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_tinyc")
        spark.sql("DROP TABLE IF EXISTS t_tinyc_centroids")


def test_probe_batch_shuffle_join_salts_live_cell_skew(spark):
    """r10: past the broadcast gate, the serving join is salted —
    joining on `cell` alone caps parallelism at the live-cell count
    and a regionally skewed batch (drift burst) serializes through
    one reducer, with no AQE skew rescue inside streaming
    micro-batches. The plan must exchange on (cell, __cell_salt)
    with the fan-out exploded ×S, the salt must not reach the
    output, and results must equal the broadcast path's (covered by
    the gate tests). S sizes to ⌈parallelism / live_cells⌉, so with
    4 cells on local[32] the salt is present."""
    import os
    import tempfile

    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(13)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(64)],
        "vec_id long, embedding array<double>")
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_salt")
    similarity.ivf_index_write(emb, "t_salt", os.path.join(d, "i"),
                               n_centroids=4)
    qs = (emb.where("vec_id in (0, 1, 2)")
          .selectExpr("vec_id as q_id", "embedding"))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = similarity.ivf_index_probe_batch(
            spark, "t_salt", qs, k=3, nprobe=2, exclude_self=True,
            max_broadcast_queries=0)
        assert "__cell_salt" not in out.columns   # never in output
        phys = _plan(out).split("== Physical Plan ==")[-1]
        join_ex = [ln for ln in phys.splitlines()
                   if "Exchange hashpartitioning" in ln
                   and "__cell_salt" in ln]
        assert join_ex, "serving join exchange is not salted"
        assert all("cell" in ln for ln in join_ex)
        assert "Generate explode" in phys         # fan-out ×S
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for t in ("t_salt", "t_salt_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_token_shards_plan_shape(spark):
    """r10 token-id shard export: tokenization + id mapping are pure
    JVM (literal replace chain + constant-folded vocab map — the ONLY
    Python site in the whole chain is the greedy pack's one
    applyInPandas over (doc_id, shard, n_tok) longs), the assembly is
    one hash join + one aggregation, and nothing cartesians or
    range-sorts the corpus."""
    from georiva_spark.operators.textops import token_shard_bins
    from georiva_spark.queries_ext import BPE_MERGES
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bins = token_shard_bins(docs, BPE_MERGES, context_len=128,
                            num_shards=8)
    plan = _plan(bins)
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("FlatMapGroupsInPandas") == 1   # the pack only
    assert "ArrowEvalPython" not in phys   # tokenize/id-map stay JVM
    assert "BatchEvalPython" not in phys   # never row-at-a-time
    assert "CartesianProduct" not in phys
    assert "Exchange rangepartitioning" not in phys
    # the composed corpus->loader chain keeps the same Python budget:
    # gate + dedup keeper ride semi-joins, the pack stays the only
    # Arrow site, nothing cartesians
    plan = _plan(QUERIES["token_pipeline"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert phys.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in phys
    assert "ArrowEvalPython" not in phys
    assert "CartesianProduct" not in phys
    assert "LeftSemi" in phys              # gate + keeper semi-joins


def test_python_boundary_audit_current():
    """SCALE.md §'Python boundary' must stay true: zero row-at-a-time
    F.udf sites anywhere in the package, and the set of files carrying
    an Arrow callsite must exactly match the documented enumeration —
    a new Arrow boundary added without updating the audit fails here
    (the r6→r7 'exactly six places' rot, made impossible)."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "georiva_spark"
    arrow_re = re.compile(
        r"mapInPandas\(|applyInPandas\(|applyInPandasWithState\(|"
        r"pandas_udf\(")
    row_udf_re = re.compile(r"\bF\.udf\(|\bfunctions\.udf\(")
    arrow_files, row_udfs = set(), []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        if arrow_re.search(src):
            arrow_files.add(str(py.relative_to(pkg)))
        for m in row_udf_re.finditer(src):
            row_udfs.append(f"{py}:{src[:m.start()].count(chr(10)) + 1}")
    assert not row_udfs, f"row-at-a-time Python UDFs found: {row_udfs}"

    documented = {
        "sources/raster_formats.py", "sources/zarr_store.py",
        "sources/warc_codec.py", "sources/mvt_sink.py",
        "operators/multimodal.py",
        "operators/similarity.py", "operators/dedup.py",
        "operators/textops.py", "streaming/sessions.py",
        "queries_ext.py",
    }
    scale = (Path(__file__).resolve().parents[1] / "SCALE.md").read_text()
    sect = scale.split("## Python boundary", 1)[1].split("\n## ", 1)[0]
    missing_doc = {f for f in documented if Path(f).name not in sect}
    assert not missing_doc, f"SCALE.md lost entries: {missing_doc}"
    assert arrow_files == documented, (
        f"Arrow-boundary drift — in code but undocumented: "
        f"{arrow_files - documented}; documented but gone: "
        f"{documented - arrow_files}. Update SCALE.md §Python boundary "
        f"AND this test together.")

    # r12 (the r11 verdict's item 4): spark.createDataFrame(list) is
    # Python-RDD-backed — ~7 s per evaluation even for a 36-row frame
    # (the r11 finding) — so every bounded frame must go through
    # functions/frames.local_frame (Arrow). The only allowed sites
    # are the enumerated empty-frame short-circuits and local_frame's
    # own implementation; a new site anywhere else fails here, the
    # same tripwire pattern that keeps F.udf extinct.
    cdf_re = re.compile(r"\.createDataFrame\(")
    allowed = {
        "operators/zonal.py": 1,        # empty scanline-run short-circuit
        "sources/zarr_store.py": 1,     # empty-manifest short-circuit
        "sources/acquisition.py": 2,    # empty fetch ledgers
        "functions/frames.py": 4,       # local_frame itself (+docstring)
    }
    found: dict[str, int] = {}
    for py in pkg.rglob("*.py"):
        k = len(cdf_re.findall(py.read_text()))
        if k:
            found[str(py.relative_to(pkg))] = k
    assert found == allowed, (
        f"spark.createDataFrame drift: {found} != allowed {allowed}. "
        f"Use functions/frames.local_frame (Arrow-backed, ~25x) for "
        f"any bounded frame that lands in a query plan; extend the "
        f"allowlist ONLY for empty-frame short-circuits.")


def _package_code(skip=()):
    """(module path relative to georiva_spark/, parsed AST, ids of its
    docstring nodes) for every package module not in ``skip`` — the
    shared walk of the source audits below, which judge code and let
    docstrings and comments name a mechanism freely."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "georiva_spark"
    for py in sorted(pkg.rglob("*.py")):
        if py in skip:
            continue
        tree = ast.parse(py.read_text())
        docstrings = {
            id(node.body[0].value) for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef,
                                 ast.FunctionDef, ast.AsyncFunctionDef))
            and node.body and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)}
        yield py.relative_to(pkg), tree, docstrings


def _code_strings(tree, docstrings, needle: str) -> list:
    """Line numbers of the string constants (docstrings excluded)
    that contain ``needle``, case-insensitively."""
    import ast
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and needle.upper() in node.value.upper()
            and id(node) not in docstrings]


def test_index_stamp_audit_current():
    """Index parameter stamps have ONE home: operators/_index_table.py
    is the only module whose code spells a TBLPROPERTIES statement.
    Every other index family reads and writes its stamps through it —
    a hand-rolled SHOW/ALTER … TBLPROPERTIES anywhere else fails here.
    Docstrings and comments may still name the mechanism."""
    from pathlib import Path

    home = (Path(__file__).resolve().parents[1] / "georiva_spark"
            / "operators" / "_index_table.py")
    assert "TBLPROPERTIES" in home.read_text()
    found = [f"{rel}:{line}"
             for rel, tree, docs in _package_code(skip=(home,))
             for line in _code_strings(tree, docs, "TBLPROPERTIES")]
    assert not found, (
        f"TBLPROPERTIES statements outside operators/_index_table.py: "
        f"{found} — read stamps with _index_table.props and write them "
        f"with _index_table.stamp")


def test_rule_table_audit_current():
    """Managed id-list tables (tombstone rules, standing holds) have
    ONE home: operators/_tombstones.py is the only module whose code
    reads the warehouse dir or spells a LOCATION clause, and the only
    one that names the live-filter pieces (``live_rows``,
    ``live_doc_rows``, ``dead_rules``, ``dead_doc_rules``, public or
    underscored) — every other module filters through
    ``_tombstones.live_filter`` / ``drop_ids``, so the probe side of
    the tombstone contract is composed in one place."""
    import ast
    from pathlib import Path

    home = (Path(__file__).resolve().parents[1] / "georiva_spark"
            / "operators" / "_tombstones.py")
    needles = ("spark.sql.warehouse.dir", "LOCATION '")
    assert all(n in home.read_text() for n in needles)
    pieces = {"live_rows", "live_doc_rows", "dead_rules",
              "dead_doc_rules"}
    found = []
    for rel, tree, docs in _package_code(skip=(home,)):
        for needle in needles:
            found += [f"{rel}:{line} {needle!r}"
                      for line in _code_strings(tree, docs, needle)]
        for node in ast.walk(tree):
            name = (getattr(node, "id", None)
                    or getattr(node, "attr", None)
                    or (node.name if isinstance(
                        node, (ast.alias, ast.FunctionDef)) else None))
            if name and name.lstrip("_") in pieces:
                found.append(f"{rel}:{node.lineno} {name}")
    assert not found, (
        f"rule-table mechanics outside operators/_tombstones.py: "
        f"{found} — locate, adopt and clear managed id-list tables "
        f"with its warehouse_path / ensure_registered / clear_table, "
        f"and filter with live_filter / drop_ids")


def test_index_lifecycle_audit_current():
    """Index maintenance has one path. Only the install step
    (operators/_index_table.py ``install``) swaps tables
    (``atomic_swap_table``), and only it and the index writes clear
    tombstone rules (``clear_rules``): every compaction ends through
    the one stamp → swap → clear sequence. And no module outside
    operators/similarity.py chooses an append or compact function by
    the index layout: ``ivf_index_append`` / ``ivf_index_compact``
    read the layout from the stamps, so no branch outside picks
    between two ``*_index_append`` or two ``*_index_compact``."""
    import ast
    import re

    install = ("operators/_index_table.py", "install")
    allowed = {"atomic_swap_table": {install},
               "clear_rules": {
                   install,
                   ("operators/dedup.py", "minhash_index_write"),
                   ("operators/dedup.py", "hamming_index_write"),
                   ("operators/similarity.py", "ivf_index_write"),
                   ("operators/similarity.py", "ivf_pq_index_write")}}
    calls = {name: set() for name in allowed}
    found = []

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name and name.lstrip("_") in allowed:
                calls[name.lstrip("_")].add((rel, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    def names(node):
        return {getattr(n, "id", None) or getattr(n, "attr", None)
                for n in ast.walk(node)} - {None}

    for rel, tree, _ in _package_code():
        rel = rel.as_posix()
        visit(tree, rel, None)
        if rel == "operators/similarity.py":
            continue
        found += [f"{rel}: {n}" for n in names(tree)
                  if re.fullmatch(r"\w*ivf\w*_(append|compact)", n)
                  and n not in ("ivf_index_append", "ivf_index_compact")]
        for node in ast.walk(tree):
            if isinstance(node, (ast.If, ast.IfExp)):
                for op in ("append", "compact"):
                    picks = {n for n in names(node)
                             if n.endswith(f"_index_{op}")}
                    if len(picks) > 1:
                        found.append(f"{rel}:{node.lineno} picks "
                                     f"{sorted(picks)}")
    for name, sites in calls.items():
        found += [f"{rel}:{fn} calls {name}"
                  for rel, fn in sorted(sites - allowed[name])]
    assert calls["atomic_swap_table"], "no install step found"
    assert not found, (
        f"index maintenance outside its one path: {found} — end a "
        f"compaction with _index_table.install, and call "
        f"ivf_index_append / ivf_index_compact for either IVF layout")


def test_ivf_serving_audit_current():
    """IVF serving has one path. The in-row routing
    (``route_cells_sql``), the fan-out gate job, the fan-out spread
    and the salted join are called from the serving pass
    (operators/similarity.py ``_ivf_candidates``) alone — every batch
    probe, the batch refine and the recall grid score candidates
    there — and ann_tune's skew-aware pricing
    (``_measured_candidates``) is the one other routing caller. No
    module outside similarity.py names a second batch probe, so none
    can pick one by the index layout."""
    import ast
    import re

    core = ("operators/similarity.py", "_ivf_candidates")
    allowed = {"route_cells_sql": {
                   core,
                   ("operators/similarity.py", "_measured_candidates")},
               "_fanout_gate": {core}, "_spread_fanout": {core},
               "_salted_cell_join": {core}}
    calls = {name: set() for name in allowed}
    found = []

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name in allowed:
                calls[name].add((rel, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for rel, tree, _ in _package_code():
        rel = rel.as_posix()
        visit(tree, rel, None)
        if rel == "operators/similarity.py":
            continue
        names = {getattr(n, "id", None) or getattr(n, "attr", None)
                 or getattr(n, "name", None) for n in ast.walk(tree)}
        found += [f"{rel}: {n}" for n in names
                  if n and re.fullmatch(r"\w*ivf\w*_index_probe_batch", n)
                  and n != "ivf_index_probe_batch"]
    for name, sites in calls.items():
        assert sites, f"no call to {name} found"
        found += [f"{rel}:{fn} calls {name}"
                  for rel, fn in sorted(sites - allowed[name])]
    assert not found, (
        f"IVF serving outside its one path: {found} — score candidates "
        f"through similarity._ivf_candidates and serve either layout "
        f"with ivf_index_probe_batch")


def test_write_mechanism_audit_current():
    """One way to write partitions, and no driver thread pools: a
    partition overwrite names ``.option("partitionOverwriteMode",
    "dynamic")`` on its own writer — flipping the session-global
    ``spark.sql.sources.partitionOverwriteMode`` conf races every
    concurrent writer of the session — and nothing in the package
    starts a ``ThreadPoolExecutor`` (pool threads drop PySpark local
    properties, so their jobs lose the caller's job group; the engine
    writes each level as one partitioned job instead)."""
    import ast

    found = []
    for rel, tree, docs in _package_code():
        found += [f"{rel}:{line} session conf"
                  for line in _code_strings(
                      tree, docs, "spark.sql.sources.partitionOverwriteMode")]
        found += [f"{rel}:{node.lineno} ThreadPoolExecutor"
                  for node in ast.walk(tree)
                  if (isinstance(node, ast.Name)
                      and node.id == "ThreadPoolExecutor")
                  or (isinstance(node, ast.Attribute)
                      and node.attr == "ThreadPoolExecutor")
                  or (isinstance(node, ast.alias)
                      and node.name == "ThreadPoolExecutor")]
    assert not found, (
        f"{found} — write partitions with .option("
        f"'partitionOverwriteMode', 'dynamic') and submit Spark jobs "
        f"from the caller's thread")


def test_corpus_pipeline_composition_keeps_plan_shapes(spark):
    """The end-to-end crawl→strip→gopher→line-dedup→minhash-probe
    composition must not break any stage's plan contract when chained
    under one plan: no cartesian or nested-loop join anywhere, and the
    dedup stage READS the planted bucketed index (FileScan on the
    bands table) instead of recomputing the even half's signatures."""
    plan = _plan(QUERIES["corpus_pipeline"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert any("FileScan parquet" in ln and "t_corpusmh_bands" in ln
               for ln in phys.splitlines())
    assert any("FileScan parquet" in ln and "t_corpusmh_sigs" in ln
               for ln in phys.splitlines())


def test_training_pipeline_composition_keeps_plan_shapes(spark):
    """The composed training recipe (r9): quality cut → fuzzy decon →
    cluster split → token budget → shard shuffle → manifest under ONE
    plan. Every stage keeps its standalone contract when chained: no
    cartesian/nested-loop join anywhere, the quality cut stays a scan
    predicate (no extra exchange for it), the token-budget window
    still partitions by the coarse bucket (never one task per
    stratum), and the only range exchange is the 8-row manifest's
    final ORDER BY — the corpus itself is never globally sorted."""
    plan = _plan(QUERIES["training_pipeline"](spark, SF))
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    windows = [ln for ln in phys.splitlines()
               if "windowspecdefinition" in ln]
    tb = [ln for ln in windows if "__tb_coarse" in ln]
    assert tb, "token-budget window lost its coarse sub-partition key"
    assert phys.count("Exchange rangepartitioning") == 1  # manifest only


def test_ivf_index_trained_quantizer_balances_clustered_cells(spark):
    """What's-wrong #3 fix: on a CLUSTERED corpus (the real embedding
    shape) the sampled quantizer leaves a hot cell; train_iters>0 runs
    kmeans_centroids first and the max-cell/mean-cell balance ratio
    drops to ~1 — which is what keeps a probe at ~nprobe/C of the
    corpus instead of the hot-cell fraction."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(9)
    rows = []
    for i in range(400):
        blob = i % 8
        center = np.zeros(16)
        center[blob * 2] = 10.0
        rows.append((i, [float(v)
                         for v in center + rng.normal(0, 0.3, 16)]))
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    import os
    import tempfile
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_ivftr")

    def balance(table):
        from pyspark.sql import functions as F
        sizes = [r.n for r in spark.table(table).groupBy("cell")
                 .agg(F.count("*").alias("n")).collect()]
        return max(sizes) / (sum(sizes) / len(sizes))

    try:
        similarity.ivf_index_write(emb, "t_ivfs", os.path.join(d, "s"),
                                   n_centroids=8)
        similarity.ivf_index_write(emb, "t_ivft", os.path.join(d, "t"),
                                   n_centroids=8, train_iters=3,
                                   seed_ids=list(range(8)))
        b_sampled, b_trained = balance("t_ivfs"), balance("t_ivft")
        assert b_trained <= 1.05          # one cell per blob
        assert b_sampled > b_trained      # sampling leaves hot cells
        # the trained index stamps its quantizer provenance
        props = {r.key: r.value for r in spark.sql(
            "SHOW TBLPROPERTIES t_ivft").collect()}
        assert props["georiva.train_iters"] == "3"
        assert props["georiva.n_centroids"] == "8"
    finally:
        for t in ("t_ivfs", "t_ivft"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}_centroids")


def test_minhash_retraction_antijoin_is_broadcast(spark, tmp_path):
    """r12 tombstone scale story: the probe's dead-generation filter
    must be a BROADCAST anti-join of the bounded rule table (equi on
    the shard prefix, residual on keep_gen) — never a shuffle of the
    index, never a nested loop. One rule row per retracted shard."""
    from georiva_spark.functions.frames import local_frame
    from georiva_spark.operators import dedup
    t = "t_planret"
    try:
        base = local_frame(
            spark, [(1, "the quick brown fox jumps over the lazy dog "
                        "tonight and runs far away")],
            "doc_id long, text string")
        dedup.minhash_index_write(base, t, str(tmp_path / "ix"),
                                  n_buckets=4)
        dedup.minhash_index_append(
            local_frame(spark, [(10, "novel text about salted joins "
                                     "and cells in streamed stores")],
                        "doc_id long, text string"),
            t, gen=dedup.index_gen("sA", "v1"))
        dedup.minhash_index_retract(spark, t, "sA",
                                    keep_gen=dedup.index_gen("sA", "v2"))
        probe = local_frame(
            spark, [(99, "novel text about salted joins and cells in "
                         "streamed systems")],
            "doc_id long, text string")
        plan = (dedup.minhash_index_probe(probe, t, threshold=0.3)
                ._jdf.queryExecution().executedPlan().toString())
        anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti, "expected tombstone anti-joins in the probe plan"
        assert all("BroadcastHashJoin" in ln for ln in anti), anti
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # r13: the doc-grained takedown rule (second rule table) must
        # keep the exact same shape — broadcast hash anti-joins only,
        # composed with the shard rules
        dedup.minhash_index_retract_docs(spark, t, [10])
        plan = (dedup.minhash_index_probe(probe, t, threshold=0.3)
                ._jdf.queryExecution().executedPlan().toString())
        anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert len(anti) >= 2, "expected shard AND doc anti-joins"
        assert all("BroadcastHashJoin" in ln for ln in anti), anti
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    finally:
        for s in ("bands", "sigs", "dead", "dead_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{s}")


def test_corpus_takedown_scan_pushdown_and_partition_prune(spark,
                                                           tmp_path):
    """r13 takedown scale story: the affected scan's bounded id list
    must reach the parquet scan as a pushed In predicate reading only
    (doc_id, shard) — at 100 TB the request prunes to overlapping
    row groups, never a full-column corpus read — and the prune
    frame's shard predicate must be a PARTITION filter so unaffected
    partitions never scan."""
    from georiva_spark.plans.takedown import _affected_scan, _prune_frame
    corp = str(tmp_path / "corp")
    (spark.range(100)
     .selectExpr("id as doc_id", "concat('t', id) as text",
                 "concat('s', id % 4) as shard")
     .write.partitionBy("shard").parquet(corp))
    corpus = spark.read.parquet(corp)

    plan = _plan(_affected_scan(corpus, [7, 13]))
    scan = [ln for ln in plan.splitlines()
            if "FileScan parquet" in ln][0]
    assert "PushedFilters:" in scan
    assert "In(doc_id, [" in scan.split("PushedFilters:", 1)[1]
    read = scan.split("ReadSchema:", 1)[1]
    assert "doc_id" in read and "text" not in read

    plan = _plan(_prune_frame(corpus, ["s1", "s3"], [7, 13]))
    scan = [ln for ln in plan.splitlines()
            if "FileScan parquet" in ln][0]
    part = scan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "shard" in part and "s1" in part and "s3" in part


def test_hold_filter_is_broadcast_antijoin(spark, tmp_path):
    """r13 standing-hold scale story: the admission filter must be a
    BROADCAST anti-join of the bounded hold list over the incoming
    batch — never a shuffle of the stream side, never a nested
    loop (the same shape as the tombstone live-filters)."""
    from georiva_spark.plans import takedown as td
    ht = "t_plan_hold"
    try:
        td.standing_hold(spark, ht, [3, 5])
        docs = spark.range(100).selectExpr("id as doc_id",
                                           "concat('t', id) as text")
        plan = (td.hold_filter(docs, ht, "doc_id")
                ._jdf.queryExecution().executedPlan().toString())
        anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti and all("BroadcastHashJoin" in ln for ln in anti)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    finally:
        td.clear_hold(spark, ht)


def test_refine_grid_semi_joins_broadcast_selection(spark, tmp_path):
    """r14 grid restructure: the per-setting shortlist selections join
    the SHARED rescored candidates as left-semi joins; the selection
    is model-sized (sample queries × shortlist rows) and must
    broadcast — without the hint the two cached frames planned as
    SortMergeJoins, re-shuffling the shared frame once per grid
    setting (4 SMJ in the pre-fix ann_tune_pq plan). The hint obeys
    max_broadcast_queries like every other hint in the grid: past the
    gate (0, with Spark's own auto-broadcast off) no per-setting semi
    join may plan as a BroadcastHashJoin, and the grid is unchanged."""
    import numpy as np

    from georiva_spark.operators import similarity

    rng = np.random.default_rng(13)
    n, d = 200, 8
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=d)]) for i in range(n)],
        "vec_id long, embedding array<double>")
    t = "t_plan_grid"
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def grid(gate):
        est = similarity.ann_recall_estimate(
            spark, t, k=3, nprobes=(1, 2), emb=emb,
            shortlist=(5, 10), sample_ppm=120_000,
            max_broadcast_queries=gate)
        plan = est._jdf.queryExecution().executedPlan().toString()
        semis = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert semis
        return est, plan, semis

    try:
        similarity.ivf_pq_index_write(emb, t, str(tmp_path / "g"),
                                      n_centroids=4, m=4, nbits=4,
                                      train_iters=1)
        est, plan, semis = grid(10_000)
        assert "SortMergeJoin" not in plan
        assert all("BroadcastHashJoin" in ln for ln in semis)
        assert "CartesianProduct" not in plan
        want = sorted(est.collect())
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        est, _, semis = grid(0)
        assert not any("BroadcastHashJoin" in ln for ln in semis)
        assert sorted(est.collect()) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for s in ("", "_centroids", "_codebook"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{s}")


def _parents(lines: list, i: int):
    """Ancestors of line ``i`` of a rendered plan tree, nearest first
    (an operator's name starts at its depth in the tree)."""
    import re

    depth = re.search(r"[A-Za-z*]", lines[i]).start()
    for ln in reversed(lines[:i]):
        d = re.search(r"[A-Za-z*]", ln).start()
        if d < depth:
            depth = d
            yield ln


def test_climatology_level_scans_the_series_once(spark, tmp_path):
    """A landing's value, anomaly and trend units share one aggregate:
    in the final plan of the engine's one level write, exactly one
    shuffle stage reads the staging series and the other two units'
    branches read it through ``ReusedExchange``."""
    import re
    import time

    from georiva_spark.plans import (CatalogContext, DerivationEngine,
                                     RecipeRegistry)
    from georiva_spark.plans.recipes import ClimatologyRecipe
    from georiva_spark.testing import month_starts

    items = []
    for i, year in enumerate((2020, 2021)):
        times = month_starts(dt.datetime(year, 1, 1), 12)
        path = str(tmp_path / "staging" / str(year))
        grid_from_arrays(spark, np.arange(48.0).reshape(12, 2, 2) + i, times,
                         collection="src").write.parquet(path)
        items.append({"item_id": i + 1, "collection": "src",
                      "variable": "v", "time": times[0], "tier": "staging",
                      "checksum": f"y{year}", "path": path})
    ctx = CatalogContext(spark, items,
                         grid_loader=lambda it: spark.read.parquet(it["path"]))
    reg = RecipeRegistry()
    reg.register(ClimatologyRecipe(
        "src", "clim", periods=[(2020, 2021)],
        quantities=["value", "anomaly", "trend"], baseline=(2020, 2020)))
    eng = DerivationEngine(spark, reg, ctx,
                           output_dir=str(tmp_path / "products"))
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions_after(last: int) -> list:
        """Executions with an id above ``last``. The store keeps them in
        id order and evicts the oldest past its retention limit, so
        positions shift and ids do not."""
        execs, out = store.executionsList(), []
        for i in reversed(range(execs.size())):
            if execs.apply(i).executionId() <= last:
                break
            out.append(execs.apply(i))
        return out

    bus.waitUntilEmpty()
    execs = store.executionsList()
    before = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    recs = eng.run_all()
    assert len(recs) == 3 and {r.status for r in recs} == {"completed"}
    for _ in range(50):
        # the UI store may write an execution's final plan a moment late
        bus.waitUntilEmpty()
        plans = [e.physicalPlanDescription()
                 for e in executions_after(before)]
        plans = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
        if len(plans) == 1 and "== Final Plan ==" in plans[0]:
            break
        time.sleep(0.1)
    assert len(plans) == 1, len(plans)
    final = (plans[0].split("== Final Plan ==", 1)[1]
             .split("== Initial Plan ==", 1)[0].splitlines())
    readers = set()
    for i, ln in enumerate(final):
        if "Scan parquet" in ln:
            readers.add(next(p for p in _parents(final, i)
                             if re.search(r"(?<!Reused)Exchange \(", p)))
    assert len(readers) == 1, readers
    assert sum("ReusedExchange" in ln for ln in final) == 2, "\n".join(final)
