"""Query registry extension: deeper SURVEY §2 coverage.

Everything here is oracle-checked except approx_distinct (HLL sketch —
engine-specific by construction; driver records the weaker rows-only
check). Hash-dependent queries (minhash, simhash, fingerprints, LSH kNN)
use the portable md5-derived 60-bit hash both Spark and DuckDB compute
bit-identically, so even signatures/buckets/window-minima hash-match.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from georiva_spark.operators import dedup, multimodal as mm, similarity, textops, timeseries
from georiva_spark.operators.timeseries import nearest_time
from georiva_spark.sources.synthetic import EVENTS_GRID_SQL, events_grid
from georiva_spark.sources.tables import load_table

GRID_CTE = f"WITH grid AS ({EVENTS_GRID_SQL})"



def _fixture_table(spark: SparkSession, base: str) -> str:
    """App-id-suffixed in-query fixture TABLE name (r12): the
    retraction queries materialize a managed `{table}_dead` rule
    table whose warehouse location is shared across Spark apps —
    a fixed name would collide between the driver gate and a
    concurrent bench run (and a prior app's leftover location makes
    managed CREATE fail by name). Suffixing the table name scopes the
    location per app, the same isolation _fixture_tmp gives data
    paths. The caller still clears leftover rules at query start so
    best-of-N re-evaluations within one app stay independent."""
    import re
    app = re.sub(r"[^0-9a-zA-Z]", "",
                 spark.sparkContext.applicationId)[-12:]
    return f"{base}_{app}"


def _sweep_stale_fixtures(spark: SparkSession, base: str,
                          tmp_name: str, max_age_h: float = 3.0
                          ) -> None:
    """Sweep PRIOR apps' leftover retraction-query fixtures (r13, the
    r12 ADVICE leak): app-id-suffixed index tables, their `_dead`
    rule locations, and tmp dirs accumulate without bound across
    driver-gate and bench runs — each app exits without cleaning up
    because its QUERY returns a lazy DataFrame still referencing the
    fixture tables. A CONCURRENT app's fixtures must survive (the r12
    isolation), so only artifacts older than ``max_age_h`` go (an
    evaluation lasts minutes; the driver gate and bench are
    CLAUDE.md-blessed to overlap within one round, never across
    rounds)."""
    import os
    import re
    import shutil
    import tempfile
    import time

    cutoff = time.time() - max_age_h * 3600
    app = re.sub(r"[^0-9a-zA-Z]", "",
                 spark.sparkContext.applicationId)[-12:]
    from georiva_spark.operators._tombstones import warehouse_path
    wh = warehouse_path(spark)
    if wh and os.path.isdir(wh):
        pat = re.compile(
            rf"^{re.escape(base.lower())}_(?!{re.escape(app.lower())})"
            rf"[0-9a-z]+(_bands|_sigs|_ids|_dead|_dead_docs|"
            rf"_centroids|_codebook|_rotation)?$")
        for d in os.listdir(wh):
            full = os.path.join(wh, d)
            try:
                if (pat.match(d) and os.path.isdir(full)
                        and os.path.getmtime(full) < cutoff):
                    spark.sql(f"DROP TABLE IF EXISTS {d}")
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
    tdir = tempfile.gettempdir()
    # _fixture_tmp suffixes the RAW applicationId (dashes intact) —
    # compare against that, not the sanitized table-name form, or a
    # >3h app would sweep its OWN live fixture dir
    raw_app = spark.sparkContext.applicationId
    tpat = re.compile(
        rf"^georiva_spark_{re.escape(tmp_name)}_"
        rf"(?!{re.escape(raw_app)}$)")
    for d in os.listdir(tdir):
        full = os.path.join(tdir, d)
        try:
            if (tpat.match(d) and os.path.isdir(full)
                    and os.path.getmtime(full) < cutoff):
                shutil.rmtree(full, ignore_errors=True)
        except OSError:
            pass


def _fixture_tmp(spark: SparkSession, name: str) -> str:
    """App-id-suffixed in-query fixture dir (r12): index/layout
    fixtures are OVERWRITTEN per evaluation, so two concurrent
    evaluations (the driver correctness probe + a local bench run —
    separate Spark apps, a CLAUDE.md-blessed combination) must not
    delete files the other is mid-reading. Content-keyed single-file
    fixtures (grib/nc/tiff/warc) stay shared — their writers land
    identical bytes via atomic replace."""
    import os
    import tempfile
    return os.path.join(
        tempfile.gettempdir(),
        f"georiva_spark_{name}_{spark.sparkContext.applicationId}")

def _dec(c, scale: int = 2):
    return c.cast(f"decimal(18,{scale})")


def _zarr_fixture(kind: str, data: dict, **write_opts) -> str:
    """Content-addressed zarr fixture store. The directory name embeds
    a sha1 of write_zarr's SOURCE plus the array bytes plus every
    write option, so changing the planting logic, the data, or any
    codec/layout knob yields a fresh directory — the previous
    bare-name exists-skip could silently serve a store planted by an
    older generator (r4 judge hardening note). The store is built in a
    scratch dir and atomically renamed into place; the loser of a
    concurrent rename race discards its build and reads the winner's.
    File-based fixtures (nc/grib/tiff) don't need this: they re-encode
    and atomically rewrite their single file on every call."""
    import hashlib
    import inspect
    import os
    import shutil
    import tempfile

    from georiva_spark.sources.zarr_store import write_zarr

    h = hashlib.sha1(inspect.getsource(write_zarr).encode())
    for k in sorted(data):
        a = np.ascontiguousarray(data[k])
        h.update(k.encode())
        h.update(str(a.dtype).encode())
        h.update(str(a.shape).encode())
        h.update(a.tobytes())
    h.update(repr(sorted(write_opts.items())).encode())
    d = os.path.join(tempfile.gettempdir(),
                     f"georiva_fix_{kind}_{h.hexdigest()[:16]}")
    if not os.path.isdir(d):
        tmp = tempfile.mkdtemp(prefix=f".georiva_fix_{kind}_",
                               dir=tempfile.gettempdir())
        write_zarr(tmp, data, **write_opts)
        try:
            os.replace(tmp, d)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return d


# ---------------------------------------------------------------------------
# Oracle-checked
# ---------------------------------------------------------------------------

def q_nearest_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — per-pixel nearest-time select via min_by on (|Δt|, time)."""
    g = events_grid(spark, sf_dir)
    out = nearest_time(g, dt.datetime(2024, 1, 15, 12, 0, 0))
    return out.select("variable", "y", "x", "time", "value")


SQL_NEAREST_TIME = GRID_CTE + """
SELECT variable, y, x, time, value FROM (
  SELECT variable, y, x, time, value, ROW_NUMBER() OVER (
    PARTITION BY variable, y, x
    ORDER BY ABS(EPOCH(time) - EPOCH(TIMESTAMP '2024-01-15 12:00:00')), time
  ) AS rn FROM grid) WHERE rn = 1
"""


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — rolling 7-day mean per pixel (CHIRPS rolling anomaly shape,
    ADR-0007): range frame over day numbers; frame sums in DECIMAL so the
    segment-tree vs sequential accumulation of the two engines can't
    diverge."""
    g = events_grid(spark, sf_dir).where(F.col("variable") == "purchase")
    daily = (g.groupBy("y", "x", F.date_trunc("day", "time").alias("day"))
              .agg(F.sum(_dec(F.col("value"))).alias("dsum"),
                   F.count("value").alias("dn")))
    daily = daily.withColumn(
        "daynum", F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")))
    w = (Window.partitionBy("y", "x").orderBy("daynum")
         .rangeBetween(-6, 0))
    return (daily.select(
        "y", "x", F.col("day").cast("timestamp").alias("day"),
        (F.sum("dsum").over(w).cast("double") /
         F.sum("dn").over(w)).alias("rolling_mean")))


SQL_ROLLING_WINDOW = GRID_CTE + """
, daily AS (
  SELECT y, x, date_trunc('day', time) AS day,
         SUM(CAST(value AS DECIMAL(18,2))) AS dsum, COUNT(value) AS dn,
         DATE_DIFF('day', DATE '2024-01-01', CAST(date_trunc('day', time) AS DATE)) AS daynum
  FROM grid WHERE variable = 'purchase' GROUP BY y, x, date_trunc('day', time))
SELECT y, x, CAST(day AS TIMESTAMP) AS day,
  CAST(SUM(dsum) OVER w AS DOUBLE) / SUM(dn) OVER w AS rolling_mean
FROM daily
WINDOW w AS (PARTITION BY y, x ORDER BY daynum RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def q_union_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — multi-source concat along time (xr.concat analog): two disjoint
    halves of the series unioned back, then counted per channel."""
    g = events_grid(spark, sf_dir)
    first = g.where(F.col("time") < F.lit("2024-01-15"))
    second = g.where(F.col("time") >= F.lit("2024-01-15"))
    return (first.unionByName(second)
            .groupBy("variable")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("time").alias("tmin"), F.max("time").alias("tmax")))


SQL_UNION_CONCAT = GRID_CTE + """
SELECT variable, COUNT(*) AS n, MIN(time) AS tmin, MAX(time) AS tmax
FROM (SELECT * FROM grid WHERE time < TIMESTAMP '2024-01-15'
      UNION ALL
      SELECT * FROM grid WHERE time >= TIMESTAMP '2024-01-15')
GROUP BY variable
"""


def q_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — lineage-source dedup analog: distinct (user, event_type)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"]))


SQL_DROP_DUPLICATES = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 deep dim chain (TPC-H Q5 shape): region⋈nation⋈customer⋈orders⋈
    lineitem revenue per nation. region/nation are bounded dims → explicit
    broadcast; customer/orders scale with the fact → AQE chooses (broadcast
    at small SF, shuffle join with skew split at 100 TB)."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount")))
    dims = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .select("c_custkey", "n_name"))
    return (li.join(o.where(F.col("o_orderdate") >= F.lit("1996-01-01")),
                    li.l_orderkey == o.o_orderkey)
              .join(dims, F.col("o_custkey") == F.col("c_custkey"))
              .groupBy("n_name")
              .agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


SQL_REGIONAL_REVENUE = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user (rank-window top-k, the per-query
    pattern behind knn_all_pairs_topk)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"),
                                              F.asc("event_id"))
    return (ev.withColumn("rk", F.row_number().over(w))
              .where(F.col("rk") <= 3)
              .select("user_id", "event_id", "value", "rk"))


SQL_TOPK_PER_GROUP = """
SELECT user_id, event_id, value, rk FROM (
  SELECT user_id, event_id, value, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
  FROM events) WHERE rk <= 3
"""


def q_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, user bucket): all four grouping combinations
    (the admin-level × season rollup shape)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (ev.user_id % 3).alias("user_bucket")
    return (ev.select("event_type", bucket, "value")
            .cube("event_type", "user_bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(_dec(F.col("value"))).cast("double").alias("total")))


SQL_CUBE_ROLLUP = """
SELECT event_type, user_id % 3 AS user_bucket, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY CUBE(event_type, user_id % 3)
"""


def q_lod_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview-pyramid analog (COG overviews → LOD tables, SURVEY §4):
    levels 0..2 by 2× index decimation with per-level mean."""
    from georiva_spark.operators.regrid import overview_pyramid
    g = events_grid(spark, sf_dir).where(F.col("variable") == "view")
    daily = (g.groupBy("collection", "variable", "y", "x", "lat", "lon",
                       F.date_trunc("day", "time").alias("time"))
              .agg((F.sum(_dec(F.col("value"))).cast("double") /
                    F.count("value")).alias("value")))
    pyr = overview_pyramid(daily, levels=2)
    return (pyr.groupBy("level")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.round(F.avg("value"), 4).alias("mean_value")))


SQL_LOD_PYRAMID = GRID_CTE + """
, daily AS (
  SELECT y, x, date_trunc('day', time) AS time,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS value
  FROM grid WHERE variable = 'view' GROUP BY y, x, date_trunc('day', time)),
lvl1 AS (SELECT y // 2 AS y, x // 2 AS x, time,
                AVG(value) AS value FROM daily GROUP BY 1, 2, time),
lvl2 AS (SELECT y // 4 AS y, x // 4 AS x, time,
                AVG(value) AS value FROM daily GROUP BY 1, 2, time),
pyr AS (
  SELECT 0 AS level, value FROM daily
  UNION ALL SELECT 1, value FROM lvl1
  UNION ALL SELECT 2, value FROM lvl2)
SELECT level, COUNT(*) AS n_cells, ROUND(AVG(value), 4) AS mean_value
FROM pyr GROUP BY level
"""


def q_regrid_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-regrid the events grid onto 3-degree cells (rasterio
    Resampling.average analog as a groupBy)."""
    from georiva_spark.operators.regrid import regrid_average
    g = events_grid(spark, sf_dir).withColumn("time", F.date_trunc("day", "time"))
    out = regrid_average(g.where(F.col("variable") == "click"),
                         dst=(-6.0, -7.5, 3.0))
    return out.select("variable", "time", "y", "x", "lat", "lon",
                      F.round("value", 4).alias("value"), "n_source")


SQL_REGRID_COARSE = GRID_CTE + """
SELECT variable, CAST(date_trunc('day', time) AS TIMESTAMP) AS time,
       CAST(FLOOR((lat - (-6.0)) / 3.0) AS BIGINT) AS y,
       CAST(FLOOR((lon - (-7.5)) / 3.0) AS BIGINT) AS x,
       CAST(-6.0 + (CAST(FLOOR((lat - (-6.0)) / 3.0) AS BIGINT) + 0.5) * 3.0 AS DOUBLE) AS lat,
       CAST(-7.5 + (CAST(FLOOR((lon - (-7.5)) / 3.0) AS BIGINT) + 0.5) * 3.0 AS DOUBLE) AS lon,
       ROUND(AVG(value), 4) AS value, COUNT(value) AS n_source
FROM grid WHERE variable = 'click'
GROUP BY variable, date_trunc('day', time),
         CAST(FLOOR((lat - (-6.0)) / 3.0) AS BIGINT),
         CAST(FLOOR((lon - (-7.5)) / 3.0) AS BIGINT)
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 JSON family — properties access (processing/engine.py:224-237
    reads derivation.input_hash from JSON properties)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (ev.select("event_id", k.alias("k"))
            .groupBy((F.col("k") % 10).alias("k_bucket"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum")))


SQL_JSON_EXTRACT = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
FROM events GROUP BY 1
"""


def q_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 hash family — sha256 of a canonical field serialization
    (recipe.py:28-42 input-hash shape), checkable bit-for-bit."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 100)
    canon = F.concat_ws("|", F.col("o_orderkey").cast("string"),
                        F.col("o_orderstatus"),
                        F.date_format("o_orderdate", "yyyy-MM-dd"))
    return o.select("o_orderkey", F.sha2(canon, 256).alias("checksum"))


SQL_CHECKSUM = """
SELECT o_orderkey,
       sha256(CONCAT(CAST(o_orderkey AS VARCHAR), '|', o_orderstatus, '|',
                     strftime(o_orderdate, '%Y-%m-%d'))) AS checksum
FROM orders WHERE o_orderkey < 100
"""


def q_path_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 string family — storage-path build + parse round trip
    (core/storage/manager.py:466 grammar)."""
    ev = load_table(spark, sf_dir, "events")
    path = F.concat_ws(
        "/", F.lit("default"), F.lit("t"), F.col("event_type"),
        F.lit("value"), F.date_format("ts", "yyyy/MM/dd"),
        F.concat(F.lit("f"), F.col("event_id").cast("string"), F.lit(".npz")))
    parsed = F.regexp_extract(path, r"^[^/]+/[^/]+/([^/]+)/", 1)
    return (ev.select(F.col("event_id"), path.alias("path"),
                      parsed.alias("collection_from_path"))
            .where(F.col("event_id") < 200))


SQL_PATH_GRAMMAR = """
SELECT event_id,
       CONCAT('default/t/', event_type, '/value/', strftime(ts, '%Y/%m/%d'),
              '/f', CAST(event_id AS VARCHAR), '.npz') AS path,
       regexp_extract(CONCAT('default/t/', event_type, '/value/',
                             strftime(ts, '%Y/%m/%d'), '/f',
                             CAST(event_id AS VARCHAR), '.npz'),
                      '^[^/]+/[^/]+/([^/]+)/', 1) AS collection_from_path
FROM events WHERE event_id < 200
"""


def q_tile_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-array packing (TILES_SCHEMA, COG-blocking analog): daily grid →
    4×4 tiles; per-tile valid-pixel count and sum are SQL-checkable even
    though the packed arrays themselves aren't."""
    from georiva_spark.operators.tiles import to_tiles
    g = events_grid(spark, sf_dir).where(F.col("variable") == "signup")
    daily = (g.groupBy("collection", "variable", "y", "x",
                       F.date_trunc("day", "time").alias("time"))
              .agg(F.sum(_dec(F.col("value"))).cast("double").alias("value")))
    t = to_tiles(daily, tile_size=4)
    valid = F.filter("values", lambda v: v.isNotNull())
    return t.select(
        "variable", "time", "tile_y", "tile_x",
        F.size(valid).alias("n_valid"),
        F.round(F.aggregate(valid, F.lit(0.0), lambda a, v: a + v), 4)
         .alias("tile_sum"))


SQL_TILE_PACK = GRID_CTE + """
, daily AS (
  SELECT variable, y, x, CAST(date_trunc('day', time) AS TIMESTAMP) AS time,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
  FROM grid WHERE variable = 'signup' GROUP BY variable, y, x, date_trunc('day', time))
SELECT variable, time, CAST(y // 4 AS INTEGER) AS tile_y,
       CAST(x // 4 AS INTEGER) AS tile_x,
       COUNT(value) AS n_valid, ROUND(SUM(value), 4) AS tile_sum
FROM daily GROUP BY variable, time, y // 4, x // 4
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (session_window stateful aggregation, the
    streaming-native form) checked against the LAG+cumsum SQL formulation.
    Session sums of 2-decimal values round(4)-safely (exact rationals)."""
    from georiva_spark.streaming.sessions import sessionize_declarative
    ev = load_table(spark, sf_dir, "events")
    out = sessionize_declarative(ev, gap="10 minutes")
    return out.select("user_id", "session_start", "session_end", "n_events",
                      F.round("total_value", 4).alias("total_value"))


SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR ts - LAG(ts) OVER w > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 10 MINUTE AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM sess GROUP BY user_id, sid
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per channel (styling-range analog of
    A8: value_min/value_max percentile clipping). Sort-based — value order,
    not accumulation order, determines the result in both engines."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.percentile("value", 0.25).alias("p25"),
                 F.percentile("value", 0.5).alias("p50"),
                 F.percentile("value", 0.9).alias("p90")))


SQL_PERCENTILES = """
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90
FROM events GROUP BY event_type
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx-distinct users per event type — the cardinality path at
    100 TB where exact COUNT(DISTINCT) would shuffle every key. The raw
    sketch estimate is engine-specific, so the driver-facing output is
    the exact count plus `within_rsd`, a boolean asserting the HLL
    estimate landed within 5× the declared rsd (1%) of exact (floor of
    5 absolute for tiny groups) — the oracle computes exact + TRUE, so a
    broken sketch (off by orders of magnitude) flips the hash."""
    ev = load_table(spark, sf_dir, "events")
    agg = (ev.groupBy("event_type")
           .agg(F.approx_count_distinct("user_id", rsd=0.01)
                .alias("approx_users"),
                F.countDistinct("user_id").alias("exact_users"),
                F.count(F.lit(1)).alias("n")))
    tol = F.greatest(F.lit(5.0), F.lit(0.05) * F.col("exact_users"))
    return agg.select(
        "event_type", "exact_users", "n",
        (F.abs(F.col("approx_users") - F.col("exact_users")) <= tol)
        .alias("within_rsd"))


SQL_APPROX_DISTINCT = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS within_rsd
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Rows-only (no DuckDB equivalent; driver records rows-only check)
# ---------------------------------------------------------------------------

def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — portable shingle hash so the DuckDB
    oracle reproduces signatures, banding, and est-Jaccard exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.3, portable=True)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.2)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping 64-token windows, 16-token
    overlap — executor-side explode, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.chunk_documents(docs, chunk_tokens=64, overlap=16)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents augmented with deterministic
    synthetic PII (the corpus itself is clean words — the augmentation
    makes the oracle non-vacuous: every row has an email, IP, and
    phone to find and mask)."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn("text", F.concat(
        F.lit("user"), F.col("doc_id").cast("string"),
        F.lit("@example.com +1 555 01"),
        (F.col("doc_id") % 90 + 10).cast("string"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 "), F.col("text")))
    return textops.scrub_pii(aug)


def q_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction over documents wrapped in deterministic
    markup (script/style/comment blocks, entities, structural tags) —
    the augmentation makes the oracle non-vacuous, same pattern as
    pii_scrub. Both engines run the identical RE2-safe rule chain."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn("text", F.concat(
        F.lit("<html><head><style>p{color:red}</style>"
              "<script>if(a<b){go()}</script></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><!-- hidden --><p>"), F.col("text"),
        F.lit("</p><div>tail &amp; end</div></body></html>")))
    return textops.html_to_text(aug)


def _sql_html_text() -> str:
    """Oracle built from the SAME rule chain html_to_text applies."""
    expr = "html"
    for pat, repl in textops.HTML_STRIP_RULES:
        p = pat.replace("'", "''")
        r = "chr(10)" if repl == "\n" else "'" + repl.replace("'", "''") + "'"
        expr = f"regexp_replace({expr}, '{p}', {r}, 'g')"
    return f"""
WITH aug AS (SELECT doc_id,
  '<html><head><style>p{{color:red}}</style>'
  || '<script>if(a<b){{go()}}</script></head><body><h1>Doc '
  || CAST(doc_id AS VARCHAR) || '</h1><!-- hidden --><p>' || text
  || '</p><div>tail &amp; end</div></body></html>' AS html
  FROM documents)
SELECT doc_id, {expr} AS clean_text,
  len(regexp_extract_all(html, '<[^>]+>')) AS n_tags_removed
FROM aug
"""


SQL_HTML_TEXT = _sql_html_text()


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.repetition_scores(docs)


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of documents (20% en, 10% de,
    5% everything else) — reproducible across engines, which is exactly
    what the oracle checks."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    samp = sampling.stratified_hash_sample(
        docs, rates={"en": 0.2, "de": 0.1}, strata_col="lang",
        default_rate=0.05)
    return samp.select("doc_id", "lang", "source")


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (98/1/1% in integer
    ppm): every doc lands in exactly one split by md5-bucket
    thresholds; the oracle recomputes the identical bucket arithmetic,
    so counts AND memberships hash-match."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.split_assign(
        docs, {"train": 980_000, "val": 10_000, "test": 10_000})
    return out.select("doc_id", "lang", "split")


SQL_SPLIT_ASSIGN = """
WITH b AS (
  SELECT doc_id, lang,
         CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)),
              1, 15) AS BIGINT) % 1000000 AS bucket
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN bucket < 980000 THEN 'train'
            WHEN bucket < 990000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into training shards (r8):
    shard = md5-route, pos = md5-rank within the shard — the
    reproducible pseudorandom permutation a training loader reads
    (seeded orderBy(rand()) is partitioning-dependent; this is not).
    The oracle recomputes the identical route + rank in SQL, so shard
    membership AND positions hash-match."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.shuffle_shards(docs, n_shards=8)
    return out.select("doc_id", "shard", "pos")


SQL_SHUFFLE_SHARDS = """
WITH b AS (
  SELECT doc_id,
         md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents)
SELECT doc_id,
       CAST(CAST('0x' || substring(h, 1, 15) AS BIGINT) % 8 AS INT)
         AS shard,
       CAST(row_number() OVER (
           PARTITION BY CAST('0x' || substring(h, 1, 15) AS BIGINT) % 8
           ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
FROM b
"""


def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard EXPORT (r8): the documents corpus materializes
    as one pos-ordered file per shard directory (the loader layout),
    and the returned manifest — shard, record count, pos range — is
    derived from the same md5 permutation, so the oracle recomputes it
    straight from the shuffle definition. The export write itself is
    pytest-verified (one file per shard, read-back order = the
    permutation); the manifest is what a loader consumes."""
    import os
    import tempfile

    from georiva_spark.sources.tables import export_shards

    docs = load_table(spark, sf_dir, "documents")
    d = _fixture_tmp(spark, "shards")
    return export_shards(docs, d, n_shards=8)


SQL_SHARD_EXPORT = """
WITH b AS (
  SELECT CAST(CAST('0x' || substring(
             md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) % 8 AS INT) AS shard
  FROM documents)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS min_pos,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_pos
FROM b GROUP BY shard ORDER BY shard
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum token-budget draw (r8): each lang's documents order
    by md5 bucket and the kept set is the prefix that first covers the
    token budget (crossing doc included). The oracle replays the
    bucket order, the whitespace token counts, and the running-sum
    cut, so memberships and cumulative totals hash-match."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.token_budget_sample(docs, budget_tokens=2_000,
                                       strata_col="lang")
    return out.select("doc_id", "lang", "n_tokens", "cum_tokens")


SQL_TOKEN_BUDGET = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
              END AS BIGINT) AS n_tokens,
         CAST('0x' || substring(md5('budget:' || CAST(doc_id AS VARCHAR)),
              1, 15) AS BIGINT) % 1000000 AS bucket
  FROM documents),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang
                             ORDER BY bucket, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_tokens
  FROM t)
SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens - n_tokens < 2000
"""


def q_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch up-sampling token budget (r9 — the LLaMA recipe-table
    'epochs' column): each lang's budget exceeds its token total, so
    epoch 0 keeps everything and the crossing epoch draws a residual
    prefix over its OWN md5 permutation (salt '#e1'), capped at
    max_epochs. The oracle replays the per-stratum totals, the
    crossing-epoch arithmetic, the full-epoch fan-out, and the
    residual prefix draw — memberships AND epochs hash-match."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.token_budget_epochs(docs, budget_tokens=8_000,
                                       max_epochs=3, strata_col="lang")
    return out.select("doc_id", "lang", "epoch", "n_tokens")


SQL_TOKEN_BUDGET_EPOCHS = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
              END AS BIGINT) AS n_tokens
  FROM documents),
tot AS (SELECT lang, SUM(n_tokens) AS ts FROM t GROUP BY lang),
plan AS (SELECT lang, ts,
                LEAST(3, 8000 // ts) AS n_full,
                8000 - LEAST(3, 8000 // ts) * ts AS residual
         FROM tot WHERE ts > 0),
full_rows AS (
  SELECT t.doc_id, t.lang, CAST(e.epoch AS INTEGER) AS epoch,
         t.n_tokens
  FROM t JOIN plan USING (lang)
  CROSS JOIN LATERAL unnest(range(0, CAST(plan.n_full AS BIGINT)))
    AS e(epoch)),
part AS (
  SELECT t.doc_id, t.lang, t.n_tokens, plan.n_full, plan.residual,
         CAST('0x' || substring(md5(
             (CASE WHEN plan.n_full = 0 THEN 'budget'
                   ELSE 'budget#e' || plan.n_full END)
             || ':' || CAST(t.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 AS bucket
  FROM t JOIN plan USING (lang)
  WHERE plan.n_full < 3 AND plan.residual > 0),
pc AS (
  SELECT doc_id, lang, n_tokens, n_full, residual,
         SUM(n_tokens) OVER (PARTITION BY lang
                             ORDER BY bucket, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM part)
SELECT doc_id, lang, epoch, n_tokens FROM full_rows
UNION ALL
SELECT doc_id, lang, CAST(n_full AS INTEGER) AS epoch, n_tokens
FROM pc WHERE cum - n_tokens < residual
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datacard rollup (r9): the per-language × per-source
    composition table a released training set ships — doc counts,
    whitespace-token and char sums, mean doc length — for every CUBE
    combination in ONE pass (map-side-combined, output bounded by the
    stratum combinations). Rollup cells print '<all>' via GROUPING()
    so genuine NULL strata stay distinguishable. The oracle recomputes
    the cube with the same token convention; the mean is one exact
    integer division (no rounding, no float fold)."""
    from georiva_spark.operators.textops import corpus_stats
    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats(docs, dims=("lang", "source"))


SQL_CORPUS_STATS = """
WITH t AS (
  SELECT lang, source,
         CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+'))
              END AS BIGINT) AS n_tokens,
         CAST(COALESCE(length(text), 0) AS BIGINT) AS n_chars_
  FROM documents)
SELECT
  CASE WHEN GROUPING(lang) = 1 THEN '<all>'
       ELSE CAST(lang AS VARCHAR) END AS lang,
  CASE WHEN GROUPING(source) = 1 THEN '<all>'
       ELSE CAST(source AS VARCHAR) END AS source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(SUM(n_chars_) AS BIGINT) AS sum_chars,
  CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_doc_tokens
FROM t
GROUP BY CUBE (lang, source)
"""


def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding-parameter calibration (r9 — the text-family
    sibling of ann_recall): on a 60% md5 document sample, exact
    3-gram Jaccard ground truth over all within-sample pairs vs the
    production minhash_lsh_pairs path at the same (64, 16, 0.3) —
    end-to-end recall (banding misses + estimator error together) and
    precision. The oracle replays the sample, the exact Jaccard, the
    portable-hash banding + estimates, and the reconciliation."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_recall_estimate(
        docs, threshold=0.3, sample_ppm=600_000, portable=True)


def _minhash_recall_ctes(threshold: float = 0.3,
                         sample_ppm: int = 600_000,
                         num_hashes: int = 64, bands: int = 16) -> str:
    """The CTE chain (smp..flat, no leading WITH) replaying
    minhash_recall_estimate: md5 sample → exact Jaccard truth
    (string 3-shingles — same set semantics as the hashed shingle
    sets) → portable minhash banding + est-Jaccard → pair-set
    reconciliation. Shared by the minhash_recall oracle and the
    minhash_tune measured leg (r11)."""
    a, b = dedup.minhash_coeffs(num_hashes)
    r = num_hashes // bands
    mins = ", ".join(
        f"list_min(list_transform(s, v -> "
        f"(CAST(v AS HUGEINT) * {int(a[j])} + {int(b[j])})"
        f" % 18446744073709551616))" for j in range(num_hashes))
    unsig = ("list_transform(u, m -> CAST(CASE "
             "WHEN m >= 9223372036854775808 "
             "THEN m - 18446744073709551616 ELSE m END AS BIGINT))")
    est = (f"CAST(len(list_filter(range(0, {num_hashes}), "
           f"i -> sa[i+1] = sb[i+1])) AS DOUBLE) / {float(num_hashes)}")
    jac = "CAST(inter AS DOUBLE) / (sa2.sz + sb2.sz - inter)"
    return f"""smp AS (SELECT doc_id, text FROM documents
             WHERE CAST('0x' || substring(md5('mh-recall:' ||
                   CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 1000000 < {sample_ppm}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM smp),
shs AS (SELECT doc_id, list_distinct(
    list_transform(range(0, greatest(len(t)-3, 0)+1),
                   i -> {_SHINGLE_STR})) AS s FROM toks),
sizes AS (SELECT doc_id, len(s) AS sz FROM shs),
inv AS (SELECT doc_id, unnest(s) AS g FROM shs),
ip AS (SELECT l.doc_id AS doc_a, r2.doc_id AS doc_b, COUNT(*) AS inter
       FROM inv l JOIN inv r2 ON l.g = r2.g AND l.doc_id < r2.doc_id
       GROUP BY 1, 2),
truth AS (SELECT doc_a, doc_b
          FROM ip JOIN sizes sa2 ON sa2.doc_id = doc_a
                  JOIN sizes sb2 ON sb2.doc_id = doc_b
          WHERE {jac} >= {threshold}),
shh AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM toks),
sigu AS (SELECT doc_id, [{mins}] AS u FROM shh),
sig AS (SELECT doc_id, {unsig} AS sig FROM sigu),
banded AS (SELECT doc_id, sig, bb.band AS band,
                  sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
           FROM sig CROSS JOIN
                (SELECT unnest(range(0, {bands})) AS band) bb),
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r2.doc_id AS doc_b,
                l.sig AS sa, r2.sig AS sb
         FROM banded l JOIN banded r2
           ON l.band = r2.band AND l.key = r2.key
              AND l.doc_id < r2.doc_id),
got AS (SELECT doc_a, doc_b FROM cand WHERE {est} >= {threshold}),
u AS (SELECT doc_a, doc_b, 1 AS t, 0 AS g FROM truth
      UNION ALL SELECT doc_a, doc_b, 0, 1 FROM got),
flat AS (SELECT doc_a, doc_b, MAX(t) AS t, MAX(g) AS g
         FROM u GROUP BY doc_a, doc_b)"""


def _sql_minhash_recall(threshold: float = 0.3,
                        sample_ppm: int = 600_000,
                        num_hashes: int = 64, bands: int = 16) -> str:
    """Full minhash_recall_estimate replay: the shared CTE chain plus
    the one-row reconciliation SELECT with NULL-safe ratios."""
    ctes = _minhash_recall_ctes(threshold, sample_ppm,
                                num_hashes, bands)
    return f"""
WITH {ctes}
SELECT {float(threshold)} AS threshold,
       CAST({num_hashes} AS INTEGER) AS num_hashes,
       CAST({bands} AS INTEGER) AS bands,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM smp) AS n_docs,
       CAST(COALESCE(SUM(t), 0) AS BIGINT) AS true_pairs,
       CAST(COALESCE(SUM(t * g), 0) AS BIGINT) AS caught_pairs,
       CASE WHEN COALESCE(SUM(t), 0) > 0
            THEN ROUND(CAST(SUM(t * g) AS DOUBLE) / SUM(t), 6)
            END AS recall,
       CAST(COALESCE(SUM(g), 0) AS BIGINT) AS flagged_pairs,
       CASE WHEN COALESCE(SUM(g), 0) > 0
            THEN ROUND(CAST(SUM(t * g) AS DOUBLE) / SUM(g), 6)
            END AS precision
FROM flat
"""


def q_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-X%-by-score quality cut (r8): keep the top 30% of each
    lang's documents by score (n_chars stands in for a model score)
    WITHOUT sorting the corpus — one bounded histogram aggregation,
    exact integer threshold arithmetic on the driver, an md5 fraction
    filling the boundary bin, then a scan-speed keep predicate. The
    oracle recomputes the histogram, per-stratum thresholds, and
    boundary-bin memberships, so the kept sets hash-match."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.quality_threshold(
        docs, "n_chars", keep_ppm=300_000, strata_col="lang",
        bins=100, score_min=0.0, score_max=5000.0)
    return out.select("doc_id", "lang", "n_chars")


SQL_QUALITY_THRESHOLD = """
WITH base AS (
  SELECT doc_id, lang, n_chars,
         LEAST(99, GREATEST(0,
             CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 5000.0 * 100)
                  AS INT))) AS bin,
         CAST('0x' || substring(md5('qthr:' || CAST(doc_id AS VARCHAR)),
              1, 15) AS BIGINT) % 1000000 AS bk
  FROM documents),
h AS (SELECT lang, bin, COUNT(*) AS c FROM base GROUP BY lang, bin),
tgt AS (SELECT lang, SUM(c) * 300000 // 1000000 AS target
        FROM h GROUP BY lang),
cum AS (SELECT h.lang, h.bin, h.c,
               SUM(h.c) OVER (PARTITION BY h.lang
                              ORDER BY h.bin DESC) AS cum_ge
        FROM h),
thr AS (SELECT cum.lang, MAX(cum.bin) AS thr
        FROM cum JOIN tgt USING (lang)
        WHERE cum.cum_ge >= tgt.target GROUP BY cum.lang),
wn AS (SELECT t.lang, t.thr,
              (tg.target - COALESCE(SUM(c2.c), 0)) * 1000000
                // MAX(h2.c) AS within_ppm
       FROM thr t
       JOIN tgt tg ON tg.lang = t.lang
       JOIN h h2 ON h2.lang = t.lang AND h2.bin = t.thr
       LEFT JOIN h c2 ON c2.lang = t.lang AND c2.bin > t.thr
       GROUP BY t.lang, t.thr, tg.target)
SELECT b.doc_id, b.lang, b.n_chars
FROM base b JOIN wn ON wn.lang = b.lang
WHERE b.bin > wn.thr OR (b.bin = wn.thr AND b.bk < wn.within_ppm)
"""


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data recipe (r9): one plan chaining the
    r8 recipe operators end-to-end the way a real corpus build runs
    them — quality cut (top 60% per lang by score) → fuzzy
    decontamination vs the truncated-benchmark fixture → leakage-safe
    cluster-aware split (train side) → per-lang token-budget draw →
    deterministic shard shuffle → per-shard manifest. Each stage is
    individually oracle-proven; THIS query proves the cross-operator
    contracts hold under composition (column collisions, filter
    pushthrough, hash determinism across stage boundaries). The
    oracle replays all six stages as one CTE chain and the manifests
    hash-match."""
    from georiva_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    qt = sampling.quality_threshold(
        docs, "n_chars", keep_ppm=600_000, strata_col="lang",
        bins=100, score_min=0.0, score_max=5000.0)
    toks = F.split(F.col("text"), " ")
    bench = docs.where(F.col("doc_id") % 20 == 0).select(
        "doc_id",
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))),
            " ").alias("text"))
    audit = dedup.fuzzy_decontaminate(qt, bench, threshold=0.5,
                                      portable=True)
    clean = qt.join(audit.where(~F.col("contaminated"))
                    .select("doc_id"), "doc_id", "left_semi")
    pairs = dedup.minhash_lsh_pairs(clean, threshold=0.3, portable=True)
    split = sampling.cluster_aware_split(
        clean, pairs, {"train": 980_000, "val": 10_000, "test": 10_000})
    train = clean.join(split.where(F.col("split") == "train")
                       .select("doc_id"), "doc_id", "left_semi")
    tb = sampling.token_budget_sample(train, budget_tokens=1_500,
                                      strata_col="lang")
    sh = sampling.shuffle_shards(
        tb.select("doc_id", "lang", "n_tokens"), n_shards=8)
    return (sh.groupBy("shard")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.min("pos").cast("long").alias("min_pos"),
                 F.max("pos").cast("long").alias("max_pos"),
                 F.sum("n_tokens").cast("long").alias("sum_tokens"))
            .orderBy("shard"))


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split assignment (r7): near-duplicate documents
    (MinHash-LSH pairs → connected components) share a cluster id and
    the split hash runs on THAT, so no near-dup pair ever straddles
    train/val/test. The oracle replays the portable-hash pair set, the
    recursive-CTE closure, and the identical md5-bucket thresholds —
    counts AND memberships hash-match."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3, portable=True)
    return sampling.cluster_aware_split(
        docs, pairs, {"train": 980_000, "val": 10_000, "test": 10_000})


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-composition corpus mixing: sample so the output is ~50% en /
    30% zh / 20% de at ~40% of corpus size, with exact-integer per-stratum
    thresholds the oracle recomputes from the same counts. Rare strata
    saturate at keep-everything instead of inventing rows."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.source_mix(
        docs, weights_ppm={"en": 500_000, "zh": 300_000, "de": 200_000},
        budget_ppm=400_000, strata_col="lang")
    return out.select("doc_id", "lang", "source")


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based α-sampling (XLM-R/mT5, arXiv:1911.02116 §3.1)
    at α=0.5 over the language strata, 50% budget: target shares
    q_s ∝ √p_s flatten the language distribution toward uniform. The
    oracle recomputes the weights from the same counts with exact
    integer square roots in HUGEINT (floor(sqrt) double seed, ±1
    correction), so thresholds — and the kept rows — match
    bit-identically."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.temperature_mix(docs, alpha=0.5, budget_ppm=500_000,
                                   strata_col="lang")
    return out.select("doc_id", "lang", "source")


SQL_TEMPERATURE_MIX = """
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
isq0 AS (SELECT lang, n,
                CAST(floor(sqrt(CAST(n AS DOUBLE) * 1e12)) AS HUGEINT)
                    AS s0
         FROM counts),
isq AS (SELECT lang, n,
               CASE WHEN (s0 + 1) * (s0 + 1)
                         <= CAST(n AS HUGEINT) * 1000000000000
                    THEN s0 + 1
                    WHEN s0 * s0 > CAST(n AS HUGEINT) * 1000000000000
                    THEN s0 - 1
                    ELSE s0 END AS s
        FROM isq0),
ts AS (SELECT SUM(s) AS tot_s FROM isq),
w AS (SELECT lang, n, (s * 1000000) // t.tot_s AS w_ppm
      FROM isq CROSS JOIN ts t),
tot AS (SELECT SUM(n) AS total FROM counts),
thr AS (SELECT w.lang,
               least(1000000,
                     (CAST(500000 AS HUGEINT) * w.w_ppm * t.total)
                     // (CAST(w.n AS HUGEINT) * 1000000)) AS t
        FROM w CROSS JOIN tot t)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN thr ON d.lang = thr.lang
WHERE CAST('0x' || substring(md5('georiva-temp:'
                                 || CAST(d.doc_id AS VARCHAR)),
                             1, 15) AS BIGINT) % 1000000 < thr.t
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-set decontamination against a held-out eval slice: the eval
    set is a deterministic 10% hash split; a train-side doc is flagged on
    ANY token 8-gram collision with an eval doc — the GPT-3-style long-
    n-gram rule, where a single shared long n-gram means leakage (short
    n-grams collide on ordinary phrases; 8-grams only on copied text).
    Portable hashes so the DuckDB oracle reproduces the collision set
    exactly."""
    from georiva_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    bench = sampling.hash_sample(docs, 0.1, salt="evalset")
    corpus = sampling.hash_sample(docs, 0.1, salt="evalset",
                                  complement=True)
    return dedup.decontaminate(corpus, bench, n=8, min_overlap=1,
                               portable=True)


def q_fuzzy_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate decontamination (r7): the benchmark is every
    20th document TRUNCATED by two tokens — the lightly-edited leak
    exact long-n-gram rules can miss near the cut; any corpus doc
    whose MinHash est-Jaccard against a benchmark doc reaches 0.5 is
    flagged. Portable hashes end-to-end; the oracle replays the
    truncation, both signature sets, the banding, and the per-doc MAX
    estimate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bench = docs.where(F.col("doc_id") % 20 == 0).select(
        "doc_id",
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))),
            " ").alias("text"))
    return dedup.fuzzy_decontaminate(docs, bench, threshold=0.5,
                                     portable=True)


def q_bow_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality score (fastText-style filter
    plumbing) — scaled-integer weight sum so Spark and DuckDB agree
    bit-for-bit regardless of fold order."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.bow_classifier_score(docs)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: MinHash-LSH pairs → connected
    components (alternating large/small-star) → per-doc cluster id +
    canonical flag. MinHash is the pair source because it is the one
    that scales (bucketed, never Σdf²); the oracle reproduces the
    components with a recursive-CTE transitive closure over the
    identical portable-hash pair set."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3, portable=True)
    return dedup.dedup_clusters(docs, pairs)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole banding (Hamming ≤ 2 ⇒ one
    of 3 disjoint bands matches exactly) + bit_count verify. The oracle
    checks the SEMANTICS all-pairs (fine at 500 docs); the Spark plan is
    the bucketed band join that never goes quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=2, portable=True)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash codes — portable hash so the DuckDB oracle reproduces the
    per-bit majority votes exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, portable=True)


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.language_id(docs)


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint cardinality per doc — portable hash so the
    DuckDB oracle reproduces the exact window minima."""
    docs = load_table(spark, sf_dir, "documents")
    return (textops.fingerprint(docs, portable=True)
            .select("doc_id", F.size("fingerprints").alias("n_fingerprints")))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 128-token training windows, 8 shards —
    greedy per-shard fill reproduced by a recursive CTE in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.pack_sequences(docs, context_len=128, num_shards=8)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textops.token_count_bpe_ish(docs)


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN probe with pinned coarse centroids (deterministic corpus
    rows, in-row argmin assignment, zero shuffle) — cell assignment AND
    the probed top-k are exact closed-form arithmetic, so DuckDB
    reproduces them. The KMeans-trained quantizer path (knn_ivf) keeps
    its pytest recall bound instead — training isn't SQL-reproducible."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_ivf_pinned(emb, query_vec_id=0, k=5,
                                     n_centroids=8, nprobe=2)


SQL_KNN_IVF = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
dist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM dist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
probe AS (SELECT c AS cell FROM dist WHERE vec_id = 0
          QUALIFY row_number() OVER (ORDER BY d2, c) <= 2),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT a.vec_id, a.cell,
    (SELECT SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i)) AS dot,
    SQRT((SELECT SUM(CAST(e.embedding[i] AS DOUBLE)
                   * CAST(e.embedding[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS na,
    SQRT((SELECT SUM(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS nb
  FROM embeddings e
  JOIN assign a ON e.vec_id = a.vec_id
  JOIN probe p ON a.cell = p.cell, q
  WHERE e.vec_id <> 0)
SELECT vec_id, cell, ROUND(dot / (na * nb), 4) AS cosine
FROM sims ORDER BY dot / (na * nb) DESC, vec_id LIMIT 5
"""


def q_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent partitioned IVF index (r6): the embeddings table
    materializes PARTITIONED BY cell (pinned quantizer, zero-shuffle
    in-row assignment) with a bounded centroid sidecar; the probe's
    cell predicate prunes the scan at file-listing time
    (PartitionFilters, plan-asserted) — the pay-assignment-once layout
    knn_ivf recomputes per call. Same closed-form answer as knn_ivf,
    so the oracle is the identical SQL."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfidx")
    similarity.ivf_index_write(emb, "t_ivfidx", os.path.join(d, "idx"),
                               n_centroids=8)
    q = (emb.where(F.col("vec_id") == 0)
         .select("embedding").head().embedding)
    return similarity.ivf_index_probe(spark, "t_ivfidx", q, k=5,
                                      nprobe=2, exclude_vec_id=0)


def q_ivf_probe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving against the persistent IVF index (r6): three
    query vectors route in-row to their nprobe cells, ONE broadcast
    join against the cell-partitioned index answers all of them, and
    the scan's static partition filter covers only the probed-cell
    union. Same closed-form arithmetic as knn_ivf, so the oracle
    replays assignment, per-query cell pick, and the ranked cosines."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfidx")
    similarity.ivf_index_write(emb, "t_ivfidxb", os.path.join(d, "idxb"),
                               n_centroids=8)
    queries = (emb.where(F.col("vec_id").isin([0, 1, 2]))
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    return similarity.ivf_index_probe_batch(spark, "t_ivfidxb", queries,
                                            k=5, nprobe=2,
                                            exclude_self=True)


def q_ivf_filtered_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED batch ANN (r8): a metadata predicate (label = 2)
    rides the index scan alongside the cell partition filter — the
    float index stores every attribute column the corpus had, so
    filter-then-rank costs nothing extra and non-matching candidates
    never enter the serving join (pushed to parquet; plan-asserted in
    pytest). nprobe is raised to 3 per the selective-filter recall
    rule. The oracle replays assignment, routing, the predicate, and
    the per-query ranked cosines."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfidx")
    similarity.ivf_index_write(emb, "t_ivfidxf", os.path.join(d, "idxf"),
                               n_centroids=8)
    queries = (emb.where(F.col("vec_id").isin([0, 1, 2]))
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    return similarity.ivf_index_probe_batch(
        spark, "t_ivfidxf", queries, k=5, nprobe=3, exclude_self=True,
        candidate_filter="label = 2")


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-calibration harness (r9): md5-sample ~3% of the indexed
    ids as queries, exact cosine top-5 ground truth on the sample (one
    corpus scan against the broadcast sample), probe the pinned IVF
    index at nprobe 1 and 2, report measured recall@5 per setting —
    the sizing loop a production user runs before committing to an
    nprobe. The oracle replays the sample, the exact top-k, both
    probe settings (assignment + routing + ranked cosines), and the
    hit counts, so the recall numbers hash-match."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfidx")
    similarity.ivf_index_write(emb, "t_ivfrc", os.path.join(d, "idxrc"),
                               n_centroids=8)
    return similarity.ann_recall_estimate(
        spark, "t_ivfrc", k=5, nprobes=(1, 2), sample_ppm=30_000)


def _sql_ann_recall(k: int = 5, nprobes=(1, 2),
                    sample_ppm: int = 30_000, n_cents: int = 8,
                    d: int = 64) -> str:
    """Replay ann_recall_estimate end-to-end: pinned centroids, cell
    assignment, the md5 query sample, exact cosine top-k truth, the
    per-nprobe probe (same ranked-cosine arithmetic as
    SQL_IVF_PROBE_BATCH), and the per-setting hit aggregation."""
    def dot(x, y):
        return (f"(SELECT SUM(CAST({x}[i] AS DOUBLE) * "
                f"CAST({y}[i] AS DOUBLE)) "
                f"FROM generate_series(1, {d}) AS t(i))")

    def l2(x, y):
        return (f"(SELECT SUM((CAST({x}[i] AS DOUBLE) - "
                f"CAST({y}[i] AS DOUBLE)) * (CAST({x}[i] AS DOUBLE) - "
                f"CAST({y}[i] AS DOUBLE))) "
                f"FROM generate_series(1, {d}) AS t(i))")

    cos = (f"{dot('e.embedding', 'q.qe')} / "
           f"(SQRT({dot('e.embedding', 'e.embedding')}) * "
           f"SQRT({dot('q.qe', 'q.qe')}))")
    branches = []
    for np_ in nprobes:
        branches.append(f"""
probe{np_} AS (SELECT vec_id AS q_id, c AS cell FROM dist
          WHERE vec_id IN (SELECT q_id FROM qs)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= {np_}),
got{np_} AS (
  SELECT p.q_id, e.vec_id
  FROM embeddings e
  JOIN assign a ON e.vec_id = a.vec_id
  JOIN probe{np_} p ON a.cell = p.cell
  JOIN qs q ON q.q_id = p.q_id
  WHERE e.vec_id <> p.q_id
  QUALIFY row_number() OVER (PARTITION BY p.q_id
                             ORDER BY {cos} DESC, e.vec_id) <= {k}),
res{np_} AS (
  SELECT {np_} AS nprobe, 0 AS shortlist, {k} AS k,
         (SELECT COUNT(DISTINCT q_id) FROM truth) AS n_queries,
         (SELECT COUNT(*) FROM truth) AS truth_rows,
         (SELECT COUNT(*) FROM got{np_} g JOIN truth t
            ON g.q_id = t.q_id AND g.vec_id = t.vec_id) AS hits)""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM res{np_}"
                                 for np_ in nprobes)
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // {n_cents}) + (nn.n // {n_cents}) // 2
                    AS BIGINT) AS vid
        FROM range({n_cents}) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
dist AS (SELECT e.vec_id, cent.c, {l2('e.embedding', 'cent.ce')} AS d2
         FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM dist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       WHERE CAST('0x' || substring(md5('recall:' ||
             CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 < {sample_ppm}),
truth AS (
  SELECT q.q_id, e.vec_id
  FROM embeddings e JOIN qs q ON e.vec_id <> q.q_id
  QUALIFY row_number() OVER (PARTITION BY q.q_id
                             ORDER BY {cos} DESC, e.vec_id) <= {k}),
{','.join(branches)}
SELECT CAST(nprobe AS INTEGER) AS nprobe,
       CAST(shortlist AS INTEGER) AS shortlist,
       CAST(k AS INTEGER) AS k,
       CAST(n_queries AS BIGINT) AS n_queries,
       CAST(truth_rows AS BIGINT) AS truth_rows,
       CAST(hits AS BIGINT) AS hits,
       ROUND(CAST(hits AS DOUBLE) / truth_rows, 6) AS recall
FROM ({union})
"""


SQL_ANN_RECALL = _sql_ann_recall()


def q_ann_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-target auto-sizer (r10 — the capstone over ann_recall):
    measure recall at nprobe 1 and 2 through the serving path, price
    each setting with cost = nprobe·⌈N/C⌉ (+shortlist), and return
    the cheapest setting meeting target_recall=0.9 — or the
    best-recall row flagged meets_target=false. The oracle replays
    the full recall grid (SQL_ANN_RECALL) plus the pricing and the
    total selection order, so the chosen row hash-matches."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivftn")
    similarity.ivf_index_write(emb, "t_ivftn",
                               os.path.join(d, "idxtn"), n_centroids=8)
    return similarity.ann_tune(spark, "t_ivftn", target_recall=0.9,
                               k=5, nprobes=(1, 2), sample_ppm=30_000)


def _sql_ann_measured_cost(nprobes: tuple, sample_ppm: int = 30_000,
                           n_cents: int = 8, d: int = 64) -> str:
    """Nested-WITH subquery replaying ann_tune's measured (skew-aware)
    pricing: the pinned centroids, the cell assignment (= the real
    cell sizes), the md5 query sample, the per-query nprobe routing,
    and the per-setting average of actual candidate rows scanned.
    → (nprobe, mc)."""
    vals = ", ".join(f"({int(np_)})" for np_ in nprobes)
    maxnp = max(int(np_) for np_ in nprobes)
    return f"""(
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // {n_cents}) + (nn.n // {n_cents}) // 2
                    AS BIGINT) AS vid
        FROM range({n_cents}) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
dist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, {d}) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM dist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
csz AS (SELECT cell, COUNT(*) AS sz FROM assign GROUP BY cell),
qs AS (SELECT vec_id AS q_id FROM embeddings
       WHERE CAST('0x' || substring(md5('recall:' ||
             CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 < {sample_ppm}),
pr AS (SELECT vec_id AS q_id, c AS cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2, c) AS pos
       FROM dist WHERE vec_id IN (SELECT q_id FROM qs)
       QUALIFY pos <= {maxnp}),
nps(np) AS (VALUES {vals}),
perq AS (SELECT pr.q_id, nps.np,
                SUM(COALESCE(csz.sz, 0)) AS cand
         FROM pr LEFT JOIN csz ON csz.cell = pr.cell
         JOIN nps ON pr.pos <= nps.np
         GROUP BY pr.q_id, nps.np)
SELECT np AS nprobe, ROUND(AVG(CAST(cand AS DOUBLE)), 6) AS mc
FROM perq GROUP BY np)"""


def _sql_ann_tune(target: float = 0.9, n_cents: int = 8,
                  nprobes: tuple = (1, 2)) -> str:
    return f"""
WITH rows AS ({_sql_ann_recall()}),
nn2 AS (SELECT COUNT(*) AS c FROM embeddings),
mcs AS {_sql_ann_measured_cost(nprobes, n_cents=n_cents)},
priced AS (
  SELECT rows.*,
         CAST(rows.nprobe * ((nn2.c + {n_cents} - 1) // {n_cents})
              + shortlist AS BIGINT) AS cost,
         ROUND(mcs.mc + CAST(shortlist AS DOUBLE), 6)
           AS measured_cost,
         CAST({target!r} AS DOUBLE) AS target_recall,
         (ROUND(recall, 6) >= CAST({target!r} AS DOUBLE))
           AS meets_target
  FROM rows CROSS JOIN nn2
  LEFT JOIN mcs ON mcs.nprobe = rows.nprobe)
SELECT nprobe, shortlist, k, n_queries, truth_rows, hits, recall,
       cost, measured_cost, target_recall, meets_target
FROM priced
ORDER BY meets_target DESC,
         CASE WHEN meets_target THEN measured_cost END
           ASC NULLS LAST,
         recall DESC, cost ASC, nprobe ASC, shortlist ASC
LIMIT 1
"""


SQL_ANN_TUNE = _sql_ann_tune()


def q_minhash_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding auto-sizer (r10; measured leg r11): the
    S-curve closed form P(s) = 1 − (1 − s^r)^b priced over every
    (num_hashes, bands) candidate (bands dividing num_hashes),
    threshold 0.3, target recall 0.9 — the full priced grid with
    chosen=true on the min-cost setting meeting target, and the
    chosen row carrying the END-TO-END measured recall/precision
    from minhash_recall_estimate at that setting on a 60% md5
    sample. The oracle replays grid, S-curve, pricing, the total
    selection order, AND the full measurement (sample, exact
    Jaccard truth, portable banding, reconciliation)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_tune(spark, threshold=0.3, target_recall=0.9,
                              num_hashes_grid=(16, 32, 64, 128),
                              docs=docs, sample_ppm=600_000,
                              portable=True)


def _minhash_tune_chosen(threshold: float, target: float,
                         grid: tuple) -> tuple[int, int]:
    """The (num_hashes, bands) minhash_tune selects — replicated in
    Python to parameterize the oracle's measurement CTEs. The
    selection runs on round-6 S-curve values over a FIXED grid, so
    Python/Java/DuckDB pow agree (the r10 oracle already proves the
    6-dp values and the chosen flag match across engines)."""
    from georiva_spark.operators.dedup import minhash_tune_grid
    rows = [(n, b, round(1.0 - (1.0 - threshold ** r) ** b, 6), n + b)
            for n, b, r in minhash_tune_grid(grid)]
    meeting = [x for x in rows if x[2] >= target]
    if meeting:
        meeting.sort(key=lambda x: (x[3], -x[2], x[0], x[1]))
        return meeting[0][0], meeting[0][1]
    rows.sort(key=lambda x: (-x[2], x[0], x[1]))
    return rows[0][0], rows[0][1]


def _sql_minhash_tune(threshold: float = 0.3, target: float = 0.9,
                      grid: tuple = (16, 32, 64, 128),
                      measured_ppm: int | None = None) -> str:
    from georiva_spark.operators.dedup import minhash_tune_grid
    vals = ", ".join(f"({n}, {b}, {r})"
                     for n, b, r in minhash_tune_grid(grid))
    t, h, tg = float(threshold), float(threshold) / 2.0, float(target)
    meas_ctes, meas_cols, meas_tail = "", "", ""
    if measured_ppm is not None:
        nh, nb = _minhash_tune_chosen(threshold, target, grid)
        meas_ctes = ",\n" + _minhash_recall_ctes(
            threshold, measured_ppm, nh, nb) + """,
meas AS (SELECT CASE WHEN COALESCE(SUM(t), 0) > 0
                     THEN ROUND(CAST(SUM(t * g) AS DOUBLE) / SUM(t), 6)
                     END AS m_rec,
                CASE WHEN COALESCE(SUM(g), 0) > 0
                     THEN ROUND(CAST(SUM(t * g) AS DOUBLE) / SUM(g), 6)
                     END AS m_prec
         FROM flat)"""
        meas_cols = (",\n       CASE WHEN chosen THEN m.m_rec END "
                     "AS measured_recall,\n"
                     "       CASE WHEN chosen THEN m.m_prec END "
                     "AS measured_precision")
        meas_tail = " CROSS JOIN meas m"
    return f"""
WITH grid(num_hashes, bands, rows_per_band) AS (VALUES {vals}),
priced AS (
  SELECT CAST(num_hashes AS INTEGER) AS num_hashes,
         CAST(bands AS INTEGER) AS bands,
         CAST(rows_per_band AS INTEGER) AS rows_per_band,
         CAST({t!r} AS DOUBLE) AS threshold,
         CAST({tg!r} AS DOUBLE) AS target_recall,
         ROUND(1.0 - power(1.0 - power(CAST({t!r} AS DOUBLE),
               rows_per_band), bands), 6) + 0.0
           AS recall_at_threshold,
         ROUND(1.0 - power(1.0 - power(CAST({h!r} AS DOUBLE),
               rows_per_band), bands), 6) + 0.0
           AS fp_at_half_threshold,
         CAST(num_hashes + bands AS INTEGER) AS cost
  FROM grid),
flagged AS (
  SELECT *, (recall_at_threshold >= target_recall) AS meets_target
  FROM priced),
sel AS (
  SELECT *, (row_number() OVER (
      ORDER BY meets_target DESC,
               CASE WHEN meets_target THEN cost END ASC NULLS LAST,
               recall_at_threshold DESC,
               num_hashes ASC, bands ASC) = 1) AS chosen
  FROM flagged){meas_ctes}
SELECT s.*{meas_cols}
FROM sel s{meas_tail}
"""




def q_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall harness over the COMPRESSED index family (r9): raw
    ADC probes at nprobe=2 against the pinned IVF-PQ index, ground
    truth = exact L2² top-5 on the md5 query sample (the metric ADC
    approximates — cosine truth would conflate metric mismatch with
    quantization error). The measured recall is honestly low — that
    is the number this harness exists to SHOW, and what sizes the
    refine shortlist. The oracle replays sample, exact-L2 truth,
    assignment, encoding, per-query ADC ranking, and the hit
    aggregation."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfpq")
    similarity.ivf_pq_index_write(emb, "t_ivfrcpq",
                                  os.path.join(d, "idxrcpq"),
                                  n_centroids=8, m=8, nbits=4)
    return similarity.ann_recall_estimate(
        spark, "t_ivfrcpq", k=5, nprobes=(2,), sample_ppm=30_000,
        emb=emb)


SQL_ANN_RECALL_PQ = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
cdist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM cdist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       WHERE CAST('0x' || substring(md5('recall:' ||
             CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 < 30000),
probe AS (SELECT vec_id AS q_id, c AS cell FROM cdist
          WHERE vec_id IN (SELECT q_id FROM qs)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= 2),
pq AS (SELECT CAST(t.i AS BIGINT) AS cw,
              CAST(t.i * (nn.n // 16) + (nn.n // 16) // 3 AS BIGINT) AS vid
       FROM range(16) t(i), nn),
cb AS (SELECT cw, embedding AS ce FROM pq JOIN embeddings ON vec_id = vid),
subdist AS (SELECT e.vec_id, CAST(s.i AS BIGINT) AS s, cb.cw,
  (SELECT SUM((CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE))
            * (CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE)))
   FROM generate_series(1, 8) AS t(i)) AS d2
  FROM embeddings e, range(8) s(i), cb),
codes AS (SELECT vec_id, s, cw FROM subdist
          QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, cw) = 1),
qd AS (SELECT vec_id AS q_id, s, cw, d2 FROM subdist
       WHERE vec_id IN (SELECT q_id FROM qs)),
adc AS (SELECT qd.q_id, c.vec_id, SUM(qd.d2) AS dist
        FROM codes c JOIN qd ON qd.s = c.s AND qd.cw = c.cw
        GROUP BY qd.q_id, c.vec_id),
got AS (SELECT a.q_id, a.vec_id
        FROM adc a
        JOIN assign g ON a.vec_id = g.vec_id
        JOIN probe p ON g.cell = p.cell AND p.q_id = a.q_id
        WHERE a.vec_id <> a.q_id
        QUALIFY row_number() OVER (PARTITION BY a.q_id
                                   ORDER BY a.dist, a.vec_id) <= 5),
truth AS (
  SELECT q.q_id, e.vec_id
  FROM embeddings e JOIN qs q ON e.vec_id <> q.q_id
  QUALIFY row_number() OVER (PARTITION BY q.q_id ORDER BY
    (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))
              * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)))
     FROM generate_series(1, 64) AS t(i)) ASC, e.vec_id) <= 5)
SELECT CAST(2 AS INTEGER) AS nprobe, CAST(0 AS INTEGER) AS shortlist,
       CAST(5 AS INTEGER) AS k,
       (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) FROM truth)
         AS n_queries,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS truth_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM got g JOIN truth t
          ON g.q_id = t.q_id AND g.vec_id = t.vec_id) AS hits,
       ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM got g JOIN truth t
          ON g.q_id = t.q_id AND g.vec_id = t.vec_id)
          / (SELECT COUNT(*) FROM truth), 6) AS recall
"""


def q_ann_recall_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall harness over the PQ REFINE ladder (r9): two-stage
    probes (ADC top-50 shortlist → exact cosine re-rank) at nprobe=2
    against the pinned IVF-PQ index, ground truth = exact cosine
    top-5 on the md5 sample. This is the production serving shape —
    the number that tells a user whether (nprobe, shortlist) recovers
    what raw ADC loses (compare the ann_recall_pq row). The oracle
    replays sample, truth, assignment, encoding, the ADC shortlist
    cut, the exact re-rank, and the hit aggregation."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfpq")
    similarity.ivf_pq_index_write(emb, "t_ivfrcrf",
                                  os.path.join(d, "idxrcrf"),
                                  n_centroids=8, m=8, nbits=4)
    return similarity.ann_recall_estimate(
        spark, "t_ivfrcrf", k=5, nprobes=(2,), sample_ppm=30_000,
        emb=emb, shortlist=50)


def _sql_ann_recall_refine(k: int = 5, nprobe: int = 2,
                           shortlist: int = 50,
                           sample_ppm: int = 30_000, d: int = 64
                           ) -> str:
    """Replay the refine-ladder recall row: the ann_recall_pq chain
    up to the per-query ADC ranking, cut at ``shortlist``, exact
    cosine re-rank of the shortlist, cosine ground truth, hits."""
    def dot(x, y):
        return (f"(SELECT SUM(CAST({x}[i] AS DOUBLE) * "
                f"CAST({y}[i] AS DOUBLE)) "
                f"FROM generate_series(1, {d}) AS t(i))")

    cosq = (f"{dot('e.embedding', 'q.qe')} / "
            f"(SQRT({dot('e.embedding', 'e.embedding')}) * "
            f"SQRT({dot('q.qe', 'q.qe')}))")
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
cdist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, {d}) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM cdist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       WHERE CAST('0x' || substring(md5('recall:' ||
             CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 < {sample_ppm}),
probe AS (SELECT vec_id AS q_id, c AS cell FROM cdist
          WHERE vec_id IN (SELECT q_id FROM qs)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= {nprobe}),
pq AS (SELECT CAST(t.i AS BIGINT) AS cw,
              CAST(t.i * (nn.n // 16) + (nn.n // 16) // 3 AS BIGINT) AS vid
       FROM range(16) t(i), nn),
cb AS (SELECT cw, embedding AS ce FROM pq JOIN embeddings ON vec_id = vid),
subdist AS (SELECT e.vec_id, CAST(s.i AS BIGINT) AS s, cb.cw,
  (SELECT SUM((CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE))
            * (CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE)))
   FROM generate_series(1, 8) AS t(i)) AS d2
  FROM embeddings e, range(8) s(i), cb),
codes AS (SELECT vec_id, s, cw FROM subdist
          QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, cw) = 1),
qd AS (SELECT vec_id AS q_id, s, cw, d2 FROM subdist
       WHERE vec_id IN (SELECT q_id FROM qs)),
adc AS (SELECT qd.q_id, c.vec_id, SUM(qd.d2) AS dist
        FROM codes c JOIN qd ON qd.s = c.s AND qd.cw = c.cw
        GROUP BY qd.q_id, c.vec_id),
short AS (SELECT a.q_id, a.vec_id
          FROM adc a
          JOIN assign g ON a.vec_id = g.vec_id
          JOIN probe p ON g.cell = p.cell AND p.q_id = a.q_id
          WHERE a.vec_id <> a.q_id
          QUALIFY row_number() OVER (PARTITION BY a.q_id
                                     ORDER BY a.dist, a.vec_id)
                  <= {shortlist}),
got AS (SELECT s2.q_id, s2.vec_id
        FROM short s2
        JOIN embeddings e ON e.vec_id = s2.vec_id
        JOIN qs q ON q.q_id = s2.q_id
        QUALIFY row_number() OVER (PARTITION BY s2.q_id
                                   ORDER BY {cosq} DESC, s2.vec_id)
                <= {k}),
truth AS (
  SELECT q.q_id, e.vec_id
  FROM embeddings e JOIN qs q ON e.vec_id <> q.q_id
  QUALIFY row_number() OVER (PARTITION BY q.q_id
                             ORDER BY {cosq} DESC, e.vec_id) <= {k})
SELECT CAST({nprobe} AS INTEGER) AS nprobe,
       CAST({shortlist} AS INTEGER) AS shortlist,
       CAST({k} AS INTEGER) AS k,
       (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) FROM truth)
         AS n_queries,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS truth_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM got g JOIN truth t
          ON g.q_id = t.q_id AND g.vec_id = t.vec_id) AS hits,
       ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM got g JOIN truth t
          ON g.q_id = t.q_id AND g.vec_id = t.vec_id)
          / (SELECT COUNT(*) FROM truth), 6) AS recall
"""


SQL_ANN_RECALL_REFINE = _sql_ann_recall_refine()


def q_ann_tune_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-sizer over the COMPRESSED refine family (r10): walk
    the shortlist ladder (20, 50) at nprobe=2 through the real
    two-stage serving path (ADC shortlist → exact cosine re-rank),
    price each setting with cost = nprobe·⌈N/C⌉ + shortlist, and
    return the cheapest setting meeting target_recall=0.2 — the
    refine-grid sizing decision a PQ user actually makes. The oracle
    replays BOTH refine-ladder recall rows (the SQL_ANN_RECALL_REFINE
    chain per setting) plus pricing and the total selection order."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivftnpq")
    similarity.ivf_pq_index_write(emb, "t_ivftnpq",
                                  os.path.join(d, "idxtnpq"),
                                  n_centroids=8, m=8, nbits=4)
    return similarity.ann_tune(spark, "t_ivftnpq", target_recall=0.2,
                               k=5, nprobes=(2,), shortlist=(20, 50),
                               emb=emb, sample_ppm=30_000)


def _sql_ann_tune_pq(target: float = 0.2, n_cents: int = 8,
                     shortlists: tuple = (20, 50)) -> str:
    branches = "\nUNION ALL\n".join(
        f"({_sql_ann_recall_refine(k=5, nprobe=2, shortlist=sl)})"
        for sl in shortlists)
    return f"""
WITH rows AS ({branches}),
nn2 AS (SELECT COUNT(*) AS c FROM embeddings),
mcs AS {_sql_ann_measured_cost((2,), n_cents=n_cents)},
priced AS (
  SELECT rows.*,
         CAST(rows.nprobe * ((nn2.c + {n_cents} - 1) // {n_cents})
              + shortlist AS BIGINT) AS cost,
         ROUND(mcs.mc + CAST(shortlist AS DOUBLE), 6)
           AS measured_cost,
         CAST({target!r} AS DOUBLE) AS target_recall,
         (ROUND(recall, 6) >= CAST({target!r} AS DOUBLE))
           AS meets_target
  FROM rows CROSS JOIN nn2
  LEFT JOIN mcs ON mcs.nprobe = rows.nprobe)
SELECT nprobe, shortlist, k, n_queries, truth_rows, hits, recall,
       cost, measured_cost, target_recall, meets_target
FROM priced
ORDER BY meets_target DESC,
         CASE WHEN meets_target THEN measured_cost END
           ASC NULLS LAST,
         recall DESC, cost ASC, nprobe ASC, shortlist ASC
LIMIT 1
"""


SQL_ANN_TUNE_PQ = _sql_ann_tune_pq()


SQL_IVF_FILTERED_PROBE = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
dist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM dist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
probe AS (SELECT vec_id AS q_id, c AS cell FROM dist
          WHERE vec_id IN (0, 1, 2)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= 3),
qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (0, 1, 2)),
sims AS (
  SELECT p.q_id, a.vec_id, a.cell,
    (SELECT SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i)) AS dot,
    SQRT((SELECT SUM(CAST(e.embedding[i] AS DOUBLE)
                   * CAST(e.embedding[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS na,
    SQRT((SELECT SUM(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS nb
  FROM embeddings e
  JOIN assign a ON e.vec_id = a.vec_id
  JOIN probe p ON a.cell = p.cell
  JOIN qs ON qs.q_id = p.q_id
  WHERE e.vec_id <> p.q_id AND e.label = 2)
SELECT q_id, vec_id, cell, ROUND(dot / (na * nb), 4) AS cosine
FROM sims
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY dot / (na * nb) DESC, vec_id) <= 5
"""


SQL_IVF_PROBE_BATCH = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
dist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM dist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
probe AS (SELECT vec_id AS q_id, c AS cell FROM dist
          WHERE vec_id IN (0, 1, 2)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= 2),
qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (0, 1, 2)),
sims AS (
  SELECT p.q_id, a.vec_id, a.cell,
    (SELECT SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i)) AS dot,
    SQRT((SELECT SUM(CAST(e.embedding[i] AS DOUBLE)
                   * CAST(e.embedding[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS na,
    SQRT((SELECT SUM(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS nb
  FROM embeddings e
  JOIN assign a ON e.vec_id = a.vec_id
  JOIN probe p ON a.cell = p.cell
  JOIN qs ON qs.q_id = p.q_id
  WHERE e.vec_id <> p.q_id)
SELECT q_id, vec_id, cell, ROUND(dot / (na * nb), 4) AS cosine
FROM sims
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY dot / (na * nb) DESC, vec_id) <= 5
"""


def q_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe with pinned coarse centroids AND pinned product-
    quantization codebooks — cell assignment, per-subspace sub-code
    encoding, and ADC scoring are all exact closed-form arithmetic the
    DuckDB oracle reproduces end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_ivf_pq(emb, query_vec_id=0, k=5,
                                 n_centroids=8, nprobe=2, m=8, nbits=4)


SQL_KNN_IVF_PQ = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
cdist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM cdist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
probe AS (SELECT c AS cell FROM cdist WHERE vec_id = 0
          QUALIFY row_number() OVER (ORDER BY d2, c) <= 2),
pq AS (SELECT CAST(t.i AS BIGINT) AS cw,
              CAST(t.i * (nn.n // 16) + (nn.n // 16) // 3 AS BIGINT) AS vid
       FROM range(16) t(i), nn),
cb AS (SELECT cw, embedding AS ce FROM pq JOIN embeddings ON vec_id = vid),
subdist AS (SELECT e.vec_id, CAST(s.i AS BIGINT) AS s, cb.cw,
  (SELECT SUM((CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE))
            * (CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE)))
   FROM generate_series(1, 8) AS t(i)) AS d2
  FROM embeddings e, range(8) s(i), cb),
codes AS (SELECT vec_id, s, cw FROM subdist
          QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, cw) = 1),
qd AS (SELECT s, cw, d2 FROM subdist WHERE vec_id = 0),
adc AS (SELECT c.vec_id, SUM(qd.d2) AS dist
        FROM codes c JOIN qd ON qd.s = c.s AND qd.cw = c.cw
        GROUP BY c.vec_id)
SELECT a.vec_id, ROUND(a.dist, 6) AS adc_dist
FROM adc a
JOIN assign g ON a.vec_id = g.vec_id
JOIN probe p ON g.cell = p.cell
WHERE a.vec_id <> 0
ORDER BY a.dist, a.vec_id LIMIT 5
"""


def q_ivf_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed PERSISTENT IVF index (r7): cells + packed
    sub-codes + sidecar codebook materialized once, probe scans only
    its nprobe cell partitions and scores via the ADC lookup table —
    never touching a float embedding. Same pinned closed-form
    arithmetic as knn_ivf_pq, so the identical SQL oracle replays
    assignment, encoding, and the ADC ranking; equality with the
    in-memory knn_ivf_pq answer is asserted in pytest."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfpq")
    similarity.ivf_pq_index_write(emb, "t_ivfpq", os.path.join(d, "idx"),
                                  n_centroids=8, m=8, nbits=4)
    q = (emb.where(F.col("vec_id") == 0)
         .select("embedding").head().embedding)
    return similarity.ivf_pq_index_probe(spark, "t_ivfpq", q, k=5,
                                         nprobe=2, exclude_vec_id=0)


def q_ivf_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ + exact refine (r7): the compressed index
    yields a 20-candidate ADC shortlist (no float I/O), then exact
    cosine re-ranks only those rows — float reads collapse from the
    probed cells to R rows, and the output carries EXACT scores. The
    oracle replays the ADC shortlist cut and the exact re-rank."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfpq")
    similarity.ivf_pq_index_write(emb, "t_ivfpqr",
                                  os.path.join(d, "idxr"),
                                  n_centroids=8, m=8, nbits=4)
    q = (emb.where(F.col("vec_id") == 0)
         .select("embedding").head().embedding)
    return similarity.ivf_pq_index_refine(
        spark, "t_ivfpqr", emb, q, k=5, nprobe=2, shortlist=20,
        exclude_vec_id=0)


SQL_IVF_PQ_REFINE = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
cdist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM cdist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
probe AS (SELECT c AS cell FROM cdist WHERE vec_id = 0
          QUALIFY row_number() OVER (ORDER BY d2, c) <= 2),
pq AS (SELECT CAST(t.i AS BIGINT) AS cw,
              CAST(t.i * (nn.n // 16) + (nn.n // 16) // 3 AS BIGINT) AS vid
       FROM range(16) t(i), nn),
cb AS (SELECT cw, embedding AS ce FROM pq JOIN embeddings ON vec_id = vid),
subdist AS (SELECT e.vec_id, CAST(s.i AS BIGINT) AS s, cb.cw,
  (SELECT SUM((CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE))
            * (CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE)))
   FROM generate_series(1, 8) AS t(i)) AS d2
  FROM embeddings e, range(8) s(i), cb),
codes AS (SELECT vec_id, s, cw FROM subdist
          QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, cw) = 1),
qd AS (SELECT s, cw, d2 FROM subdist WHERE vec_id = 0),
adc AS (SELECT c.vec_id, SUM(qd.d2) AS dist
        FROM codes c JOIN qd ON qd.s = c.s AND qd.cw = c.cw
        GROUP BY c.vec_id),
short AS (SELECT a.vec_id FROM adc a
          JOIN assign g ON a.vec_id = g.vec_id
          JOIN probe p ON g.cell = p.cell
          WHERE a.vec_id <> 0
          QUALIFY row_number() OVER (ORDER BY a.dist, a.vec_id) <= 20),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id,
    (SELECT SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i)) AS dot,
    SQRT((SELECT SUM(CAST(e.embedding[i] AS DOUBLE)
                   * CAST(e.embedding[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS na,
    SQRT((SELECT SUM(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS nb
  FROM embeddings e JOIN short USING (vec_id), q)
SELECT vec_id, ROUND(dot / (na * nb), 4) AS cosine
FROM sims ORDER BY dot / (na * nb) DESC, vec_id LIMIT 5
"""


def q_ivf_pq_probe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving against the PQ-compressed persistent index
    (r7): each query's ADC lookup table rides the fan-out row in place
    of its embedding, candidates score with m element_at picks on
    their unpacked sub-codes — the serving join ships no float
    embeddings in either direction. Same pinned closed-form arithmetic
    as knn_ivf_pq, generalized to three queries; the oracle replays
    assignment, encoding, per-query routing, and the per-query ADC
    ranking."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfpq")
    similarity.ivf_pq_index_write(emb, "t_ivfpqb",
                                  os.path.join(d, "idxb"),
                                  n_centroids=8, m=8, nbits=4)
    queries = (emb.where(F.col("vec_id").isin([0, 1, 2]))
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    return similarity.ivf_index_probe_batch(
        spark, "t_ivfpqb", queries, k=5, nprobe=2, exclude_self=True)


SQL_IVF_PQ_PROBE_BATCH = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
cdist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM cdist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
probe AS (SELECT vec_id AS q_id, c AS cell FROM cdist
          WHERE vec_id IN (0, 1, 2)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= 2),
pq AS (SELECT CAST(t.i AS BIGINT) AS cw,
              CAST(t.i * (nn.n // 16) + (nn.n // 16) // 3 AS BIGINT) AS vid
       FROM range(16) t(i), nn),
cb AS (SELECT cw, embedding AS ce FROM pq JOIN embeddings ON vec_id = vid),
subdist AS (SELECT e.vec_id, CAST(s.i AS BIGINT) AS s, cb.cw,
  (SELECT SUM((CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE))
            * (CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE)))
   FROM generate_series(1, 8) AS t(i)) AS d2
  FROM embeddings e, range(8) s(i), cb),
codes AS (SELECT vec_id, s, cw FROM subdist
          QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, cw) = 1),
qd AS (SELECT vec_id AS q_id, s, cw, d2 FROM subdist
       WHERE vec_id IN (0, 1, 2)),
adc AS (SELECT qd.q_id, c.vec_id, SUM(qd.d2) AS dist
        FROM codes c JOIN qd ON qd.s = c.s AND qd.cw = c.cw
        GROUP BY qd.q_id, c.vec_id)
SELECT a.q_id, a.vec_id, CAST(g.cell AS BIGINT) AS cell,
       ROUND(a.dist, 6) AS adc_dist
FROM adc a
JOIN assign g ON a.vec_id = g.vec_id
JOIN probe p ON g.cell = p.cell AND p.q_id = a.q_id
WHERE a.vec_id <> a.q_id
QUALIFY row_number() OVER (PARTITION BY a.q_id
                           ORDER BY a.dist, a.vec_id) <= 5
"""


def q_ivf_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-codebook + RESIDUAL PQ persistent index (r8 — the r7
    verdict's one weak component closed): per-subspace k-means
    codebooks (2 Lloyd rounds, similarity.pq_train_codebooks — Jégou
    et al. 2011) trained on residuals against the pinned coarse
    quantizer, encoding x − cent[cell], probes building one ADC table
    per probed cell from the query's residual. r9: training runs on a
    25% md5-bucket SAMPLE (``train_sample_ppm`` — the FAISS practice
    that decouples training cost from corpus size), so this bench
    entry measures the PRODUCTION shape — sampled training + full
    encode + serving — instead of full-corpus Lloyd (which at sf0.1
    was 22% of the whole bench headline; SCALE.md §Bench methodology).
    The oracle replays the sample membership, the md5-order seed init
    WITHIN the sample, both training rounds (codeword coordinates
    quantized at 6 dp on BOTH sides — the determinism policy that
    pins the codebook bit-identical across engines), the residual
    encode argmin over the FULL corpus, per-query per-cell ADC
    tables, and the ranked ADC distances in one CTE chain."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfpq")
    similarity.ivf_pq_index_write(emb, "t_ivfpqt",
                                  os.path.join(d, "idxt"),
                                  n_centroids=8, m=8, nbits=4,
                                  codebook_iters=2, residual=True,
                                  train_sample_ppm=250_000)
    queries = (emb.where(F.col("vec_id").isin([0, 1, 2]))
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    return similarity.ivf_index_probe_batch(
        spark, "t_ivfpqt", queries, k=5, nprobe=2, exclude_self=True)


def _sql_ivf_pq_trained(c: int = 8, d: int = 64, m: int = 8,
                        nbits: int = 4, iters: int = 2,
                        nprobe: int = 2, topk: int = 5,
                        sample_ppm: int = 250_000) -> str:
    """SQL replay of the trained-residual PQ probe: pinned coarse
    quantizer → residuals → md5-order codebook seeds → ``iters``
    per-subspace Lloyd rounds (6-dp quantized codewords) → residual
    encode → per-(query, probed cell) ADC tables → ranked distances.
    Codebooks live in long form (code, dim, v) with GLOBAL dims — the
    concatenated layout the Spark sidecar stores — so subspace
    membership is (dim-1)//sub on both sides. r9: training (seeds AND
    Lloyd updates) sees only the md5-bucket ``sample_ppm`` sample
    (salt 'train', similarity._train_sample's arithmetic); the final
    encode still covers every row."""
    ncw = 1 << nbits
    sub = d // m
    tr_pred = (f"CAST('0x' || substring(md5('train:' || "
               f"CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) "
               f"% 1000000 < {sample_ppm}")
    parts = [f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // {c}) + (nn.n // {c}) // 2 AS BIGINT)
               AS vid
        FROM range({c}) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings
         ON vec_id = vid),
centl AS (SELECT c AS cell, t.i AS dim, CAST(ce[t.i] AS DOUBLE) AS v
          FROM cent, generate_series(1, {d}) t(i)),
e AS (SELECT vec_id, t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS v
      FROM embeddings, generate_series(1, {d}) t(i)
      WHERE embedding IS NOT NULL),
cdist AS (SELECT e.vec_id, centl.cell AS c,
                 SUM((e.v - centl.v) * (e.v - centl.v)) AS d2
          FROM e JOIN centl USING (dim) GROUP BY e.vec_id, centl.cell),
assign AS (SELECT vec_id, c AS cell FROM cdist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
r AS (SELECT e.vec_id, e.dim, e.v - centl.v AS rv
      FROM e JOIN assign a USING (vec_id)
      JOIN centl ON centl.cell = a.cell AND centl.dim = e.dim),
tr AS (SELECT r.* FROM r
       WHERE {tr_pred.replace('vec_id', 'r.vec_id')}),
seed AS (SELECT CAST(row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT)
             AS code, vec_id AS vid
         FROM embeddings WHERE embedding IS NOT NULL AND {tr_pred}
         QUALIFY row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {ncw}),
cb0 AS (SELECT seed.code, r.dim, ROUND(r.rv, 6) + 0.0 AS v
        FROM seed JOIN r ON r.vec_id = seed.vid)"""]
    prev = "cb0"
    for it in range(1, iters + 1):
        parts.append(f""",
d{it} AS (SELECT r.vec_id, CAST((r.dim - 1) // {sub} AS INT) AS s,
              cb.code, SUM((r.rv - cb.v) * (r.rv - cb.v)) AS d2
       FROM tr r JOIN {prev} cb ON cb.dim = r.dim
       GROUP BY r.vec_id, s, cb.code),
a{it} AS (SELECT vec_id, s, code FROM d{it}
       QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, code) = 1),
m{it} AS (SELECT a.s, a.code, r.dim, AVG(r.rv) AS v
       FROM tr r JOIN a{it} a ON r.vec_id = a.vec_id
         AND CAST((r.dim - 1) // {sub} AS INT) = a.s
       GROUP BY a.s, a.code, r.dim),
cb{it} AS (SELECT p.code, p.dim,
               ROUND(COALESCE(m{it}.v, p.v), 6) + 0.0 AS v
       FROM {prev} p LEFT JOIN m{it}
         ON m{it}.code = p.code AND m{it}.dim = p.dim)""")
        prev = f"cb{it}"
    parts.append(f""",
denc AS (SELECT r.vec_id, CAST((r.dim - 1) // {sub} AS INT) AS s,
                cb.code, SUM((r.rv - cb.v) * (r.rv - cb.v)) AS d2
         FROM r JOIN {prev} cb ON cb.dim = r.dim
         GROUP BY r.vec_id, s, cb.code),
codes AS (SELECT vec_id, s, code FROM denc
          QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, code) = 1),
probe AS (SELECT vec_id AS q_id, c AS cell FROM cdist
          WHERE vec_id IN (0, 1, 2)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= {nprobe}),
qr AS (SELECT p.q_id, p.cell, e.dim, e.v - centl.v AS rv
       FROM probe p JOIN e ON e.vec_id = p.q_id
       JOIN centl ON centl.cell = p.cell AND centl.dim = e.dim),
qd AS (SELECT qr.q_id, qr.cell,
              CAST((qr.dim - 1) // {sub} AS INT) AS s, cb.code,
              SUM((qr.rv - cb.v) * (qr.rv - cb.v)) AS d2
       FROM qr JOIN {prev} cb ON cb.dim = qr.dim
       GROUP BY qr.q_id, qr.cell, s, cb.code),
adc AS (SELECT qd.q_id, c.vec_id, a.cell, SUM(qd.d2) AS dist
        FROM codes c
        JOIN assign a ON a.vec_id = c.vec_id
        JOIN qd ON qd.s = c.s AND qd.code = c.code
               AND qd.cell = a.cell
        GROUP BY qd.q_id, c.vec_id, a.cell)
SELECT q_id, vec_id, CAST(cell AS BIGINT) AS cell,
       ROUND(dist, 6) AS adc_dist
FROM adc WHERE vec_id <> q_id
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY dist, vec_id) <= {topk}""")
    return "".join(parts)


SQL_IVF_PQ_TRAINED = _sql_ivf_pq_trained()


def q_ivf_pq_refine_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch two-stage ANN serving (r8 — the r7 refine's driver
    round-trip removed): three queries shortlist through the
    PQ-compressed index in ONE batch probe, then re-rank EXACTLY via
    a JOIN of the (q_id, vec_id) shortlist against the float table —
    no driver collect, no IN-literal (plan-asserted in pytest). The
    oracle replays assignment, encoding, per-query routing, the ADC
    shortlist cut, and the per-query exact re-rank."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfpq")
    similarity.ivf_pq_index_write(emb, "t_ivfpqrb",
                                  os.path.join(d, "idxrb"),
                                  n_centroids=8, m=8, nbits=4)
    queries = (emb.where(F.col("vec_id").isin([0, 1, 2]))
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    return similarity.ivf_pq_index_refine_batch(
        spark, "t_ivfpqrb", emb, queries, k=5, nprobe=2,
        shortlist=20, exclude_self=True)


SQL_IVF_PQ_REFINE_BATCH = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
cdist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cell FROM cdist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
probe AS (SELECT vec_id AS q_id, c AS cell FROM cdist
          WHERE vec_id IN (0, 1, 2)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= 2),
pq AS (SELECT CAST(t.i AS BIGINT) AS cw,
              CAST(t.i * (nn.n // 16) + (nn.n // 16) // 3 AS BIGINT) AS vid
       FROM range(16) t(i), nn),
cb AS (SELECT cw, embedding AS ce FROM pq JOIN embeddings ON vec_id = vid),
subdist AS (SELECT e.vec_id, CAST(s.i AS BIGINT) AS s, cb.cw,
  (SELECT SUM((CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE))
            * (CAST(e.embedding[s.i*8 + t.i] AS DOUBLE)
               - CAST(cb.ce[s.i*8 + t.i] AS DOUBLE)))
   FROM generate_series(1, 8) AS t(i)) AS d2
  FROM embeddings e, range(8) s(i), cb),
codes AS (SELECT vec_id, s, cw FROM subdist
          QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, cw) = 1),
qd AS (SELECT vec_id AS q_id, s, cw, d2 FROM subdist
       WHERE vec_id IN (0, 1, 2)),
adc AS (SELECT qd.q_id, c.vec_id, SUM(qd.d2) AS dist
        FROM codes c JOIN qd ON qd.s = c.s AND qd.cw = c.cw
        GROUP BY qd.q_id, c.vec_id),
short AS (SELECT a.q_id, a.vec_id FROM adc a
          JOIN assign g ON a.vec_id = g.vec_id
          JOIN probe p ON g.cell = p.cell AND p.q_id = a.q_id
          WHERE a.vec_id <> a.q_id
          QUALIFY row_number() OVER (PARTITION BY a.q_id
                                     ORDER BY a.dist, a.vec_id) <= 20),
qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (0, 1, 2)),
sims AS (
  SELECT s.q_id, e.vec_id,
    (SELECT SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i)) AS dot,
    SQRT((SELECT SUM(CAST(e.embedding[i] AS DOUBLE)
                   * CAST(e.embedding[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS na,
    SQRT((SELECT SUM(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE))
     FROM generate_series(1, 64) AS t(i))) AS nb
  FROM embeddings e JOIN short s USING (vec_id)
  JOIN qs ON qs.q_id = s.q_id)
SELECT q_id, vec_id, ROUND(dot / (na * nb), 4) AS cosine
FROM sims
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY dot / (na * nb) DESC, vec_id) <= 5
"""


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH probe — portable centered-md5 plane coefficients so the
    DuckDB oracle reproduces buckets and the probed top-k exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_lsh(emb, query_vec_id=0, k=5, planes=6,
                              portable=True)


def q_knn_all_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)  # 8 query vectors
    return similarity.knn_all_pairs_topk(emb, k=3, queries=queries)


def q_regrid_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear 2× upsample of the (time-averaged) events field —
    rasterio Resampling.bilinear analog as a broadcast 4-neighbour
    weighted join (geoprocessing/regrid.py:17)."""
    from georiva_spark.operators.regrid import regrid_bilinear
    g = events_grid(spark, sf_dir).where(F.col("variable") == "purchase")
    field = (g.groupBy("y", "x").agg(F.avg("value").alias("value"))
             .select(F.lit("events").alias("collection"),
                     F.lit("purchase").alias("variable"),
                     F.lit("2024-01-01").cast("timestamp").alias("time"),
                     "y", "x", "value"))
    out = regrid_bilinear(field, src=(-6.0, -7.5, 1.0),
                          dst=(-6.0, -7.5, 0.5),
                          dst_shape=(24, 30), src_shape=(12, 15))
    return out.select("y", "x", "lat", "lon", "value")


SQL_REGRID_BILINEAR = GRID_CTE + """
, field AS (SELECT y, x, AVG(value) AS v FROM grid
            WHERE variable = 'purchase' GROUP BY y, x),
tgt AS (SELECT r1.range AS ty, r2.range AS tx
        FROM range(0, 24) r1, range(0, 30) r2),
pos AS (SELECT ty, tx,
        CAST(-6.0 + (ty + 0.5) * 0.5 AS DOUBLE) AS t_lat,
        CAST(-7.5 + (tx + 0.5) * 0.5 AS DOUBLE) AS t_lon FROM tgt),
frac AS (SELECT *, (t_lat - (-6.0)) / 1.0 - 0.5 AS fy,
                (t_lon - (-7.5)) / 1.0 - 0.5 AS fx FROM pos),
nb AS (SELECT ty, tx, t_lat, t_lon,
        greatest(0, least(CAST(floor(fy) AS BIGINT) + d.dy, 11)) AS sy,
        greatest(0, least(CAST(floor(fx) AS BIGINT) + d.dx, 14)) AS sx,
        (CASE WHEN d.dy = 1 THEN fy - floor(fy)
              ELSE 1 - (fy - floor(fy)) END)
      * (CASE WHEN d.dx = 1 THEN fx - floor(fx)
              ELSE 1 - (fx - floor(fx)) END) AS wt
       FROM frac CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1))
            d(dy, dx))
SELECT ty AS y, tx AS x, t_lat AS lat, t_lon AS lon,
       SUM(wt * v) / SUM(wt) AS value
FROM nb JOIN field ON field.y = nb.sy AND field.x = nb.sx
WHERE wt > 0
GROUP BY ty, tx, t_lat, t_lon
"""


def q_ingest_netcdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end: embeddings table → classic NetCDF (CF time axis,
    descending latitude — exercises the north-up flip, netcdf.py:141-147)
    → binaryFile scan → dependency-free decode → per-row grid
    aggregates. Same y = nvec-1-vec_id mapping as ingest_geotiff."""
    import os
    import tempfile

    from georiva_spark.sources.netcdf_codec import encode_grid_netcdf
    from georiva_spark.sources.raster_formats import NETCDF

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec = arr.shape[0]
    lat = (nvec - np.arange(nvec) - 0.5) * 0.01   # descending (north-up)
    lon = (np.arange(64) + 0.5) * 0.01
    buf = encode_grid_netcdf({"field": arr[None]},
                             [dt.datetime(2024, 2, 1, 6)], lat, lon)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_nc")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_{nvec}.nc")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = NETCDF.open_variable(spark, fp, "field")
    return (g.groupBy("y", "time")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax"),
                 F.min("lat").alias("lat")))


SQL_INGEST_NETCDF = """
WITH u AS (SELECT (SELECT COUNT(*) FROM embeddings) - 1 - vec_id AS y,
                  CAST(x AS DOUBLE) AS v
           FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings))
SELECT y, TIMESTAMP '2024-02-01 06:00:00' AS time, COUNT(v) AS n,
       AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax,
       CAST(0.01 AS DOUBLE) * (y + 0.5) AS lat
FROM u GROUP BY y
"""


def q_ingest_netcdf4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end through the NetCDF-4/HDF5 container: embeddings →
    native HDF5 write (superblock v0, symbol-table group, chunked
    deflate field, DIMENSION_LIST binding) → binaryFile scan → native
    decode (hdf5_codec) → per-row grid aggregates. Same grid and oracle
    math as ingest_netcdf (the classic container); only the timestamp
    differs so the two queries stay distinct. Reference reads this via
    h5netcdf (formats/netcdf.py:33-104)."""
    import os
    import tempfile

    from georiva_spark.sources.hdf5_codec import encode_grid_netcdf4
    from georiva_spark.sources.raster_formats import NETCDF

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec = arr.shape[0]
    lat = (nvec - np.arange(nvec) - 0.5) * 0.01   # descending (north-up)
    lon = (np.arange(64) + 0.5) * 0.01
    buf = encode_grid_netcdf4({"field": arr[None]},
                              [dt.datetime(2024, 2, 2, 6)], lat, lon)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_nc4")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_{nvec}.nc4")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = NETCDF.open_variable(spark, fp, "field")
    return (g.groupBy("y", "time")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax"),
                 F.min("lat").alias("lat")))


SQL_INGEST_NETCDF4 = """
WITH u AS (SELECT (SELECT COUNT(*) FROM embeddings) - 1 - vec_id AS y,
                  CAST(x AS DOUBLE) AS v
           FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings))
SELECT y, TIMESTAMP '2024-02-02 06:00:00' AS time, COUNT(v) AS n,
       AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax,
       CAST(0.01 AS DOUBLE) * (y + 0.5) AS lat
FROM u GROUP BY y
"""


def q_ingest_grib2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end: embeddings table → GRIB2 message (lat/lon grid,
    simple packing with floor quantization, north-up scanning) →
    binaryFile scan → dependency-free decode → per-row aggregates of the
    QUANTIZED values. The oracle reproduces the quantization exactly:
    v' = R + floor((v-R)·2^24)·2^-24 with R = min float32 — every term
    is exact dyadic double arithmetic in both engines."""
    import os
    import tempfile

    from georiva_spark.sources.grib2_codec import encode_grib2_message
    from georiva_spark.sources.raster_formats import GRIB2

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec = arr.shape[0]
    buf = encode_grib2_message(
        arr, shortname="t", ref_time=dt.datetime(2024, 3, 1, 6),
        forecast_hours=12, la1=(nvec - 0.5) * 0.01, lo1=0.005,
        di=0.01, dj=0.01)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_grib")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_{nvec}.grib2")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = GRIB2.open_variable(spark, fp, "t")
    return (g.groupBy("y", "time")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_INGEST_GRIB2 = """
WITH r AS (SELECT CAST(MIN(x) AS DOUBLE) AS rv
           FROM (SELECT unnest(embedding) AS x FROM embeddings)),
u AS (SELECT (SELECT COUNT(*) FROM embeddings) - 1 - vec_id AS y,
             rv + floor((CAST(x AS DOUBLE) - rv) * 16777216.0)
                  * 5.9604644775390625e-08 AS v
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings), r)
SELECT y, TIMESTAMP '2024-03-01 18:00:00' AS time, COUNT(v) AS n,
       AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_ingest_grib2_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end via PNG packing (template 5.41): same pipeline as
    q_ingest_grib2 but the X values ride in a zlib/scanline-filter PNG
    image (png_codec.py) instead of a plain bit field. PNG is lossless,
    so the identical floor-quantization oracle applies; only the
    forecast step differs (18 h) to keep the two queries distinct.
    Reference reads this encoding via eccodes (formats/grib.py:61-144)."""
    import os
    import tempfile

    from georiva_spark.sources.grib2_codec import encode_grib2_message
    from georiva_spark.sources.raster_formats import GRIB2

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec = arr.shape[0]
    buf = encode_grib2_message(
        arr, shortname="t", ref_time=dt.datetime(2024, 3, 1, 6),
        forecast_hours=18, la1=(nvec - 0.5) * 0.01, lo1=0.005,
        di=0.01, dj=0.01, packing=41)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_grib_png")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_{nvec}.grib2")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = GRIB2.open_variable(spark, fp, "t")
    return (g.groupBy("y", "time")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_INGEST_GRIB2_PNG = """
WITH r AS (SELECT CAST(MIN(x) AS DOUBLE) AS rv
           FROM (SELECT unnest(embedding) AS x FROM embeddings)),
u AS (SELECT (SELECT COUNT(*) FROM embeddings) - 1 - vec_id AS y,
             rv + floor((CAST(x AS DOUBLE) - rv) * 16777216.0)
                  * 5.9604644775390625e-08 AS v
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings), r)
SELECT y, TIMESTAMP '2024-03-02 00:00:00' AS time, COUNT(v) AS n,
       AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. arXiv:2107.06499 at
    5-gram granularity) over the documents table: positions covered by
    a 5-gram occurring in ≥2 distinct docs, merged into maximal spans.
    The oracle replays the portable-hash n-grams, the document-
    frequency filter, and the island merge in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return (textops.duplicate_spans(docs, n=5, min_docs=2)
            .orderBy("doc_id", "span_start"))


SQL_DUP_SPANS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
g AS (SELECT doc_id,
        unnest(generate_series(1, greatest(len(toks) - 4, 0))) - 1
          AS pos,
        unnest(list_transform(
          generate_series(1, greatest(len(toks) - 4, 0)),
          i -> CAST('0x' || substring(
                 md5(array_to_string(list_slice(toks, i, i + 4), ' ')),
                 1, 15) AS BIGINT))) AS gram
      FROM t),
dup AS (SELECT gram FROM g GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2),
h AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
b AS (SELECT doc_id, pos,
        CASE WHEN pos > LAG(pos) OVER
               (PARTITION BY doc_id ORDER BY pos) + 5
             THEN 1 ELSE 0 END AS brk
      FROM h),
s AS (SELECT doc_id, pos,
        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM b)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
       MAX(pos) + 5 - MIN(pos) AS n_tokens
FROM s GROUP BY doc_id, grp
ORDER BY doc_id, span_start
"""


def q_ingest_grib2_aec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end via CCSDS/AEC packing (template 5.42 — the
    encoding some ECMWF archives ship): the same pipeline as
    q_ingest_grib2 but the X integers ride in a CCSDS 121.0 Rice-coded
    stream (aec_codec.py: unit-delay preprocessing, per-block option
    select over zero-run / second-extension / k-split / uncompressed).
    AEC is lossless, so the identical floor-quantization oracle
    applies; forecast step 30 h keeps the query distinct. Reference
    reads this encoding via eccodes+libaec (formats/grib.py:61-144)."""
    import os
    import tempfile

    from georiva_spark.sources.grib2_codec import encode_grib2_message
    from georiva_spark.sources.raster_formats import GRIB2

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec = arr.shape[0]
    buf = encode_grib2_message(
        arr, shortname="t", ref_time=dt.datetime(2024, 3, 1, 6),
        forecast_hours=30, la1=(nvec - 0.5) * 0.01, lo1=0.005,
        di=0.01, dj=0.01, packing=42)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_grib_aec")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_{nvec}.grib2")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = GRIB2.open_variable(spark, fp, "t")
    return (g.groupBy("y", "time")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_INGEST_GRIB2_AEC = """
WITH r AS (SELECT CAST(MIN(x) AS DOUBLE) AS rv
           FROM (SELECT unnest(embedding) AS x FROM embeddings)),
u AS (SELECT (SELECT COUNT(*) FROM embeddings) - 1 - vec_id AS y,
             rv + floor((CAST(x AS DOUBLE) - rv) * 16777216.0)
                  * 5.9604644775390625e-08 AS v
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings), r)
SELECT y, TIMESTAMP '2024-03-02 12:00:00' AS time, COUNT(v) AS n,
       AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table LEARNING over the documents table (6 rounds) —
    the oracle replays the identical rounds as chained SQL CTEs: pair
    counting over the frequency-weighted distinct-word table, argmax
    with the (count desc, pair asc) tiebreak as a scalar subquery, and
    the same double-replace merge application. Counts are exact longs,
    so the learned table matches bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.bpe_train(docs, n_merges=6).orderBy("rank")


def _sql_bpe_train(n_merges: int = 6) -> str:
    rounds = []
    prev = "r0"
    sel = []
    for i in range(1, n_merges + 1):
        rounds.append(f"""
p{i} AS MATERIALIZED (
  SELECT pair, SUM(cnt) AS total
  FROM (SELECT cnt,
               unnest(list_transform(
                   generate_series(1, len(string_split(trim(sym), ' ')) - 1),
                   k -> string_split(trim(sym), ' ')[k] || ' '
                        || string_split(trim(sym), ' ')[k + 1])) AS pair
        FROM {prev})
  GROUP BY pair),
b{i} AS MATERIALIZED (SELECT pair, total FROM p{i}
         ORDER BY total DESC, pair LIMIT 1),
r{i} AS MATERIALIZED (
  SELECT cnt,
         replace(replace(sym,
             ' ' || (SELECT pair FROM b{i}) || ' ',
             ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' '),
             ' ' || (SELECT pair FROM b{i}) || ' ',
             ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' ')
             AS sym
  FROM {prev})""")
        sel.append(f"""
SELECT {i - 1} AS rank,
       string_split((SELECT pair FROM b{i}), ' ')[1] AS left,
       string_split((SELECT pair FROM b{i}), ' ')[2] AS right,
       CAST((SELECT total FROM b{i}) AS BIGINT) AS pair_count""")
        prev = f"r{i}"
    return (f"""
WITH w AS (SELECT w, COUNT(*) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents)
           WHERE w <> '' GROUP BY w),
r0 AS MATERIALIZED (SELECT cnt,
              ' ' || array_to_string(string_split(w, ''), ' ') || ' '
                  AS sym
       FROM w),{",".join(rounds)}
{" UNION ALL ".join(sel)}
ORDER BY rank
""")


SQL_BPE_TRAIN = _sql_bpe_train()


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter battery (arXiv:2112.11446 §A1.1) over the
    documents table. The corpus is deterministically augmented so every
    rule fires both ways: doc_id%7==0 gains a '#'-symbol run (symbol
    rule), %7==1 gains bullet lines (bullet rule), %7==2 is truncated
    to 5 words (word-count rule); thresholds are tuned to the synthetic
    word lengths so the pass/fail mix is non-vacuous."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    m = F.col("doc_id") % 7
    text2 = (F.when(m == 0, F.concat(F.col("text"),
                                     F.lit(" ### ### ### ### ###")))
              .when(m == 1, F.concat(F.lit("- item one\n- item two\n"),
                                     F.col("text")))
              .when(m == 2, F.array_join(F.slice(toks, 1, 5), " "))
              .otherwise(F.col("text")))
    staged = docs.select("doc_id", text2.alias("text"))
    return textops.gopher_rules(staged, min_words=10, max_words=1000,
                                min_mean_word_len=1.0,
                                max_mean_word_len=6.0,
                                max_symbol_ratio=0.05,
                                max_bullet_ratio=0.3,
                                min_stopword_hits=1)


SQL_GOPHER_RULES = """
WITH staged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' ### ### ### ### ###'
              WHEN doc_id % 7 = 1
                   THEN '- item one' || chr(10) || '- item two'
                        || chr(10) || text
              WHEN doc_id % 7 = 2
                   THEN array_to_string(
                            list_slice(string_split(text, ' '), 1, 5), ' ')
              ELSE text END AS text
  FROM documents),
w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'),
                     t -> t <> '') AS words
  FROM staged),
m AS (
  SELECT doc_id, text,
         len(words) AS n_words,
         CAST(list_sum(list_transform(words, t -> length(t)))
              AS DOUBLE) / greatest(len(words), 1) AS mean_word_len,
         CAST(length(text) - length(replace(text, '#', ''))
              + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
             / greatest(len(words), 1) AS symbol_ratio,
         CAST(len(list_filter(string_split(text, chr(10)),
                  ln -> ln LIKE '- %' OR ln LIKE '* %' OR ln LIKE '• %'))
              AS DOUBLE)
             / greatest(len(string_split(text, chr(10))), 1)
             AS bullet_ratio,
         len(list_filter(words,
             t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
             AS stopword_hits
  FROM w),
r AS (
  SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         stopword_hits,
         (n_words >= 10 AND n_words <= 1000) AS rule_word_count,
         (mean_word_len >= 1.0 AND mean_word_len <= 6.0) AS rule_word_len,
         (symbol_ratio <= 0.05) AS rule_symbols,
         (bullet_ratio <= 0.3) AS rule_bullets,
         (stopword_hits >= 1) AS rule_stopwords
  FROM m)
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, mean_word_len,
       symbol_ratio, bullet_ratio,
       CAST(stopword_hits AS INTEGER) AS stopword_hits,
       rule_word_count, rule_word_len, rule_symbols, rule_bullets,
       rule_stopwords,
       (rule_word_count AND rule_word_len AND rule_symbols
        AND rule_bullets AND rule_stopwords) AS gopher_pass
FROM r
"""


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning battery (arXiv:1910.10683 §2.2) over the documents
    table, deterministically augmented so every rule fires both ways:
    each doc gains a 3-sentence line built from its first 6 words;
    doc_id%5==1 adds a javascript-mentioning line (line rule), %5==2 a
    lorem-ipsum line (page rule), %5==3 a curly-brace line (page rule),
    %5==4 keeps only the raw unpunctuated text (no surviving lines)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    s1 = F.concat(F.array_join(F.slice(toks, 1, 6), " "), F.lit("."))
    line_a = F.concat(s1, F.lit(" "), s1, F.lit(" "), s1)
    m = F.col("doc_id") % 5
    text2 = (
        F.when(m == 1, F.concat(
            line_a, F.lit("\nthis line mentions javascript so it must "
                          "be dropped.")))
        .when(m == 2, F.concat(
            line_a, F.lit("\nlorem ipsum dolor sit amet consectetur "
                          "adipiscing elit.")))
        .when(m == 3, F.concat(line_a, F.lit("\nif (x) { return y; }")))
        .when(m == 4, F.col("text"))
        .otherwise(F.concat(line_a, F.lit("\n"), F.col("text"))))
    staged = docs.select("doc_id", text2.alias("text"))
    return textops.c4_rules(staged)


SQL_C4_RULES = """
WITH staged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 1 THEN line_a || chr(10) ||
                'this line mentions javascript so it must be dropped.'
              WHEN doc_id % 5 = 2 THEN line_a || chr(10) ||
                'lorem ipsum dolor sit amet consectetur adipiscing elit.'
              WHEN doc_id % 5 = 3 THEN line_a || chr(10) ||
                'if (x) { return y; }'
              WHEN doc_id % 5 = 4 THEN text
              ELSE line_a || chr(10) || text END AS text
  FROM (SELECT doc_id, text,
               s1 || ' ' || s1 || ' ' || s1 AS line_a
        FROM (SELECT doc_id, text,
                     array_to_string(list_slice(
                         string_split(text, ' '), 1, 6), ' ') || '.'
                     AS s1
              FROM documents))),
l AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
           ln -> regexp_matches(trim(ln), '[.!?"]$')
             AND len(list_filter(string_split_regex(trim(ln), '\\s+'),
                                 w -> w <> '')) >= 5
             AND NOT contains(lower(trim(ln)), 'javascript')) AS kept
  FROM staged),
m AS (
  SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
         len(regexp_extract_all(
             COALESCE(array_to_string(kept, chr(10)), ''),
             '[.!?]')) AS n_sentences,
         contains(lower(text), 'lorem ipsum') AS has_lorem,
         contains(text, '{') AS has_brace,
         length(COALESCE(array_to_string(kept, chr(10)), ''))
             AS kept_chars
  FROM l)
SELECT doc_id, CAST(n_lines AS INTEGER) AS n_lines,
       CAST(n_kept AS INTEGER) AS n_kept,
       CAST(n_sentences AS INTEGER) AS n_sentences,
       has_lorem, has_brace, CAST(kept_chars AS INTEGER) AS kept_chars,
       (n_kept > 0 AND n_sentences >= 3 AND NOT has_lorem
        AND NOT has_brace) AS c4_pass
FROM m
"""


# Pinned fastText-style weight table (64 buckets, seeded offline) —
# hard-coded so Spark and the oracle score with the SAME model.
_FT_WEIGHTS = [
    0.609, -2.08, 1.501, 1.881, -3.902, -2.604, 0.256, -0.632, -0.034,
    -1.706, 1.759, 1.556, 0.132, 2.254, 0.935, -1.719, 0.738, -1.918,
    1.757, -0.1, -0.37, -1.362, 2.445, -0.309, -0.857, -0.704, 1.065,
    0.731, 0.825, 0.862, 4.283, -0.813, -1.024, -1.628, 1.232, 2.258,
    -0.228, -1.68, -1.649, 1.301, 1.487, 1.086, -1.331, 0.464, 0.233,
    0.437, 1.743, 0.447, 1.358, 0.135, 0.578, 1.263, -2.914, -0.639,
    -0.941, -1.278, -0.55, 2.99, -1.732, 1.937, -3.366, -0.67, 0.326,
    1.172]


def q_fasttext_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (fastText architecture, arXiv:
    1607.01759 — the DCLM / fineweb-edu classifier shape): hashed
    unigram+bigram features, pinned 64-bucket weight table, document
    score = sigmoid(mean feature weight). Scoring is the 100-TB hot
    path and runs as pure in-row HOFs; the portable hash makes bucket
    assignment — and therefore the score — bit-reproducible in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.linear_quality_score(docs, _FT_WEIGHTS, bias=0.0,
                                        portable=True)


SQL_FASTTEXT_SCORE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
f AS (SELECT doc_id,
             list_concat(toks,
               list_transform(list_slice(toks, 1, len(toks) - 1),
                 (x, i) -> x || ' ' || toks[i + 1])) AS feats
      FROM t),
s AS (SELECT doc_id, len(feats) AS nf,
             list_sum(list_transform(feats, g ->
               ({_FT_WEIGHTS!r})[
                 CAST(CAST('0x' || substring(md5(g), 1, 15) AS BIGINT)
                      % 64 AS INTEGER) + 1])) AS wsum
      FROM f)
SELECT doc_id, CAST(nf AS INTEGER) AS n_features,
       1.0 / (1.0 + exp(-(wsum / greatest(nf, 1)))) AS score,
       (1.0 / (1.0 + exp(-(wsum / greatest(nf, 1)))) >= 0.5) AS keep
FROM s
"""


def q_zarr_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/S12 made concrete: embeddings table → Zarr v2 directory
    store (float32 chunks, zlib) → chunk-parallel binaryFile scan with
    the y-window pruned at LISTING time (untouched chunks' bytes never
    ship) → per-row aggregates. Values are raw float32 → exact in both
    engines. The window keeps rows with y < 256 — spanning several
    64-row chunks plus a partial one, so edge-clipping and pruning are
    both on the hot path."""
    from georiva_spark.sources.zarr_store import ZARR

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])[None]
    nvec = arr.shape[1]
    d = _zarr_fixture("zarr", {
        "emb": arr,
        "lat": np.arange(nvec, dtype="<f8"),
        "lon": np.arange(arr.shape[2], dtype="<f8"),
        "time": np.array([0], dtype="<i8"),
    }, chunks={"emb": (1, 64, 16)})

    win_h = min(256, nvec)
    g = ZARR.open_variable(spark, d, "emb",
                           window=(0, 0, arr.shape[2], win_h))
    return (g.groupBy("y")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_ZARR_SCAN = """
WITH u AS (SELECT vec_id AS y, CAST(x AS DOUBLE) AS v
           FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
           WHERE vec_id < LEAST(256, (SELECT COUNT(*) FROM embeddings)))
SELECT y, COUNT(v) AS n, AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_zarr_blosc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same store/scan contract as ``zarr_scan`` but compressed with
    Blosc(cname='lz4', shuffle=1) — zarr-python's DEFAULT compressor —
    so the driver row proves the native blosc container decode
    (blosc_codec.py: 16-byte header, per-block typesize-split streams,
    byte unshuffle, pyarrow lz4_raw inner codec) end-to-end on real
    chunk files, with the y-window pruned at listing time. float32
    values are bit-exact through compression, so the raw-value oracle
    is unchanged."""
    from georiva_spark.sources.zarr_store import ZARR

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])[None]
    nvec = arr.shape[1]
    d = _zarr_fixture("zarr_blosc", {
        "emb": arr,
        "lat": np.arange(nvec, dtype="<f8"),
        "lon": np.arange(arr.shape[2], dtype="<f8"),
        "time": np.array([0], dtype="<i8"),
    }, chunks={"emb": (1, 64, 16)}, compressor="blosc:lz4")

    win_h = min(192, nvec)
    g = ZARR.open_variable(spark, d, "emb",
                           window=(0, 0, arr.shape[2], win_h))
    return (g.groupBy("y")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_ZARR_BLOSC = """
WITH u AS (SELECT vec_id AS y, CAST(x AS DOUBLE) AS v
           FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
           WHERE vec_id < LEAST(192, (SELECT COUNT(*) FROM embeddings)))
SELECT y, COUNT(v) AS n, AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_zarr_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr v3 layout (zarr.json metadata, ``c/``-prefixed slash chunk
    keys, sharding_indexed: each 64×16 shard packs 4 blosc-compressed
    16×16 inner chunks behind a crc32c-protected uint64 index) through
    the same chunk-parallel scan and the same raw-float32 oracle —
    proving v3 metadata, key listing/pruning, the shard index walk, and
    the inner codec chain end-to-end. Window y < 128 spans two shards."""
    from georiva_spark.sources.zarr_store import ZARR

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])[None]
    nvec = arr.shape[1]
    d = _zarr_fixture("zarr_v3s", {
        "emb": arr,
        "lat": np.arange(nvec, dtype="<f8"),
        "lon": np.arange(arr.shape[2], dtype="<f8"),
        "time": np.array([0], dtype="<i8"),
    }, chunks={"emb": (1, 64, 16)}, zarr_format=3,
        compressor="blosc:lz4", shard_inner={"emb": (1, 16, 16)})

    win_h = min(128, nvec)
    g = ZARR.open_variable(spark, d, "emb",
                           window=(0, 0, arr.shape[2], win_h))
    return (g.groupBy("y")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_ZARR_V3 = """
WITH u AS (SELECT vec_id AS y, CAST(x AS DOUBLE) AS v
           FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
           WHERE vec_id < LEAST(128, (SELECT COUNT(*) FROM embeddings)))
SELECT y, COUNT(v) AS n, AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_zarr_forder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 F-order chunks compressed with Blosc(cname='blosclz') — the
    two legacy-store variants the r3 verdict flagged, in one driver
    record: Fortran element order (xarray transposes) and c-blosc's own
    pre-1.14 default codec, through the same chunk-parallel scan and
    raw-float32 oracle. Window y < 160 spans two 64-row chunk rows plus
    a partial one."""
    from georiva_spark.sources.zarr_store import ZARR

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])[None]
    nvec = arr.shape[1]
    d = _zarr_fixture("zarr_forder", {
        "emb": arr,
        "lat": np.arange(nvec, dtype="<f8"),
        "lon": np.arange(arr.shape[2], dtype="<f8"),
        "time": np.array([0], dtype="<i8"),
    }, chunks={"emb": (1, 64, 16)}, order="F",
        compressor="blosc:blosclz")

    win_h = min(160, nvec)
    g = ZARR.open_variable(spark, d, "emb",
                           window=(0, 0, arr.shape[2], win_h))
    return (g.groupBy("y")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_ZARR_FORDER = """
WITH u AS (SELECT vec_id AS y, CAST(x AS DOUBLE) AS v
           FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
           WHERE vec_id < LEAST(160, (SELECT COUNT(*) FROM embeddings)))
SELECT y, COUNT(v) AS n, AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_zarr_v3_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r3 advisor's data-corruption bug as a standing driver record:
    a v3 store written with WRITER DEFAULTS (structural fill, no nodata
    attr) whose data contains genuine zeros — every value, including
    0.0, must survive the scan (count n proves nothing was nulled).
    Zeros are planted where (vec_id + i) % 7 == 0, reproduced exactly
    by the oracle."""
    from georiva_spark.sources.zarr_store import ZARR

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec, dim = arr.shape
    vi = np.arange(nvec)[:, None]
    ii = np.arange(dim)[None, :]
    arr = np.where((vi + ii) % 7 == 0, np.float32(0.0), arr)[None]
    d = _zarr_fixture("zarr_v3fill", {
        "emb": arr,
        "lat": np.arange(nvec, dtype="<f8"),
        "lon": np.arange(dim, dtype="<f8"),
        "time": np.array([0], dtype="<i8"),
    }, chunks={"emb": (1, 64, 16)}, zarr_format=3)

    win_h = min(128, nvec)
    g = ZARR.open_variable(spark, d, "emb",
                           window=(0, 0, dim, win_h))
    return (g.groupBy("y")
            .agg(F.count("value").alias("n"),
                 F.sum(F.when(F.col("value") == 0.0, 1)
                       .otherwise(0)).alias("n_zero"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_ZARR_V3_FILL = """
WITH u AS (
  SELECT vec_id AS y,
         unnest(list_transform(generate_series(1, len(embedding)),
           i -> CASE WHEN (vec_id + i - 1) % 7 = 0
                     THEN CAST(0.0 AS DOUBLE)
                     ELSE CAST(embedding[i] AS DOUBLE) END)) AS v
  FROM embeddings
  WHERE vec_id < LEAST(128, (SELECT COUNT(*) FROM embeddings)))
SELECT y, COUNT(v) AS n,
       CAST(SUM(CASE WHEN v = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_ingest_grib2_j2k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end via JPEG2000 packing (template 5.40 — the encoding
    GFS/NCEP products ship): the X integers ride in a lossless JPEG 2000
    codestream built and decoded by the dependency-free j2k_codec (MQ
    coder + EBCOT T1 + reversible 5/3 wavelet). Lossless J2K reproduces
    the floor-quantized integers exactly, so the same dyadic-arithmetic
    oracle applies. A 200-vector subset and e_scale −10 keep the pure-
    Python Tier-1 pass fast at gate time (the Spark scan parallelizes
    over FILES at scale — per-file decode cost is the price of
    dependency freedom, amortized across executors)."""
    import os
    import tempfile

    from georiva_spark.sources.grib2_codec import encode_grib2_message
    from georiva_spark.sources.raster_formats import GRIB2

    emb = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("vec_id") < 200).orderBy("vec_id"))
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec = arr.shape[0]
    buf = encode_grib2_message(
        arr, shortname="t", ref_time=dt.datetime(2024, 3, 1, 6),
        forecast_hours=24, la1=(nvec - 0.5) * 0.01, lo1=0.005,
        di=0.01, dj=0.01, packing=40, e_scale=-10)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_grib_j2k")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_{nvec}.grib2")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = GRIB2.open_variable(spark, fp, "t")
    return (g.groupBy("y", "time")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax")))


SQL_INGEST_GRIB2_J2K = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
r AS (SELECT CAST(MIN(x) AS DOUBLE) AS rv
      FROM (SELECT unnest(embedding) AS x FROM e)),
u AS (SELECT (SELECT COUNT(*) FROM e) - 1 - vec_id AS y,
             rv + floor((CAST(x AS DOUBLE) - rv) * 1024.0)
                  * 0.0009765625 AS v
      FROM (SELECT vec_id, unnest(embedding) AS x FROM e), r)
SELECT y, TIMESTAMP '2024-03-02 06:00:00' AS time, COUNT(v) AS n,
       AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax
FROM u GROUP BY y
"""


def q_ingest_grib2_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end on a PROJECTED grid: embeddings table → GRIB2
    message on a Lambert-conformal grid (template 3.30, HRRR-style
    tangent cone at 38.5°N) → binaryFile scan → native decode with
    per-pixel lat/lon from the closed-form spherical LCC inverse
    (functions/geo.py; reference reads these grids via eccodes,
    formats/grib.py:61-144). Output: per-row aggregates of the
    quantized values plus the min/max decoded lat/lon — on a conic
    grid latitude varies ALONG each row, so the lat/lon extrema
    exercise the inverse projection, which the oracle reproduces in
    SQL with the projection constants inlined as literals (coordinates
    are micro-degree-rounded on both sides, GRIB's own precision)."""
    import os
    import tempfile

    from georiva_spark.sources.grib2_codec import encode_grib2_message
    from georiva_spark.sources.raster_formats import GRIB2

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec = arr.shape[0]
    buf = encode_grib2_message(
        arr, shortname="t", ref_time=dt.datetime(2024, 3, 1, 6),
        forecast_hours=6, la1=35.0, lo1=-100.0, di=0, dj=0,
        grid_def={"kind": "lcc", "lat1": 38.5, "lat2": 38.5,
                  "lad": 38.5, "lon0": -97.5, "dx": 3000.0,
                  "dy": 3000.0})
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_grib_lcc")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_{nvec}.grib2")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = GRIB2.open_variable(spark, fp, "t")
    return (g.groupBy("y")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax"),
                 F.min("lat").alias("lat_min"),
                 F.max("lat").alias("lat_max"),
                 F.min("lon").alias("lon_min"),
                 F.max("lon").alias("lon_max")))


def _sql_ingest_grib2_lcc() -> str:
    """Inline the LCC projection constants — computed by the SAME
    closed-form code the decoder uses — as double literals, so the
    oracle is self-contained SQL."""
    import math

    from georiva_spark.functions.geo import GRIB_EARTH_SPHERE, lcc_sphere_np

    p1 = math.radians(38.5)
    n = math.sin(p1)                       # tangent cone
    f = math.cos(p1) * math.tan(math.pi / 4 + p1 / 2) ** n / n
    rho0 = GRIB_EARTH_SPHERE * f / math.tan(math.pi / 4 + p1 / 2) ** n
    rf = GRIB_EARTH_SPHERE * f
    x1, y1 = lcc_sphere_np(35.0, -100.0, 38.5, 38.5, 38.5, -97.5)
    c = {"x1": float(x1), "y1": float(y1), "rho0": rho0, "rf": rf,
         "n": n, "invn": 1.0 / n, "halfpi": math.pi / 2,
         "rad2deg": math.degrees(1.0)}
    lit = {k: repr(v) for k, v in c.items()}
    return f"""
WITH r AS (SELECT CAST(MIN(x) AS DOUBLE) AS rv
           FROM (SELECT unnest(embedding) AS x FROM embeddings)),
base AS (SELECT vec_id AS j, t.i - 1 AS i0,
             rv + floor((CAST(embedding[t.i] AS DOUBLE) - rv) * 16777216.0)
                  * 5.9604644775390625e-08 AS v
         FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i), r),
geo AS (SELECT j, v, {lit['x1']} + 3000.0 * i0 AS xx,
               {lit['y1']} - 3000.0 * j AS yy
        FROM base),
inv AS (SELECT j, v,
               sqrt(xx * xx + ({lit['rho0']} - yy) * ({lit['rho0']} - yy))
                   AS rho,
               atan2(xx, {lit['rho0']} - yy) AS theta
        FROM geo),
ll AS (SELECT j, v,
              (2.0 * atan(power({lit['rf']} / rho, {lit['invn']}))
               - {lit['halfpi']}) * {lit['rad2deg']} AS lat,
              (theta / {lit['n']}) * {lit['rad2deg']} + -97.5 AS lon_raw
       FROM inv),
w AS (SELECT j, v,
             floor(lat * 1000000.0 + 0.5) / 1000000.0 AS lat,
             floor((((lon_raw + 180.0)
                     - 360.0 * floor((lon_raw + 180.0) / 360.0)) - 180.0)
                   * 1000000.0 + 0.5) / 1000000.0 AS lon
      FROM ll)
SELECT (SELECT COUNT(*) FROM embeddings) - 1 - j AS y,
       COUNT(v) AS n, AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax,
       MIN(lat) AS lat_min, MAX(lat) AS lat_max,
       MIN(lon) AS lon_min, MAX(lon) AS lon_max
FROM w GROUP BY j
"""


SQL_INGEST_GRIB2_LCC = _sql_ingest_grib2_lcc()


def q_ingest_grib2_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end on a REDUCED Gaussian grid (template 3.40 with the
    octet-11 per-parallel point-count list — ERA5 / IFS native layout):
    N=16 (32 parallels), octahedral-style Ni_j = 24 + 8·min(j, 31−j),
    2688 points filled cyclically from the embedding stream. The decoder
    rectangularizes to a NaN-padded (32, 144) array whose pad cells are
    dropped at emission, so the long table holds exactly sum(Ni) pixels.
    The oracle reproduces: per-row counts from the Ni formula, the
    floor-quantized values (exact dyadic arithmetic), per-row longitude
    extrema from lon_i = i·360/Ni wrapped and micro-degree-rounded, and
    the Gaussian PARALLELS themselves against pinned Legendre-root
    literals. Reference reads reduced grids via eccodes
    (formats/grib.py:61-144)."""
    import os
    import tempfile

    from georiva_spark.sources.grib2_codec import encode_grib2_message
    from georiva_spark.sources.raster_formats import GRIB2

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    stream = arr.ravel().astype(np.float64)
    row_ni = [24 + 8 * min(j, 31 - j) for j in range(32)]
    need = sum(row_ni)                           # 2688
    used = stream[np.arange(need) % stream.size]
    padded = np.full((32, max(row_ni)), np.nan)
    off = 0
    for j, n_j in enumerate(row_ni):
        padded[j, :n_j] = used[off:off + n_j]
        off += n_j
    buf = encode_grib2_message(
        padded, shortname="t", ref_time=dt.datetime(2024, 3, 2),
        forecast_hours=6, la1=0.0, lo1=0.0, di=1.0, dj=1.0,
        grid_def={"kind": "gaussian_reduced", "n": 16,
                  "row_ni": row_ni})
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_grib")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_red_{arr.shape[0]}.grib2")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = GRIB2.open_variable(spark, fp, "t")
    return (g.groupBy("y", "lat")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax"),
                 F.min("lon").alias("lmin"),
                 F.max("lon").alias("lmax")))


# Gaussian parallels for N=16, micro-degree-rounded, indexed by the
# south-up row y — pinned literals (arcsin of the P_32 Legendre roots),
# NOT recomputed from the code under test.
_GAUSS16_LATS = """(VALUES
(0, -85.760587), (1, -80.268779), (2, -74.74454), (3, -69.212976),
(4, -63.678636), (5, -58.142954), (6, -52.606526), (7, -47.069642),
(8, -41.532461), (9, -35.995078), (10, -30.457554), (11, -24.919929),
(12, -19.382231), (13, -13.844484), (14, -8.306703), (15, -2.768903),
(16, 2.768903), (17, 8.306703), (18, 13.844484), (19, 19.382231),
(20, 24.919929), (21, 30.457554), (22, 35.995078), (23, 41.532461),
(24, 47.069642), (25, 52.606526), (26, 58.142954), (27, 63.678636),
(28, 69.212976), (29, 74.74454), (30, 80.268779), (31, 85.760587))"""

SQL_INGEST_GRIB2_REDUCED = f"""
WITH flat AS (
  SELECT (vec_id * 64 + idx - 1) AS p, CAST(x AS DOUBLE) AS v
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS idx
        FROM embeddings)
),
total AS (SELECT COUNT(*) AS tn FROM flat),
rows_t AS (SELECT j, 24 + 8 * LEAST(j, 31 - j) AS ni
           FROM generate_series(0, 31) t(j)),
offs AS (SELECT j, ni,
                COALESCE(SUM(ni) OVER (ORDER BY j
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS o
         FROM rows_t),
cells AS (SELECT o.j, o.ni, g.i AS ii, (o.o + g.i) % t.tn AS pm
          FROM offs o JOIN generate_series(0, 143) g(i)
            ON g.i < o.ni CROSS JOIN total t),
vals AS (SELECT c.j, c.ni, c.ii, f.v
         FROM cells c JOIN flat f ON f.p = c.pm),
r AS (SELECT MIN(v) AS rv FROM vals),
q AS (SELECT j, ni, ii,
             rv + floor((v - rv) * 16777216.0)
                * 5.9604644775390625e-08 AS vq,
             floor((((ii * (360.0 / ni) + 180.0) % 360.0) - 180.0)
                   * 1e6 + 0.5) / 1e6 AS lon
      FROM vals, r)
SELECT 31 - j AS y, CAST(lt.lat AS DOUBLE) AS lat,
       COUNT(vq) AS n, AVG(vq) AS vmean,
       MIN(vq) AS vmin, MAX(vq) AS vmax,
       MIN(lon) AS lmin, MAX(lon) AS lmax
FROM q JOIN {_GAUSS16_LATS} lt(y, lat) ON lt.y = 31 - q.j
GROUP BY 31 - j, lt.lat
"""


def q_webmercator_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326→3857 reprojection + slippy tile index (z=6) per distinct
    grid pixel — the tile-export path of the reference's titiler service
    (closed-form spherical mercator; geoprocessing/zonal.py:30-38)."""
    from georiva_spark.functions.geo import webmercator_tile, webmercator_xy
    g = events_grid(spark, sf_dir).select("y", "x", "lat", "lon").distinct()
    mx, my = webmercator_xy(F.col("lat"), F.col("lon"))
    tx, ty = webmercator_tile(F.col("lat"), F.col("lon"), 6)
    return g.select("y", "x", "lat", "lon", mx, my, tx, ty)


SQL_WEBMERCATOR_TILES = GRID_CTE + """
, px AS (SELECT DISTINCT y, x, lat, lon FROM grid)
SELECT y, x, lat, lon,
  6378137.0 * radians(lon) AS merc_x,
  6378137.0 * ln(tan(pi()/4 + radians(lat)/2)) AS merc_y,
  CAST(greatest(0, least(floor((lon + 180.0)/360.0*64.0), 63)) AS BIGINT)
    AS tile_x,
  CAST(greatest(0, least(floor((1.0 - ln(tan(radians(lat))
       + 1.0/cos(radians(lat)))/pi())/2.0*64.0), 63)) AS BIGINT) AS tile_y
FROM px
"""


def q_utm_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-CRS reprojection closed-form (r2 verdict item 8): every
    distinct grid pixel projected to UTM zone 31N (Krüger series) and to
    north polar stereographic EPSG:3413-style (Snyder) — pure JVM
    column math (sinh/cosh/atanh built-ins, no UDF, whole-stage
    codegen), reproducible term-for-term in the DuckDB oracle with the
    series constants inlined as literals. Reference delegates all of
    this to pyproj (geoprocessing/zonal.py:30-38)."""
    from georiva_spark.functions.geo import polar_stereo_cols, utm_cols
    g = events_grid(spark, sf_dir).select("y", "x", "lat", "lon").distinct()
    e_c, n_c = utm_cols(F.col("lat"), F.col("lon"), 31)
    px_c, py_c = polar_stereo_cols(F.col("lat"), F.col("lon"))
    return g.select(
        "y", "x", "lat", "lon",
        F.round(e_c, 4).alias("easting"),
        F.round(n_c, 4).alias("northing"),
        F.round(px_c, 4).alias("ps_x"),
        F.round(py_c, 4).alias("ps_y"))


def _sql_utm_project() -> str:
    """Build the oracle with the SAME precomputed series constants the
    Spark expression uses, inlined as decimal literals."""
    import math as _m

    from georiva_spark.functions import geo as _g
    K = _g.UTM_K0 * _g.KRUGER_A
    a1, a2, a3 = _g.KRUGER_ALPHA
    E = _g._E
    ts = _m.radians(70.0)
    S = _g.WGS84_A * float(_g._ps_m(ts)) / float(_g._ps_t(ts))
    return GRID_CTE + f"""
, px AS (SELECT DISTINCT y, x, lat, lon FROM grid),
h AS (SELECT y, x, lat, lon,
  radians(lon - 3.0) AS lam, sin(radians(lat)) AS sphi,
  radians(lon + 45.0) AS pslam, radians(lat) AS phi
  FROM px),
t1 AS (SELECT *,
  0.5*ln((1+sphi)/(1-sphi)) - {E!r}*0.5*ln((1+{E!r}*sphi)/(1-{E!r}*sphi))
    AS q FROM h),
t2 AS (SELECT *, (exp(q)-exp(-q))/2 AS t FROM t1),
t3 AS (SELECT *,
  atan2(t, cos(lam)) AS xip,
  ln(sin(lam)/sqrt(t*t + cos(lam)*cos(lam))
     + sqrt(sin(lam)*sin(lam)/(t*t + cos(lam)*cos(lam)) + 1)) AS etap
  FROM t2),
t4 AS (SELECT *,
  xip + {a1!r}*sin(2*xip)*(exp(2*etap)+exp(-2*etap))/2
      + {a2!r}*sin(4*xip)*(exp(4*etap)+exp(-4*etap))/2
      + {a3!r}*sin(6*xip)*(exp(6*etap)+exp(-6*etap))/2 AS xi,
  etap + {a1!r}*cos(2*xip)*(exp(2*etap)-exp(-2*etap))/2
       + {a2!r}*cos(4*xip)*(exp(4*etap)-exp(-4*etap))/2
       + {a3!r}*cos(6*xip)*(exp(6*etap)-exp(-6*etap))/2 AS eta
  FROM t3),
ps AS (SELECT *,
  {S!r} * tan(pi()/4 - phi/2)
        * pow((1+{E!r}*sphi)/(1-{E!r}*sphi), {E / 2!r}) AS rho
  FROM t4)
SELECT y, x, lat, lon,
  ROUND(500000.0 + {K!r}*eta, 4) AS easting,
  ROUND({K!r}*xi, 4) AS northing,
  ROUND(rho*sin(pslam), 4) AS ps_x,
  ROUND(-rho*cos(pslam), 4) AS ps_y
FROM ps
"""


SQL_UTM_PROJECT = _sql_utm_project()


def q_ingest_geotiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 end-to-end: embeddings table → float32 GeoTIFF (deflate,
    predictor 3 — exactly the envelope the reference's COG writer emits,
    ingestion/asset_writer.py:86-99) → binaryFile scan → dependency-free
    decode (tiff_codec) → per-row grid aggregates. Row y of the south-up
    grid maps to vec_id = nvec-1-y (the file is written north-up with
    vec 0 on top; the decoder flips, mirroring needs_flip,
    formats/geotiff.py:343-345); timestamp parses from the filename."""
    import os
    import tempfile

    from georiva_spark.sources.raster_formats import GEOTIFF
    from georiva_spark.sources.tiff_codec import encode_geotiff

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    pdf = emb.select("embedding").toPandas()  # bounded fixture build
    arr = np.asarray([np.asarray(e, dtype=np.float32)
                      for e in pdf["embedding"]])
    nvec = arr.shape[0]
    buf = encode_geotiff(arr, pixel_scale=(0.01, 0.01),
                         tiepoint_xy=(0.0, nvec * 0.01))
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_tiff")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"emb_{nvec}_20240115.tif")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    g = GEOTIFF.open_variable(spark, fp, "band_1")
    return (g.groupBy("y", "time")
            .agg(F.count("value").alias("n"),
                 F.avg("value").alias("vmean"),
                 F.min("value").alias("vmin"),
                 F.max("value").alias("vmax"),
                 F.min("lat").alias("lat")))


SQL_INGEST_GEOTIFF = """
WITH u AS (SELECT (SELECT COUNT(*) FROM embeddings) - 1 - vec_id AS y,
                  CAST(x AS DOUBLE) AS v
           FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings))
SELECT y, TIMESTAMP '2024-01-15 00:00:00' AS time, COUNT(v) AS n,
       AVG(v) AS vmean, MIN(v) AS vmin, MAX(v) AS vmax,
       CAST(0.01 AS DOUBLE) * (y + 0.5) AS lat
FROM u GROUP BY y
"""


def _embeddings_as_media(spark: SparkSession, sf_dir: str,
                         kind: str) -> DataFrame:
    """Deterministic media payloads from the embeddings table: each 64-dim
    vector becomes an 8×8 RAW image / 64-sample RAW audio clip. Exercises
    the real binary-column plumbing without external decoders."""
    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32)
                if kind == "image":
                    content = mm.encode_raw_image(a.reshape(8, 8))
                else:
                    content = mm.encode_raw_audio(a, rate=64)
                rows.append((int(vec_id), kind, content, f"{kind}/raw"))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content",
                                              "mime"])

    return emb.mapInPandas(
        gen, schema="media_id long, kind string, content binary, mime string")


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _embeddings_as_media(spark, sf_dir, "image")
    return mm.image_features(media)


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize 8×8→4×4 then re-extract stats, so the oracle checks the
    actual pixel selection (nearest-neighbour picks rows/cols 1,3,5,7),
    not just the output header."""
    media = _embeddings_as_media(spark, sf_dir, "image")
    resized = mm.resize_images(media, 4, 4).withColumn(
        "mime", F.lit("image/raw"))
    return (mm.image_features(resized)
            .select("media_id", "height", "width", "mean"))


def q_image_resize_bl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear resize with an exact oracle: at an integer 2× downsample
    the pixel-center bilinear weights are all 1/4, so every output
    pixel is the mean of its 2×2 block — the oracle replays the block
    means and the re-extracted stats in SQL (std/min/max distinguish a
    wrong kernel; the mean alone would degenerate to the global mean)."""
    media = _embeddings_as_media(spark, sf_dir, "image")
    resized = mm.resize_images(media, 4, 4, method="bilinear") \
        .withColumn("mime", F.lit("image/raw"))
    out = mm.image_features(resized)
    return out.select("media_id", "height", "width",
                      _r4ge("mean"), _r4ge("std"),
                      _r4ge("min"), _r4ge("max"))


def _r4ge(c):
    return F.round(F.col(c), 4).alias(c)


SQL_IMAGE_RESIZE_BL = """
WITH px AS (
  SELECT vec_id, (i - 1) // 8 AS y, (i - 1) % 8 AS x,
         CAST(embedding[i] AS DOUBLE) AS v
  FROM (SELECT vec_id, unnest(generate_series(1, 64)) AS i, embedding
        FROM embeddings)),
blocks AS (
  SELECT vec_id, y // 2 AS by, x // 2 AS bx, AVG(v) AS bv
  FROM px GROUP BY vec_id, y // 2, x // 2)
SELECT vec_id AS media_id, CAST(4 AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS width,
       ROUND(AVG(bv), 4) AS mean, ROUND(stddev_pop(bv), 4) AS std,
       ROUND(MIN(bv), 4) AS "min", ROUND(MAX(bv), 4) AS "max"
FROM blocks GROUP BY vec_id
"""


def q_image_features_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format image decode: the SAME deterministic uint8 RGB pixels
    (value = (31·vec_id + 7·i + 97·c) mod 256, i = flat pixel index) are
    shipped twice per vector — once RAW-encoded, once as a real PNG
    (color type 2, written and read by the dependency-free codec GRIB2
    template 5.41 uses, sources/png_codec.py) — and both rows must
    produce identical stats. media_id = 2·vec_id + (0 raw | 1 png).
    Reference analog: rasterio band reads (formats/geotiff.py)."""
    from georiva_spark.sources.png_codec import png_encode_image

    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id in pdf["vec_id"]:
                v = int(vec_id)
                i = np.arange(64, dtype=np.int64)[:, None]
                c = np.arange(3, dtype=np.int64)[None, :]
                px = ((31 * v + 7 * i + 97 * c) % 256).astype(
                    np.uint8).reshape(8, 8, 3)
                rows.append((2 * v, "image",
                             mm.encode_raw_image(px.astype(np.float32)),
                             "image/raw"))
                rows.append((2 * v + 1, "image",
                             png_encode_image(px), "image/png"))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "content", "mime"])

    media = emb.select("vec_id").mapInPandas(
        gen, schema="media_id long, kind string, content binary, mime string")
    return mm.image_features(media)


SQL_IMAGE_FEATURES_PNG = """
WITH u AS (
  SELECT vec_id, k,
         CAST((31 * vec_id + 7 * i + 97 * c) % 256 AS DOUBLE) AS v
  FROM embeddings,
       range(0, 64) r1(i), range(0, 3) r2(c), (VALUES (0), (1)) t(k))
SELECT 2 * vec_id + k AS media_id, CAST(8 AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS width, CAST(3 AS INTEGER) AS channels,
       avg(v) AS mean, stddev_pop(v) AS std,
       min(v) AS "min", max(v) AS "max"
FROM u GROUP BY vec_id, k
"""


def q_image_features_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JPEG decode with a HASH-EXACT oracle: 8×8-block-constant
    grayscale images survive JPEG at quality 100 bit-exactly (a
    constant block is pure DC; the top-left quantizer is 1 at q=100, so
    FDCT→quantize→IDCT→round is the identity — asserted for the whole
    value range in tests). Each vector becomes a 16×16 image of 4
    constant blocks valued (31·vec_id + 57·b) mod 256, shipped TWICE —
    media_id 2·vec_id as BASELINE (SOF0), 2·vec_id+1 as PROGRESSIVE
    (SOF2 multi-scan) — and both must decode to identical stats; the
    oracle replays the block values in SQL."""
    from georiva_spark.sources.jpeg_codec import (jpeg_encode,
                                                  jpeg_encode_progressive)

    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id in pdf["vec_id"]:
                v = int(vec_id)
                blocks = np.array(
                    [[(31 * v) % 256, (31 * v + 57) % 256],
                     [(31 * v + 114) % 256, (31 * v + 171) % 256]],
                    dtype=np.uint8)
                img = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
                rows.append((2 * v, "image",
                             jpeg_encode(img, quality=100),
                             "image/jpeg"))
                rows.append((2 * v + 1, "image",
                             jpeg_encode_progressive(img, quality=100),
                             "image/jpeg"))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "content", "mime"])

    media = (emb.where(F.col("vec_id") < 250).select("vec_id")
             .mapInPandas(gen, schema="media_id long, kind string, "
                                      "content binary, mime string"))
    return mm.image_features(media)


SQL_IMAGE_FEATURES_JPEG = """
WITH u AS (
  SELECT vec_id, k,
         CAST((31 * vec_id + 57 * b) % 256 AS DOUBLE) AS v
  FROM embeddings, (VALUES (0), (1), (2), (3)) t(b),
       (VALUES (0), (1)) p(k)
  WHERE vec_id < 250)
SELECT 2 * vec_id + k AS media_id, CAST(16 AS INTEGER) AS height,
       CAST(16 AS INTEGER) AS width, CAST(1 AS INTEGER) AS channels,
       avg(v) AS mean, stddev_pop(v) AS std,
       min(v) AS "min", max(v) AS "max"
FROM u GROUP BY vec_id, k
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _embeddings_as_media(spark, sf_dir, "audio")
    return mm.audio_features(media)


def q_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio features: DFT band energies at bins
    1/2/4/8 + spectral centroid per 64-sample clip. The oracle computes
    the identical naive-DFT sums (cos/sin banks over the embedding
    slice) in SQL; both sides round to 4 dp per the float-determinism
    policy (transcendental libm ulps)."""
    media = _embeddings_as_media(spark, sf_dir, "audio")
    out = mm.audio_spectrum(media, bins=(1, 2, 4, 8))
    return out.select(
        "media_id", "n_samples",
        *[F.round(F.col(f"e{k}"), 4).alias(f"e{k}") for k in (1, 2, 4, 8)],
        F.round("centroid", 4).alias("centroid"))


def _sql_audio_spectrum() -> str:
    def re_im(k):
        return (f"list_sum(list_transform(generate_series(1, "
                f"len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * "
                f"cos(2*pi()*{k}*(i-1)/len(embedding))))",
                f"list_sum(list_transform(generate_series(1, "
                f"len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * "
                f"sin(2*pi()*{k}*(i-1)/len(embedding))))")
    es = []
    for k in (1, 2, 4, 8):
        re, im = re_im(k)
        es.append(f"(({re}) * ({re}) + ({im}) * ({im})) AS raw_e{k}")
    return f"""
WITH s AS (SELECT vec_id AS media_id,
                  CAST(len(embedding) AS BIGINT) AS n_samples,
                  {", ".join(es)}
           FROM embeddings)
SELECT media_id, n_samples,
       ROUND(raw_e1, 4) AS e1, ROUND(raw_e2, 4) AS e2,
       ROUND(raw_e4, 4) AS e4, ROUND(raw_e8, 4) AS e8,
       ROUND((1*raw_e1 + 2*raw_e2 + 4*raw_e4 + 8*raw_e8)
             / (raw_e1 + raw_e2 + raw_e4 + raw_e8), 4) AS centroid
FROM s
"""


SQL_AUDIO_SPECTRUM = _sql_audio_spectrum()


def q_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format audio decode: each embedding becomes a 16-bit PCM
    RIFF/WAVE clip (samples int16-quantized by truncation toward zero,
    clipped to the int16 range) and flows through the native WAV
    decoder + audio_features; the oracle replays the quantization
    (TRUNC) and the RMS/zero-crossing math over the same samples."""
    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _s
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                x = np.asarray(embedding, dtype=np.float64)
                q = np.clip(np.trunc(x * 32768.0), -32768, 32767) \
                    .astype("<i2")
                data = q.tobytes()
                fmt = _s.pack("<HHIIHH", 1, 1, 64, 128, 2, 16)
                body = (b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
                        + b"data" + _s.pack("<I", len(data)) + data)
                rows.append((int(vec_id), "audio",
                             b"RIFF" + _s.pack("<I", len(body)) + body,
                             "audio/wav"))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "content", "mime"])

    media = emb.mapInPandas(
        gen, schema="media_id long, kind string, content binary, mime string")
    out = mm.audio_features(media)
    return out.select("media_id", "rate", "n_samples", "duration_s",
                      F.round("rms", 6).alias("rms"), "zero_crossings")


SQL_AUDIO_WAV = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           GREATEST(-32768, LEAST(32767,
             TRUNC(CAST(x AS DOUBLE) * 32768.0))) / 32768.0) AS s
  FROM embeddings)
SELECT vec_id AS media_id, CAST(64 AS INTEGER) AS rate,
  CAST(len(s) AS BIGINT) AS n_samples,
  CAST(len(s) AS DOUBLE) / 64.0 AS duration_s,
  ROUND(sqrt(list_avg(list_transform(s, v -> v * v))), 6) AS rms,
  CAST(len(list_filter(range(0, len(s) - 1),
       i -> (s[i + 1] < 0) <> (s[i + 2] < 0))) AS BIGINT)
    AS zero_crossings
FROM q
"""


def q_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window stats (streaming windowed_stats in its
    batch form — identical expression; the watermark/late-data behavior
    is pinned in the streaming tests)."""
    from georiva_spark.streaming import windowed_stats
    g = events_grid(spark, sf_dir)
    return windowed_stats(g, window="1 day", time_col="time",
                          keys=("variable",))


SQL_WINDOWED_AGG = GRID_CTE + """
SELECT variable,
       CAST(date_trunc('day', time) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', time) + INTERVAL 1 DAY AS TIMESTAMP)
         AS window_end,
       COUNT(value) AS n, SUM(value) AS sum,
       MIN(value) AS min, MAX(value) AS max
FROM grid GROUP BY variable, date_trunc('day', time)
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — exact path (bounded corpus at
    oracle scale); the SRP-bucketed default is the 100-TB path, recall-
    tested in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, threshold=0.4,
                                               exact=True)


SQL_EMBEDDING_NEAR_DUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_inner_product(a.v, b.v)
         / (sqrt(list_inner_product(a.v, a.v))
            * sqrt(list_inner_product(b.v, b.v))) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v)
        / (sqrt(list_inner_product(a.v, a.v))
           * sqrt(list_inner_product(b.v, b.v))) >= 0.4
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling: each 64-dim embedding becomes a 4-frame
    4×4 RAW video; sample every 2nd frame (1:N mapInPandas explosion)
    then re-extract per-frame stats. frame_id = 4·vec_id + frame_index
    so the DuckDB oracle can address the exact embedding slice."""
    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32).reshape(4, 4, 4)
                rows.append((int(vec_id), mm.encode_raw_video(a)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = emb.mapInPandas(gen, schema="media_id long, content binary")
    frames = mm.sample_frames(media, every=2)
    composite = frames.select(
        (F.col("media_id") * 4 + F.col("frame_index")).alias("media_id"),
        "content", F.lit("image/raw").alias("mime"))
    return (mm.image_features(composite)
            .select(F.col("media_id").alias("frame_id"), "mean"))


SQL_VIDEO_FRAMES = """
SELECT 4 * vec_id + f AS frame_id,
       list_avg(list_transform(range(16*f + 1, 16*f + 17),
                               i -> CAST(embedding[i] AS DOUBLE))) AS mean
FROM embeddings, (VALUES (0), (2)) t(f)
"""


def q_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection: each embedding becomes a 4-frame 4×4 RAW
    video; a cut is a frame whose brightness mean jumps > 0.2 from its
    predecessor (frame 0 always cuts). One vectorized decode per video
    + a per-video lag window; the oracle replays the frame means over
    the embedding slices and the same lag comparison in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32).reshape(4, 4, 4)
                rows.append((int(vec_id), mm.encode_raw_video(a)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = emb.mapInPandas(gen, schema="media_id long, content binary")
    return mm.scene_cuts(media, threshold=0.2)


SQL_VIDEO_SCENES = """
WITH m AS (
  SELECT vec_id AS media_id, f AS frame_index,
         list_avg(list_transform(range(16*f + 1, 16*f + 17),
                                 i -> CAST(embedding[i] AS DOUBLE)))
           AS frame_mean
  FROM embeddings, (VALUES (0), (1), (2), (3)) t(f))
SELECT media_id, frame_index, frame_mean,
       COALESCE(ABS(frame_mean - LAG(frame_mean) OVER
                    (PARTITION BY media_id ORDER BY frame_index))
                > 0.2, TRUE) AS cut
FROM m
"""


def q_mjpeg_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene cuts over MJPEG/AVI clips — the r6 dependency-free video
    CONTAINER path (sources/avi_codec.py + per-frame baseline JPEG
    through sources/jpeg_codec.py): each embedding becomes a 4-frame
    AVI whose frames are 8×8 CONSTANT uint8 blocks
    (clip(floor(40·e[16n]) + 128)), so the quality-100 JPEG round-trip
    is bit-exact (pure DC, top-left quantizer 1 — invariant pinned in
    tests/test_multimodal.py) and the oracle derives the exact frame
    means straight from the source vectors. Real container demux +
    real entropy decode on every row, yet hash-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    from georiva_spark.sources.avi_codec import avi_mjpeg_encode
    from georiva_spark.sources.jpeg_codec import jpeg_encode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # frames are CONSTANT 8x8 blocks: only 256 distinct JPEGs
        # exist, so memoize the per-frame encode (fixture-build cost
        # only — the container mux and the full decode path under
        # test still run per clip)
        jcache: dict[int, bytes] = {}

        def jfr(v: int) -> bytes:
            if v not in jcache:
                jcache[v] = jpeg_encode(
                    np.full((8, 8), v, dtype=np.uint8), quality=100)
            return jcache[v]

        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32)
                vals = np.clip(
                    np.floor(a[[0, 16, 32, 48]].astype(np.float64)
                             * 40.0) + 128.0, 0, 255).astype(np.uint8)
                frames = np.repeat(vals, 64).reshape(4, 8, 8)
                rows.append((int(vec_id),
                             avi_mjpeg_encode(frames, quality=100,
                                              jpegs=[jfr(int(v))
                                                     for v in vals])))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = emb.mapInPandas(gen, schema="media_id long, content binary")
    return mm.scene_cuts(media, threshold=20.0)


SQL_MJPEG_SCENES = """
WITH m AS (
  SELECT vec_id AS media_id, f AS frame_index,
         LEAST(GREATEST(FLOOR(CAST(embedding[16*f + 1] AS DOUBLE)
                              * 40) + 128, 0), 255) AS frame_mean
  FROM embeddings, (VALUES (0), (1), (2), (3)) t(f))
SELECT media_id, frame_index, frame_mean,
       COALESCE(ABS(frame_mean - LAG(frame_mean) OVER
                    (PARTITION BY media_id ORDER BY frame_index))
                > 20.0, TRUE) AS cut
FROM m
"""


# ---------------------------------------------------------------------------
# DuckDB oracles for the hash-dependent / multimodal queries. The portable
# 60-bit hash (first 15 hex chars of md5 as integer) is computable
# bit-identically by both engines; minhash constants are inlined from
# dedup.minhash_coeffs so signatures, banding, and est-Jaccard reproduce
# exactly in SQL.
# ---------------------------------------------------------------------------

# token 3-shingle of the whitespace token list, as a string (t is 1-based,
# slice inclusive — mirrors Spark F.slice(toks, i+1, 3))
_SHINGLE_STR = "array_to_string(t[i+1:i+3], ' ')"
_PHASH = f"CAST('0x' || substring(md5({_SHINGLE_STR}), 1, 15) AS BIGINT)"
_TOKS_CTE = "SELECT doc_id, string_split(text, ' ') AS t FROM documents"
_SHINGLE_LIST = (
    "list_transform(range(0, greatest(len(t)-3, 0)+1), "
    f"i -> {_PHASH})")

SQL_FINGERPRINTS = f"""
WITH toks AS ({_TOKS_CTE}),
sh AS (SELECT doc_id, {_SHINGLE_LIST} AS s FROM toks),
wins AS (SELECT doc_id,
  list_transform(range(0, greatest(len(s)-8, 0)+1),
                 i -> list_min(s[i+1:i+8])) AS w FROM sh)
SELECT doc_id, CAST(len(list_distinct(w)) AS INTEGER) AS n_fingerprints
FROM wins
"""

SQL_PACK_SEQUENCES = """
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 8 AS INTEGER) AS shard,
         least(len(string_split(text, ' ')), 128)::BIGINT AS n_tok
  FROM documents
), o AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM t
), rec AS (
  SELECT shard, rn, doc_id, n_tok,
         0::BIGINT AS bin_id, 0::BIGINT AS bin_offset
  FROM o WHERE rn = 1
  UNION ALL
  SELECT n.shard, n.rn, n.doc_id, n.n_tok,
         CASE WHEN r.bin_offset + r.n_tok + n.n_tok <= 128
              THEN r.bin_id ELSE r.bin_id + 1 END,
         CASE WHEN r.bin_offset + r.n_tok + n.n_tok <= 128
              THEN r.bin_offset + r.n_tok ELSE 0::BIGINT END
  FROM rec r JOIN o n ON n.shard = r.shard AND n.rn = r.rn + 1
)
SELECT doc_id, shard, bin_id, bin_offset, n_tok FROM rec
"""


SQL_TOKEN_COUNTS = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+'))
       + length(regexp_replace(text, '[a-zA-Z0-9]', '', 'g'))
       AS INTEGER) AS subword_count
FROM documents
"""


def _sql_minhash(threshold: float = 0.3, num_hashes: int = 64,
                 bands: int = 16) -> str:
    """Generate the minhash oracle with the exact (a, b) coefficients the
    Spark UDF uses. Arithmetic is HUGEINT mod 2^64, then the unsigned min
    is reinterpreted to signed — matching numpy uint64 wraparound +
    astype(int64)."""
    a, b = dedup.minhash_coeffs(num_hashes)
    r = num_hashes // bands
    # Unsigned mins computed ONCE per hash in their own projection; the
    # signed reinterpretation (numpy uint64 wraparound + astype(int64))
    # happens in a single list_transform over the finished array. Inlining
    # the CASE around each list_min repeats the full shingle scan 3x per
    # hash — 4x slower end-to-end in DuckDB 1.0.
    mins = [f"list_min(list_transform(s, v -> "
            f"(CAST(v AS HUGEINT) * {int(a[j])} + {int(b[j])})"
            f" % 18446744073709551616))" for j in range(num_hashes)]
    est = (f"CAST(len(list_filter(range(0, {num_hashes}), "
           f"i -> sa[i+1] = sb[i+1])) AS DOUBLE) / {float(num_hashes)}")
    return f"""
WITH toks AS ({_TOKS_CTE}),
sh AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM toks),
sigu AS (SELECT doc_id, [{', '.join(mins)}] AS u FROM sh),
sig AS (SELECT doc_id,
               list_transform(u, m -> CAST(CASE
                 WHEN m >= 9223372036854775808
                 THEN m - 18446744073709551616 ELSE m END AS BIGINT)) AS sig
        FROM sigu),
banded AS (SELECT doc_id, sig, bb.band AS band,
                  sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
           FROM sig CROSS JOIN
                (SELECT unnest(range(0, {bands})) AS band) bb),
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                l.sig AS sa, r.sig AS sb
         FROM banded l JOIN banded r
           ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
SELECT doc_a, doc_b, {est} AS est_jaccard
FROM cand WHERE {est} >= {threshold}
"""


SQL_MINHASH_DEDUP = _sql_minhash(threshold=0.3)

SQL_MINHASH_RECALL = _sql_minhash_recall()
# measured leg needs the shingle helpers above, so it binds here
SQL_MINHASH_TUNE = _sql_minhash_tune(measured_ppm=600_000)


def _sql_fuzzy_decon(threshold: float = 0.5, num_hashes: int = 64,
                     bands: int = 16) -> str:
    """Replay fuzzy_decontaminate: the truncated-benchmark fixture,
    both portable signature sets, band-candidate generation between
    corpus and benchmark, and the per-doc MAX est-Jaccard."""
    a, b = dedup.minhash_coeffs(num_hashes)
    r = num_hashes // bands
    mins = ", ".join(
        f"list_min(list_transform(s, v -> "
        f"(CAST(v AS HUGEINT) * {int(a[j])} + {int(b[j])})"
        f" % 18446744073709551616))" for j in range(num_hashes))
    unsig = ("list_transform(u, m -> CAST(CASE "
             "WHEN m >= 9223372036854775808 "
             "THEN m - 18446744073709551616 ELSE m END AS BIGINT))")
    est = (f"CAST(len(list_filter(range(0, {num_hashes}), "
           f"i -> sa[i+1] = sb[i+1])) AS DOUBLE) / {float(num_hashes)}")
    return f"""
WITH bmt AS (SELECT doc_id,
        array_to_string(list_slice(string_split(text, ' '), 1,
            greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
     FROM documents WHERE doc_id % 20 = 0),
tc AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tb AS (SELECT doc_id, string_split(text, ' ') AS t FROM bmt),
shc AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM tc),
shb AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM tb),
sigc AS (SELECT doc_id, {unsig} AS sig
         FROM (SELECT doc_id, [{mins}] AS u FROM shc)),
sigb AS (SELECT doc_id AS bm_id, {unsig} AS sig
         FROM (SELECT doc_id, [{mins}] AS u FROM shb)),
bandc AS (SELECT doc_id, sig, bb.band AS band,
                 sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
          FROM sigc CROSS JOIN
               (SELECT unnest(range(0, {bands})) AS band) bb),
bandb AS (SELECT bm_id, sig, bb.band AS band,
                 sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
          FROM sigb CROSS JOIN
               (SELECT unnest(range(0, {bands})) AS band) bb),
cand AS (SELECT DISTINCT c.doc_id, b.bm_id, c.sig AS sa, b.sig AS sb
         FROM bandc c JOIN bandb b
           ON c.band = b.band AND c.key = b.key),
hits AS (SELECT doc_id, MAX({est}) AS max_est
         FROM cand GROUP BY doc_id)
SELECT d.doc_id, COALESCE(h.max_est, 0.0) AS max_est_jaccard,
       COALESCE(h.max_est, 0.0) >= {threshold} AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


SQL_FUZZY_DECON = _sql_fuzzy_decon()

_JACC = "CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)"
SQL_NGRAM_JACCARD = f"""
WITH toks AS ({_TOKS_CTE}),
sh AS (SELECT doc_id, list_distinct(
  list_transform(range(0, greatest(len(t)-3, 0)+1),
                 i -> {_SHINGLE_STR})) AS s FROM toks),
sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
pairs AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS inter
          FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, {_JACC} AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
WHERE {_JACC} >= 0.2
"""

SQL_CHUNK_DOCS = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
st AS (SELECT doc_id, t,
       greatest(CAST(floor((len(t) - 16 + 47) / 48.0) AS BIGINT), 1) AS nch
       FROM toks),
ex AS (SELECT doc_id, unnest(list_transform(range(0, nch), i -> {
         'chunk_idx': i,
         'chunk_text': array_to_string(t[(i*48+1):(i*48+64)], ' '),
         'n_tokens': least(CAST(64 AS BIGINT), len(t) - i*48)})) AS u
       FROM st)
SELECT doc_id, u.chunk_idx AS chunk_idx, u.chunk_text AS chunk_text,
       u.n_tokens AS n_tokens
FROM ex
"""


def _sql_pii_scrub() -> str:
    """Oracle built from the same PII_PATTERNS tuple the Spark operator
    uses, applied in the same order on progressively-scrubbed text."""
    aug = ("'user' || CAST(doc_id AS VARCHAR) || '@example.com +1 555 01'"
           " || CAST(doc_id % 90 + 10 AS VARCHAR) || ' ip 10.0.'"
           " || CAST(doc_id % 256 AS VARCHAR) || '.7 ' || text")
    cur = aug
    counts = []
    for name, pat, repl in textops.PII_PATTERNS:
        # DuckDB string literals are standard SQL: backslash is literal,
        # so regex metachars like \. pass through unescaped.
        p = pat.replace("'", "''")
        counts.append(
            f"CAST(len(regexp_extract_all({cur}, '{p}')) AS INTEGER)"
            f" AS n_{name}")
        cur = f"regexp_replace({cur}, '{p}', '{repl}', 'g')"
    return (f"SELECT doc_id, {cur} AS clean_text, "
            + ", ".join(counts) + " FROM documents")


SQL_PII_SCRUB = _sql_pii_scrub()

SQL_REPETITION = f"""
WITH toks AS ({_TOKS_CTE}),
sh AS (SELECT doc_id, t,
       list_transform(range(0, greatest(len(t)-3, 0)+1),
                      i -> {_SHINGLE_STR}) AS s FROM toks),
tf AS (SELECT doc_id, count(*) AS c FROM
       (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok),
mx AS (SELECT doc_id, max(c) AS maxc FROM tf GROUP BY doc_id)
SELECT sh.doc_id,
       1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s)
         AS dup_ngram_frac,
       CAST(mx.maxc AS DOUBLE) / len(t) AS top_token_ratio
FROM sh JOIN mx ON sh.doc_id = mx.doc_id
"""

SQL_HASH_SAMPLE = """
SELECT doc_id, lang, source FROM documents
WHERE CAST('0x' || substring(md5('georiva:' || CAST(doc_id AS VARCHAR)),
                             1, 15) AS BIGINT) % 1000000
  < CASE lang WHEN 'en' THEN 200000 WHEN 'de' THEN 100000 ELSE 50000 END
"""

SQL_SOURCE_MIX = """
WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT SUM(n) AS total FROM counts),
w(lang, w_ppm) AS (VALUES ('en', 500000), ('zh', 300000), ('de', 200000)),
thr AS (SELECT c.lang,
               least(1000000,
                     (CAST(400000 AS HUGEINT) * COALESCE(w.w_ppm, 0)
                      * t.total) // (CAST(c.n AS HUGEINT) * 1000000)) AS t
        FROM counts c CROSS JOIN tot t LEFT JOIN w ON c.lang = w.lang)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN thr ON d.lang = thr.lang
WHERE CAST('0x' || substring(md5('georiva-mix:' || CAST(d.doc_id AS VARCHAR)),
                             1, 15) AS BIGINT) % 1000000 < thr.t
"""

_EVAL_BUCKET = ("CAST('0x' || substring(md5('evalset:' || "
                "CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000")
_SHINGLE8 = (
    "list_transform(range(0, greatest(len(t)-8, 0)+1), "
    "i -> CAST('0x' || substring(md5(array_to_string(t[i+1:i+8], ' ')), "
    "1, 15) AS BIGINT))")
SQL_DECONTAMINATE = f"""
WITH toks AS ({_TOKS_CTE}),
sh AS (SELECT doc_id, list_distinct({_SHINGLE8}) AS s FROM toks),
ev AS (SELECT doc_id FROM documents WHERE {_EVAL_BUCKET} < 100000),
bm AS (SELECT DISTINCT unnest(s) AS g FROM sh
       WHERE doc_id IN (SELECT doc_id FROM ev)),
tr AS (SELECT doc_id, unnest(s) AS g FROM sh
       WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
hits AS (SELECT doc_id, COUNT(*) AS ov FROM tr JOIN bm USING (g)
         GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(h.ov, 0) AS INTEGER) AS overlap_ngrams,
       COALESCE(h.ov, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE NOT ({_EVAL_BUCKET.replace("doc_id", "d.doc_id")} < 100000)
"""

SQL_BOW_SCORE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ms AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS token_count,
              list_sum(list_transform(t, tok ->
                (CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)
                 % 1024 * 2654435761 + 104729) % 1000003)) AS msum
       FROM toks)
SELECT doc_id, token_count,
       CAST(msum AS DOUBLE) / CAST(token_count AS DOUBLE) / 500001.5 - 1.0
         AS bow_score
FROM ms
"""

SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({SQL_MINHASH_DEDUP}),
e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (SELECT u, v FROM e
                UNION SELECT r.u, g.v FROM reach r JOIN e g ON r.v = g.u),
lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u)
SELECT d.doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
"""

SQL_CLUSTER_SPLIT = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({SQL_MINHASH_DEDUP}),
e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (SELECT u, v FROM e
                UNION SELECT r.u, g.v FROM reach r JOIN e g ON r.v = g.u),
lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u),
cl AS (SELECT d.doc_id,
              COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
b AS (SELECT doc_id, cluster_id,
             CAST('0x' || substring(
                 md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 1000000 AS bucket
      FROM cl)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < 980000 THEN 'train'
            WHEN bucket < 990000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""

def _sql_training_pipeline(num_hashes: int = 64, bands: int = 16) -> str:
    """Replay the COMPOSED training recipe as one CTE chain: quality
    cut → fuzzy decon (truncated-benchmark fixture) → minhash pairs
    among the survivors → recursive-CTE components → cluster-hash
    train split → per-lang token budget → md5 shard route → manifest.
    Every fragment is the same arithmetic its standalone oracle uses;
    only the FROM sources change to the previous stage."""
    a, b = dedup.minhash_coeffs(num_hashes)
    r = num_hashes // bands
    mins = ", ".join(
        f"list_min(list_transform(s, v -> "
        f"(CAST(v AS HUGEINT) * {int(a[j])} + {int(b[j])})"
        f" % 18446744073709551616))" for j in range(num_hashes))
    unsig = ("list_transform(u, m -> CAST(CASE "
             "WHEN m >= 9223372036854775808 "
             "THEN m - 18446744073709551616 ELSE m END AS BIGINT))")
    est = (f"CAST(len(list_filter(range(0, {num_hashes}), "
           f"i -> sa[i+1] = sb[i+1])) AS DOUBLE) / {float(num_hashes)}")
    return f"""
WITH RECURSIVE
qt AS MATERIALIZED (
  WITH qb AS (SELECT doc_id, lang, text,
         LEAST(99, GREATEST(0, CAST(FLOOR(
             CAST(n_chars AS DOUBLE) / 5000.0 * 100) AS INT))) AS bin,
         CAST('0x' || substring(md5('qthr:' || CAST(doc_id AS VARCHAR)),
              1, 15) AS BIGINT) % 1000000 AS bk
       FROM documents),
  h AS (SELECT lang, bin, COUNT(*) AS c FROM qb GROUP BY lang, bin),
  tgt AS (SELECT lang, SUM(c) * 600000 // 1000000 AS target
          FROM h GROUP BY lang),
  cum AS (SELECT h.lang, h.bin, h.c,
                 SUM(h.c) OVER (PARTITION BY h.lang
                                ORDER BY h.bin DESC) AS cum_ge
          FROM h),
  thr AS (SELECT cum.lang, MAX(cum.bin) AS thr
          FROM cum JOIN tgt USING (lang)
          WHERE cum.cum_ge >= tgt.target GROUP BY cum.lang),
  wn AS (SELECT t.lang, t.thr,
                (tg.target - COALESCE(SUM(c2.c), 0)) * 1000000
                  // MAX(h2.c) AS within_ppm
         FROM thr t
         JOIN tgt tg ON tg.lang = t.lang
         JOIN h h2 ON h2.lang = t.lang AND h2.bin = t.thr
         LEFT JOIN h c2 ON c2.lang = t.lang AND c2.bin > t.thr
         GROUP BY t.lang, t.thr, tg.target)
  SELECT b.doc_id, b.lang, b.text
  FROM qb b JOIN wn ON wn.lang = b.lang
  WHERE b.bin > wn.thr OR (b.bin = wn.thr AND b.bk < wn.within_ppm)
),
clean AS MATERIALIZED (
  WITH bmt AS (SELECT doc_id,
          array_to_string(list_slice(string_split(text, ' '), 1,
              greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
       FROM documents WHERE doc_id % 20 = 0),
  tc AS (SELECT doc_id, string_split(text, ' ') AS t FROM qt),
  tbm AS (SELECT doc_id, string_split(text, ' ') AS t FROM bmt),
  shc AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM tc),
  shb AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM tbm),
  sigc AS (SELECT doc_id, {unsig} AS sig
           FROM (SELECT doc_id, [{mins}] AS u FROM shc)),
  sigb AS (SELECT doc_id AS bm_id, {unsig} AS sig
           FROM (SELECT doc_id, [{mins}] AS u FROM shb)),
  bandc AS (SELECT doc_id, sig, bb.band AS band,
                   sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
            FROM sigc CROSS JOIN
                 (SELECT unnest(range(0, {bands})) AS band) bb),
  bandb AS (SELECT bm_id, sig, bb.band AS band,
                   sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
            FROM sigb CROSS JOIN
                 (SELECT unnest(range(0, {bands})) AS band) bb),
  cand AS (SELECT DISTINCT c.doc_id, b.bm_id, c.sig AS sa, b.sig AS sb
           FROM bandc c JOIN bandb b
             ON c.band = b.band AND c.key = b.key),
  hits AS (SELECT doc_id, MAX({est}) AS max_est
           FROM cand GROUP BY doc_id)
  SELECT q.doc_id, q.lang, q.text
  FROM qt q LEFT JOIN hits h ON q.doc_id = h.doc_id
  WHERE COALESCE(h.max_est, 0.0) < 0.5
),
pairs AS MATERIALIZED (
  WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM clean),
  sh AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM toks),
  sigu AS (SELECT doc_id, [{mins}] AS u FROM sh),
  sig AS (SELECT doc_id, {unsig} AS sig FROM sigu),
  banded AS (SELECT doc_id, sig, bb.band AS band,
                    sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
             FROM sig CROSS JOIN
                  (SELECT unnest(range(0, {bands})) AS band) bb),
  cand AS (SELECT DISTINCT l.doc_id AS doc_a, r2.doc_id AS doc_b,
                  l.sig AS sa, r2.sig AS sb
           FROM banded l JOIN banded r2
             ON l.band = r2.band AND l.key = r2.key
                AND l.doc_id < r2.doc_id)
  SELECT doc_a, doc_b FROM cand WHERE {est} >= 0.3
),
e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (SELECT u, v FROM e
                UNION SELECT r.u, g.v FROM reach r JOIN e g ON r.v = g.u),
lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u),
train AS MATERIALIZED (
  SELECT c.doc_id, c.lang, c.text
  FROM clean c LEFT JOIN lab l ON c.doc_id = l.doc_id
  WHERE CAST('0x' || substring(md5('split:' ||
        CAST(COALESCE(l.cluster_id, c.doc_id) AS VARCHAR)), 1, 15)
        AS BIGINT) % 1000000 < 980000
),
kept AS MATERIALIZED (
  WITH t AS (SELECT doc_id, lang,
        CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+'))
             END AS BIGINT) AS n_tokens,
        CAST('0x' || substring(md5('budget:' || CAST(doc_id AS VARCHAR)),
             1, 15) AS BIGINT) % 1000000 AS bucket
     FROM train),
  c AS (SELECT doc_id, lang, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY lang ORDER BY bucket, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_tokens
     FROM t)
  SELECT doc_id, lang, n_tokens FROM c WHERE cum_tokens - n_tokens < 1500
),
sh2 AS (SELECT CAST(CAST('0x' || substring(
            md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 8 AS INT) AS shard, n_tokens
        FROM kept)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS min_pos,
       CAST(COUNT(*) - 1 AS BIGINT) AS max_pos,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM sh2 GROUP BY shard ORDER BY shard
"""


SQL_TRAINING_PIPELINE = _sql_training_pipeline()

_DDOT = ("list_inner_product(CAST(e.embedding AS DOUBLE[]), "
         "CAST(e.embedding AS DOUBLE[]))")
SQL_KNN_ALL_TOPK = f"""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 8),
s AS (SELECT q.q_id, e.vec_id,
        list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
          / (sqrt({_DDOT}) * sqrt(list_inner_product(q.qe, q.qe))) AS cosine
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id)
SELECT q_id, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, vec_id) AS rn FROM s)
WHERE rn <= 3
"""

SQL_IMAGE_FEATURES = """
WITH u AS (SELECT vec_id, CAST(x AS DOUBLE) AS v FROM
           (SELECT vec_id, unnest(embedding) AS x FROM embeddings))
SELECT vec_id AS media_id, CAST(8 AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS width, CAST(1 AS INTEGER) AS channels,
       avg(v) AS mean, stddev_pop(v) AS std,
       min(v) AS "min", max(v) AS "max"
FROM u GROUP BY vec_id
"""

# nearest-neighbour 8x8 -> 4x4 picks rows/cols 1,3,5,7 (0-based); flat
# 1-based indices 8*y + x + 1:
SQL_IMAGE_RESIZE = """
SELECT vec_id AS media_id, CAST(4 AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS width,
       list_avg(list_transform(
         [10,12,14,16,26,28,30,32,42,44,46,48,58,60,62,64],
         i -> CAST(embedding[i] AS DOUBLE))) AS mean
FROM embeddings
"""

SQL_AUDIO_FEATURES = """
SELECT vec_id AS media_id, CAST(64 AS INTEGER) AS rate,
  CAST(len(embedding) AS BIGINT) AS n_samples,
  CAST(len(embedding) AS DOUBLE) / 64.0 AS duration_s,
  sqrt(list_avg(list_transform(embedding,
                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
    AS rms,
  CAST(len(list_filter(range(0, len(embedding)-1),
           i -> (embedding[i+1] < 0) <> (embedding[i+2] < 0))) AS BIGINT)
    AS zero_crossings
FROM embeddings
"""


# SimHash: per-bit majority vote over portable 60-bit token hashes. Bits
# 60-63 are never set, so every token votes -1 there → bit 0 → assembling
# over range(0,60) is exact (and avoids BIGINT 1<<63 overflow).
_TOKHASH = "CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)"
SQL_SIMHASH = f"""
WITH toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
              FROM documents),
h AS (SELECT doc_id, list_transform(t, x -> {_TOKHASH}) AS hs FROM toks),
bits AS (SELECT doc_id, list_transform(range(0, 60),
  i -> CASE WHEN list_sum(list_transform(hs,
        v -> CASE WHEN ((v >> i) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS b FROM h)
SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
  i -> b[i+1] * (CAST(1 AS BIGINT) << i))) AS BIGINT) AS simhash
FROM bits
"""


SQL_SIMHASH_PAIRS = f"""
WITH codes AS MATERIALIZED ({SQL_SIMHASH})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM codes a JOIN codes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


def _sql_language_id() -> str:
    """Language-ID oracle generated from textops.LANG_MARKERS so the
    marker lists and first-match tie-break order stay in sync."""
    counts, cases = [], []
    langs = list(textops.LANG_MARKERS)
    for lang, ws in textops.LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in ws)
        counts.append(
            f"len(list_filter(toks, x -> list_contains([{lst}], x)))"
            f" AS {lang}")
    best = f"greatest({', '.join(langs)})"
    for lang in langs:
        cases.append(f"WHEN {lang} = {best} THEN '{lang}'")
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
           FROM documents),
s AS (SELECT doc_id, lang, {', '.join(counts)} FROM t)
SELECT doc_id, lang AS lang_true,
  CASE WHEN {best} = 0 THEN 'und' {' '.join(cases)} END AS lang_pred
FROM s
"""


SQL_LANGUAGE_ID = _sql_language_id()


def _sql_knn_lsh(planes: int = 6, seed: int = 42, k: int = 5,
                 query_vec_id: int = 0) -> str:
    """knn_lsh oracle: reproduce the portable SRP bucketing (centered
    md5-derived plane coefficients) and probe the query's bucket."""
    center = 1 << 59
    projs = []
    for p in range(planes):
        c = (f"CAST(CAST('0x' || substring(md5('{seed},{p},' || "
             f"CAST(i AS VARCHAR)), 1, 15) AS BIGINT) - {center} AS DOUBLE)")
        projs.append(
            f"CASE WHEN list_sum(list_transform(range(0, len(embedding)), "
            f"i -> CAST(embedding[i+1] AS DOUBLE) * {c})) >= 0 "
            f"THEN {1 << p} ELSE 0 END")
    bucket = " + ".join(projs)
    return f"""
WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                  CAST({bucket} AS BIGINT) AS bucket FROM embeddings),
q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = {query_vec_id})
SELECT b.vec_id,
  list_inner_product(b.e, q.qe)
    / (sqrt(list_inner_product(b.e, b.e))
       * sqrt(list_inner_product(q.qe, q.qe))) AS cosine
FROM b, q WHERE b.bucket = q.qb AND b.vec_id <> {query_vec_id}
ORDER BY cosine DESC, vec_id LIMIT {k}
"""


SQL_KNN_LSH = _sql_knn_lsh()


def q_quantize_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization: per-vector max-abs scale +
    int8 codes, with a reconstruction-bound check (|dequant - x| ≤
    scale/2 per component) computed in the same pass. 4× storage cut
    for the 100-TB embedding column; pure array HOFs."""
    from georiva_spark.functions.vectors import dequantize_int8, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(F.col("embedding"))
    deq = dequantize_int8(q)
    err = F.array_max(F.zip_with(deq, F.col("embedding"),
                                 lambda a, b: F.abs(a - b)))
    # `codes` rides as a comma-joined string: the driver's pandas
    # canonicalizer sorts every column, and a top-level array column is
    # unhashable there (r4 ERR). The oracle serializes identically.
    return emb.select(
        "vec_id", q["scale"].alias("scale"),
        F.concat_ws(",", q["codes"].cast("array<string>")).alias("codes"),
        (err <= q["scale"] / F.lit(2.0) + F.lit(1e-12)).alias("err_ok"))


SQL_QUANTIZE_EMB = """
WITH q AS (
  SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> abs(x))) / 127.0 AS scale
  FROM embeddings),
c AS (
  SELECT vec_id, embedding, scale,
    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
         ELSE list_transform(embedding,
                             x -> CAST(round(x / scale) AS INT)) END AS codes
  FROM q)
SELECT vec_id, scale,
  array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ',')
    AS codes,
  list_max(list_transform(list_zip(codes, embedding),
    p -> abs(CAST(p[1] AS DOUBLE) * scale - p[2]))) <= scale/2.0 + 1e-12
    AS err_ok
FROM c
"""


def q_file_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename time extraction (ingestion/time_extraction.py): build
    filenames from events under three date grammars (choice cycles by
    event_id), forecast files carry the GR--{reftime}-- prefix, then
    parse valid_time/reference_time back with the vectorized extractor.
    Unparseable rows (event_id%7==0 get a mangled stem) stay null —
    the never-raises contract, visible to the oracle."""
    from georiva_spark.sources.ingestion import filename_times

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    choice = F.element_at(
        F.array(F.lit("YYYYMMDD"), F.lit("YYYYMMDDHH"),
                F.lit("YYYYMMDDHHMM")),
        (F.col("event_id") % 3 + 1).cast("int"))
    stem = (
        F.when(choice == "YYYYMMDD", F.date_format("ts", "yyyyMMdd"))
        .when(choice == "YYYYMMDDHH", F.date_format("ts", "yyyyMMddHH"))
        .otherwise(F.date_format("ts", "yyyyMMddHHmm")))
    stem = F.when(F.col("event_id") % 7 == 0,
                  F.concat(F.lit("x"), stem)).otherwise(stem)
    prefix = F.when(
        F.col("event_id") % 4 == 0,
        F.concat(F.lit("GR--"),
                 F.date_format(F.col("ts") - F.expr("INTERVAL 6 HOURS"),
                               "yyyyMMddHH"),
                 F.lit("--"))).otherwise(F.lit(""))
    named = ev.select(
        "event_id",
        F.concat(prefix, stem, F.lit(".grib2")).alias("filename"),
        choice.alias("format_choice"))
    out = filename_times(named)
    return out.select("event_id", "filename", "format_choice",
                      "reference_time", "valid_time")


SQL_FILE_TIMES = """
WITH named AS (
  SELECT event_id,
    CASE WHEN event_id % 3 = 0 THEN 'YYYYMMDD'
         WHEN event_id % 3 = 1 THEN 'YYYYMMDDHH'
         ELSE 'YYYYMMDDHHMM' END AS format_choice,
    CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y%m%d')
         WHEN event_id % 3 = 1 THEN strftime(ts, '%Y%m%d%H')
         ELSE strftime(ts, '%Y%m%d%H%M') END AS stem0,
    CASE WHEN event_id % 4 = 0
         THEN 'GR--' || strftime(ts - INTERVAL 6 HOUR, '%Y%m%d%H') || '--'
         ELSE '' END AS prefix,
    ts
  FROM events WHERE event_id < 2000),
built AS (
  SELECT event_id, format_choice,
    prefix || (CASE WHEN event_id % 7 = 0 THEN 'x' || stem0
                    ELSE stem0 END) || '.grib2' AS filename,
    CASE WHEN event_id % 7 = 0 THEN 'x' || stem0 ELSE stem0 END AS stem,
    prefix
  FROM named)
SELECT event_id, filename, format_choice,
  CASE WHEN prefix <> ''
       THEN try_strptime(regexp_extract(prefix, 'GR--(\\d{10})', 1),
                         '%Y%m%d%H')
       ELSE NULL END AS reference_time,
  CASE WHEN format_choice = 'YYYYMMDD' AND regexp_matches(stem, '^\\d{8}$')
         THEN try_strptime(stem, '%Y%m%d')
       WHEN format_choice = 'YYYYMMDDHH' AND regexp_matches(stem, '^\\d{10}$')
         THEN try_strptime(stem, '%Y%m%d%H')
       WHEN format_choice = 'YYYYMMDDHHMM'
            AND regexp_matches(stem, '^\\d{12}$')
         THEN try_strptime(stem, '%Y%m%d%H%M')
       ELSE NULL END AS valid_time
FROM built
"""


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary build: top-1000 tokens by total frequency with
    document frequency — the corpus statistic a tokenizer vocab or an
    IDF-weighted scorer starts from. Plain codegen'd explode + hash
    aggregate: the map-side partial on (token, doc) collapses repeated
    tokens before the exchange, so the shuffle carries one row per
    (doc, distinct token) — see vocab_df's docstring for why the in-row
    run-collapse variant was rejected (measured 40x slower)."""
    docs = load_table(spark, sf_dir, "documents")
    out = textops.vocab_df(docs, top_k=1000)
    return out.select("token", F.col("tf").cast("long").alias("tf"),
                      F.col("df").cast("long").alias("df"))


SQL_VOCAB = """
WITH ex AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  WHERE length(text) > 0),
perdoc AS (
  SELECT doc_id, token, COUNT(*) AS c FROM ex GROUP BY doc_id, token),
agg AS (
  SELECT token, SUM(c) AS tf, COUNT(*) AS df FROM perdoc GROUP BY token)
SELECT token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
FROM agg ORDER BY tf DESC, token LIMIT 1000
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (CCNet/Gopher perplexity-filter
    shape): corpus-fit add-k-smoothed unigram LM, per-doc mean bits per
    token. The LM join is broadcast (map-side), the per-doc agg's
    partial collapses the token stream before the exchange."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.lm_score(docs, top_k=10_000, add_k=0.5)


SQL_LM_SCORE = """
WITH ex AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  WHERE length(text) > 0),
vocab AS (
  SELECT token, COUNT(*) AS tf FROM ex GROUP BY token
  ORDER BY tf DESC, token LIMIT 10000),
n AS (SELECT COUNT(*) AS nt FROM ex),
scored AS (
  SELECT ex.doc_id, COUNT(*) AS n_tokens,
    -AVG(log2((COALESCE(v.tf, 0) + 0.5)
              / (n.nt + 0.5 * 10001))) AS bits_per_token
  FROM ex LEFT JOIN vocab v USING (token), n
  GROUP BY ex.doc_id)
SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.bits_per_token
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM scoring with Stupid Backoff (Brants et al. 2007):
    corpus-fit bigram table (c(v) folded in at fit time, broadcast),
    backoff to the α-discounted add-k unigram; first token scored by
    the unigram alone. Sharper than the unigram filter: common-word
    word-salad stays cheap under unigrams but expensive under bigrams."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.lm_score_bigram(docs, top_k=10_000,
                                   top_k_bigrams=50_000, add_k=0.5,
                                   alpha=0.4)


SQL_LM_BIGRAM = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE length(text) > 0),
ex AS (SELECT doc_id, unnest(t) AS w FROM toks),
uni AS (SELECT w, COUNT(*) AS tf FROM ex GROUP BY w),
vocab AS (SELECT w, tf FROM uni ORDER BY tf DESC, w LIMIT 10000),
n AS (SELECT COUNT(*) AS nt FROM ex),
bis AS (
  SELECT doc_id, p[1] AS v, p[2] AS w
  FROM (SELECT doc_id,
               unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS p
        FROM toks WHERE len(t) > 1)),
bi AS (SELECT v, w, COUNT(*) AS c_vw FROM bis GROUP BY v, w
       ORDER BY c_vw DESC, v, w LIMIT 50000),
bi2 AS (SELECT b.v, b.w, b.c_vw, u.tf AS c_v
        FROM bi b JOIN uni u ON u.w = b.v),
stream AS (
  SELECT doc_id, CAST(NULL AS VARCHAR) AS v, t[1] AS w FROM toks
  UNION ALL SELECT doc_id, v, w FROM bis),
j AS (
  SELECT s.doc_id,
         CASE WHEN b.c_vw IS NOT NULL
              THEN log2(CAST(b.c_vw AS DOUBLE) / CAST(b.c_v AS DOUBLE))
              ELSE log2((COALESCE(vo.tf, 0) + 0.5)
                        / (CAST(n.nt AS DOUBLE) + 0.5 * 10001))
                   + CASE WHEN s.v IS NULL THEN 0.0
                          ELSE -1.3219280948873622 END
         END AS lp
  FROM stream s
  LEFT JOIN bi2 b ON s.v = b.v AND s.w = b.w
  LEFT JOIN vocab vo ON s.w = vo.w
  CROSS JOIN n),
scored AS (SELECT doc_id, COUNT(*) AS n_tokens,
                  -AVG(lp) AS bits_per_token
           FROM j GROUP BY doc_id)
SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.bits_per_token
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


_FEED_STATES = ("complete", "failed", "partial", "queued", "running")


def q_feed_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-health ladder (sources/health.py:62-134) over a feeds table
    synthesized deterministically from events: one feed per user_id,
    last_run_at = max(ts), status/interval/active from user_id residues,
    a FIXED now (2024-01-31 12:00) so staleness is reproducible. The
    single CASE ladder is the reference's Health.as_case() — evaluation
    order ≠ rank order, RUNNING shadows STALE, clamp [30min, 48h]."""
    from georiva_spark.sources.feeds import feed_health

    ev = load_table(spark, sf_dir, "events")
    feeds = (ev.groupBy("user_id").agg(F.max("ts").alias("max_ts"))
             .select(
                 F.col("user_id").alias("feed_id"),
                 ((F.col("user_id") % 5) != 0).alias("is_active"),
                 F.when((F.col("user_id") % 11) == 0,
                        F.lit(None).cast("string"))
                 .otherwise(F.element_at(
                     F.array(*[F.lit(s) for s in _FEED_STATES]),
                     ((F.col("user_id") % 5) + 1).cast("int")))
                 .alias("last_run_status"),
                 F.when((F.col("user_id") % 11) == 0,
                        F.lit(None).cast("timestamp"))
                 .otherwise(F.col("max_ts")).alias("last_run_at"),
                 ((F.col("user_id") % 4) * 720 + 10)
                 .alias("interval_minutes"),
                 F.lit("2024-01-31 12:00:00").cast("timestamp").alias("now"),
             ))
    out = feed_health(feeds)
    return out.select("feed_id", "is_active", "last_run_status",
                      "interval_minutes", "health_rank", "health")


SQL_FEED_HEALTH = """
WITH f AS (
  SELECT user_id AS feed_id,
    (user_id % 5) <> 0 AS is_active,
    CASE WHEN user_id % 11 = 0 THEN NULL
         ELSE (['complete','failed','partial','queued','running'])
              [(user_id % 5) + 1] END AS last_run_status,
    CASE WHEN user_id % 11 = 0 THEN NULL ELSE MAX(ts) END AS last_run_at,
    (user_id % 4) * 720 + 10 AS interval_minutes,
    TIMESTAMP '2024-01-31 12:00:00' AS now
  FROM events GROUP BY user_id),
h AS (
  SELECT *,
    CASE WHEN NOT is_active THEN 90
         WHEN last_run_status = 'failed' THEN 10
         WHEN last_run_status = 'partial' THEN 20
         WHEN last_run_at IS NULL THEN 80
         WHEN last_run_status IN ('queued','running') THEN 50
         WHEN is_active AND last_run_at IS NOT NULL AND
              date_diff('second', last_run_at, now) >
              LEAST(GREATEST(interval_minutes * 2, 30), 2880) * 60 THEN 30
         ELSE 70 END AS health_rank
  FROM f)
SELECT feed_id, is_active, last_run_status, interval_minutes, health_rank,
  CASE health_rank WHEN 90 THEN 'inactive' WHEN 10 THEN 'failed'
       WHEN 20 THEN 'partial' WHEN 80 THEN 'new' WHEN 50 THEN 'running'
       WHEN 30 THEN 'stale' ELSE 'ok' END AS health
FROM h
"""


def q_mvt_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — the quantize step of ``ST_AsMVTGeom``: every distinct grid
    pixel mapped into tile-local integer coordinates for XYZ tile
    (z=3, x=3, y=3), extent 4096 (create_martin_function.py:168-175 calls
    ST_AsMVTGeom(geom, env, 4096, 256, true); the envelope/quantize math
    here is the deterministic, SQL-checkable half — clip + protobuf
    encode are covered by test_mvt.py goldens)."""
    from georiva_spark.sources.mvt_sink import mvt_geom_df
    g = events_grid(spark, sf_dir).select("y", "x", "lat", "lon").distinct()
    return mvt_geom_df(g, 3, 3, 3).select("y", "x", "lat", "lon", "px", "py")


# tile_envelope(3,3,3): xmin=-W/4, ymax=W/4, size=W/4 with W=pi*6378137.
SQL_MVT_GEOM = GRID_CTE + """
, px AS (SELECT DISTINCT y, x, lat, lon FROM grid)
SELECT y, x, lat, lon,
  CAST(ROUND((6378137.0 * radians(lon) - (-pi()*6378137.0/4.0))
       / (pi()*6378137.0/4.0) * 4096.0) AS BIGINT) AS px,
  CAST(ROUND((pi()*6378137.0/4.0
       - 6378137.0 * ln(tan(pi()/4 + radians(lat)/2)))
       / (pi()*6378137.0/4.0) * 4096.0) AS BIGINT) AS py
FROM px
"""


def q_mvt_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — bulk MVT export over zonal stats, DECODE-VERIFIED: encodes
    real protobuf tiles per (z,x,y), parses the bytes back, and emits a
    per-feature manifest (id, ring/vertex counts, quantized bbox). The
    boundaries are axis-aligned boxes, so Sutherland–Hodgman clip +
    quantize reduce to closed-form clamp arithmetic the DuckDB oracle
    recomputes independently — a red row here means the encoder, the
    decoder, or the tile math drifted. Byte-level encode stays
    golden-tested in test_mvt.py."""
    from georiva_spark.operators import filters, zonal
    from georiva_spark.sources.mvt_sink import export_tiles, tile_manifest

    boxes = [
        (1, 1, "west_box", -7.5, -6.0, 0.0, 6.0),
        (2, 1, "east_box", 0.0, -6.0, 7.5, 6.0),
    ]
    rows = []
    for bid, level, name, w, s, e, n in boxes:
        gj = ('{"type": "Polygon", "coordinates": [[[%f, %f], [%f, %f], '
              '[%f, %f], [%f, %f], [%f, %f]]]}' % (w, s, e, s, e, n, w, n,
                                                   w, s))
        rows.append((bid, level, name, gj))
    g = filters.select_variable(events_grid(spark, sf_dir), "signup")
    stats = zonal.zonal_stats(g, rows, keys=("variable",)).where(
        F.col("count").isNotNull())
    return tile_manifest(export_tiles(stats, rows, 4))


# Clip+quantize of an axis-aligned box is closed-form: quantize the
# mercator corners into tile space (round half away, matching Spark
# ROUND), clamp to the buffered window [-256, 4352], keep tiles from the
# buffered bbox cover where the clamped rect is non-degenerate.
SQL_MVT_TILES = """
WITH c AS (SELECT pi() * 6378137.0 AS w),
b(bid, lw, ls, le, ln_) AS (VALUES
  (1, -7.5, -6.0, 0.0, 6.0), (2, 0.0, -6.0, 7.5, 6.0)),
m AS (SELECT bid,
  6378137.0 * radians(lw) AS mxw, 6378137.0 * radians(le) AS mxe,
  6378137.0 * ln(tan(pi()/4 + radians(ls)/2)) AS mys,
  6378137.0 * ln(tan(pi()/4 + radians(ln_)/2)) AS myn
  FROM b),
f AS (SELECT bid, mxw, mxe, mys, myn,
  (mxw/c.w + 1)/2*16 AS fxw, (mxe/c.w + 1)/2*16 AS fxe,
  (1 - myn/c.w)/2*16 AS fyn, (1 - mys/c.w)/2*16 AS fys
  FROM m, c),
cover AS (SELECT bid, mxw, mxe, mys, myn,
  tx.range AS tx, ty.range AS ty
  FROM f, range(0, 16) tx, range(0, 16) ty
  WHERE tx.range BETWEEN GREATEST(0, CAST(floor(fxw - 0.0625) AS BIGINT))
                     AND LEAST(15, CAST(floor(fxe + 0.0625) AS BIGINT))
    AND ty.range BETWEEN GREATEST(0, CAST(floor(fyn - 0.0625) AS BIGINT))
                     AND LEAST(15, CAST(floor(fys + 0.0625) AS BIGINT))),
q AS (SELECT bid, tx, ty,
  GREATEST(CAST(ROUND((mxw - (tx*(c.w/8) - c.w)) / (c.w/8) * 4096)
           AS BIGINT), -256) AS pxmin,
  LEAST(CAST(ROUND((mxe - (tx*(c.w/8) - c.w)) / (c.w/8) * 4096)
        AS BIGINT), 4352) AS pxmax,
  GREATEST(CAST(ROUND(((c.w - ty*(c.w/8)) - myn) / (c.w/8) * 4096)
           AS BIGINT), -256) AS pymin,
  LEAST(CAST(ROUND(((c.w - ty*(c.w/8)) - mys) / (c.w/8) * 4096)
        AS BIGINT), 4352) AS pymax
  FROM cover, c)
SELECT 4 AS z, CAST(tx AS INT) AS x, CAST(ty AS INT) AS y,
  CAST(bid AS BIGINT) AS feature_id, 1 AS n_rings, 4 AS n_points,
  pxmin, pxmax, pymin, pymax
FROM q WHERE pxmin < pxmax AND pymin < pymax
"""


# ---------------------------------------------------------------------------
# Round-3 LLM-pipeline additions: line-level dedup, URL dedup, SemDeDup,
# BPE tokenization
# ---------------------------------------------------------------------------

def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level dedup over the documents table. The
    synthetic corpus has no newlines, so the fixture step materializes
    pseudo-lines — runs of 8 whitespace tokens joined by '\\n' — with
    exact HOF string ops (no regex, so the oracle rebuilds the same
    strings bit-identically), then drops every line whose corpus-wide
    document frequency exceeds 2 and reassembles the survivors."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lined = F.array_join(
        F.transform(F.sequence(F.lit(0), nl - F.lit(1)),
                    lambda i: F.array_join(
                        F.slice(toks, i * 8 + 1, 8), " ")),
        "\n")
    staged = docs.select("doc_id", lined.alias("text"))
    return dedup.line_dedup(staged, max_line_df=2)


SQL_LINE_DEDUP = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
lines AS (
  SELECT doc_id,
         unnest(generate_series(
             0, CAST(ceil(len(toks) / 8.0) AS INTEGER) - 1)) AS pos,
         toks
  FROM t),
l AS (SELECT doc_id, pos,
             array_to_string(list_slice(toks, pos * 8 + 1, pos * 8 + 8),
                             ' ') AS line
      FROM lines),
n AS (SELECT doc_id, pos, line,
             lower(trim(regexp_replace(line, '\\s+', ' ', 'g'))) AS norm
      FROM l),
freq AS (SELECT norm, COUNT(DISTINCT doc_id) AS line_df
         FROM n GROUP BY norm),
kept AS (SELECT n.doc_id, n.pos, n.line
         FROM n JOIN freq USING (norm) WHERE line_df <= 2),
agg AS (SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(line, chr(10) ORDER BY pos) AS kept_text
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
SELECT tot.doc_id, tot.n_lines,
       CAST(COALESCE(agg.n_kept, 0) AS INTEGER) AS n_kept,
       COALESCE(agg.kept_text, '') AS kept_text
FROM tot LEFT JOIN agg USING (doc_id)
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level crawl dedup: deterministic messy URL variants (case,
    default port, fragments, utm tracking params, trailing slash) built
    from (source, doc_id), canonicalized by the JVM regexp chain, then
    one winner per canonical URL (longest text, ties → lowest doc_id).
    The oracle constructs the INTENDED canonical form directly from the
    same columns — an independent derivation, so it verifies the
    canonicalizer's semantics rather than mirroring its regexes."""
    docs = load_table(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    slot = (F.col("doc_id") % 7).cast("string")
    v = F.col("doc_id") % 4
    url = (F.when(v == 0, F.concat(F.lit("https://"), host,
                                   F.lit("/a/"), slot))
            .when(v == 1, F.concat(F.lit("HTTPS://"), F.upper(host),
                                   F.lit(":443/a/"), slot,
                                   F.lit("?utm_source=feed")))
            .when(v == 2, F.concat(F.lit("https://"), host,
                                   F.lit("/a/"), slot, F.lit("/#frag")))
            .otherwise(F.concat(F.lit("https://"), host,
                                F.lit(":443/a/"), slot,
                                F.lit("?utm_campaign=x&ref=1"))))
    staged = docs.select("doc_id", "n_chars", url.alias("url"))
    return textops.url_dedup(staged)


SQL_URL_DEDUP = """
WITH u AS (
  SELECT doc_id, n_chars,
         'https://' || source || '.example.com/a/'
         || CAST(doc_id % 7 AS VARCHAR)
         || CASE WHEN doc_id % 4 = 3 THEN '?ref=1' ELSE '' END
             AS canonical_url
  FROM documents),
g AS (SELECT canonical_url, COUNT(*) AS n_dups, MAX(n_chars) AS max_chars
      FROM u GROUP BY canonical_url),
w AS (SELECT canonical_url, doc_id AS keep_doc_id FROM u
      QUALIFY row_number() OVER (PARTITION BY canonical_url
                                 ORDER BY n_chars DESC, doc_id) = 1)
SELECT g.canonical_url, w.keep_doc_id, g.n_dups, g.max_chars
FROM g JOIN w USING (canonical_url)
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: pinned-centroid coarse
    clustering (deterministic corpus rows, zero-shuffle in-row argmin)
    then within-cluster cosine near-dup marking. Threshold 0.3 is tuned
    to the synthetic corpus (max pairwise cosine ≈0.48) so the output
    carries a real kept/dropped mix; production corpora use ≈0.95+."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, n_clusters=8, threshold=0.3)


SQL_SEMDEDUP = """
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cid AS (SELECT CAST(t.i AS BIGINT) AS c,
               CAST(t.i * (nn.n // 8) + (nn.n // 8) // 2 AS BIGINT) AS vid
        FROM range(8) t(i), nn),
cent AS (SELECT c, embedding AS ce FROM cid JOIN embeddings ON vec_id = vid),
dist AS (SELECT e.vec_id, cent.c,
  (SELECT SUM((CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE))
            * (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.ce[i] AS DOUBLE)))
   FROM generate_series(1, 64) AS t(i)) AS d2
  FROM embeddings e, cent),
assign AS (SELECT vec_id, c AS cluster FROM dist
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
pairs AS (
  SELECT a1.vec_id
  FROM embeddings e1
  JOIN assign a1 ON e1.vec_id = a1.vec_id
  JOIN assign a2 ON a1.cluster = a2.cluster AND a2.vec_id < a1.vec_id
  JOIN embeddings e2 ON e2.vec_id = a2.vec_id
  WHERE (SELECT SUM(CAST(e1.embedding[i] AS DOUBLE)
                  * CAST(e2.embedding[i] AS DOUBLE))
         FROM generate_series(1, 64) AS t(i))
        / (SQRT((SELECT SUM(CAST(e1.embedding[i] AS DOUBLE)
                          * CAST(e1.embedding[i] AS DOUBLE))
                 FROM generate_series(1, 64) AS t(i)))
           * SQRT((SELECT SUM(CAST(e2.embedding[i] AS DOUBLE)
                            * CAST(e2.embedding[i] AS DOUBLE))
                   FROM generate_series(1, 64) AS t(i)))) > 0.3)
SELECT a.vec_id, a.cluster,
       EXISTS (SELECT 1 FROM pairs p WHERE p.vec_id = a.vec_id) AS is_dup
FROM assign a
"""


# Pinned BPE merge table (rank order) over the synthetic corpus alphabet;
# chosen so several whole corpus words collapse to single tokens while
# others stop mid-merge — exercises rank order and partial merges.
BPE_MERGES = [
    ("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"),
    ("v", "a"), ("va", "l"), ("u", "e"), ("val", "ue"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("h", "a"), ("ha", "s"), ("has", "h"),
    ("r", "o"), ("ro", "w"),
    ("p", "a"), ("pa", "r"), ("par", "t"),
    ("k", "e"), ("ke", "y"),
    ("t", "h"), ("th", "e"),
]


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy BPE tokenization of the documents table with the pinned
    BPE_MERGES table — real merge semantics (rank order, left-to-right
    within a rank) as a pure in-row literal-replace chain; the oracle
    applies the identical chain in DuckDB lambda form."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.bpe_apply(docs, BPE_MERGES)


def _bpe_chain_sql(var: str = "w") -> str:
    """The pinned-merge BPE encode of one word as a DuckDB expression
    chain — shared by the bpe_tokenize and token_shards oracles (must
    stay textually identical to bpe_encode_word's replace chain)."""
    chain = (f"' ' || array_to_string(string_split({var}, ''), ' ')"
             f" || ' '")
    for a, b in BPE_MERGES:
        pat, rep = f"' {a} {b} '", f"' {a}{b} '"
        chain = f"replace(replace({chain}, {pat}, {rep}), {pat}, {rep})"
    return chain


def _sql_bpe_tokenize() -> str:
    chain = _bpe_chain_sql("w")
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
b AS (SELECT doc_id, toks,
             flatten(list_transform(toks,
                 w -> string_split(trim({chain}), ' '))) AS bpe
      FROM t)
SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(bpe) AS INTEGER) AS n_bpe_tokens,
       array_to_string(list_slice(bpe, 1, 12), '|') AS bpe_preview
FROM b
"""


SQL_BPE_TOKENIZE = _sql_bpe_tokenize()


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id training-shard export (r10 — the r9 verdict's top
    item): BPE-tokenize the corpus with the pinned merge table, map
    tokens to dense lexicographic ids, greedy-pack into 128-token
    bins (docs never split), pad with pad_id=|vocab|, and write one
    parquet file per shard in bin order (the Megatron-style loader
    layout — the write itself plus read-back order is pytest-pinned).
    Returns one DIGEST row per bin — padded token-id stream hash, doc
    boundary offsets, doc ids — so the oracle replays tokenization,
    id assignment, packing, padding, and assembly bit-for-bit."""
    import os
    import tempfile

    from georiva_spark.sources.tables import export_token_shards

    docs = load_table(spark, sf_dir, "documents")
    d = _fixture_tmp(spark, "tokshards")
    export_token_shards(docs, d, BPE_MERGES, context_len=128,
                        num_shards=8)
    bins = textops.token_shard_bins(docs, BPE_MERGES, context_len=128,
                                    num_shards=8)
    s = lambda c: F.transform(c, lambda x: x.cast("string"))  # noqa: E731
    return bins.select(
        "shard", "bin_id", "n_docs", "n_tokens",
        F.md5(F.array_join(s("token_ids"), ",")).alias("ids_hash"),
        F.array_join(s("doc_offsets"), ",").alias("offsets_csv"),
        F.array_join(s("doc_ids"), ",").alias("docs_csv"))


def _sql_token_shards(context_len: int = 128,
                      num_shards: int = 8,
                      source: str = "documents",
                      prelude: str = "",
                      gen_expr: str = "0") -> str:
    """Replay token_shard_bins end-to-end in DuckDB: distinct-word
    BPE vocabulary with dense lexicographic ids, per-doc encode +
    clamp, the md5 shard route, the recursive greedy pack (the
    SQL_PACK_SEQUENCES shape over BPE counts), bin assembly in
    (bin_offset, doc_id) order, and pad_id=|vocab| padding.
    ``source``/``prelude`` let a composed pipeline run the identical
    chain over a derived corpus CTE (the token_pipeline oracle);
    ``gen_expr`` (r11) partitions the greedy pack by a GENERATION key
    (e.g. the crawl shard) — the generation-local packing contract of
    export_token_shards_delta and the corpus-products chain."""
    chain_w = _bpe_chain_sql("w")
    return f"""
WITH RECURSIVE{prelude}
words AS (SELECT DISTINCT t.w AS w
          FROM {source},
               unnest(string_split(COALESCE(text, ''), ' ')) AS t(w)
          WHERE t.w <> ''),
vtok AS (SELECT DISTINCT t2.tok AS tok
         FROM words,
              unnest(string_split(trim({chain_w}), ' ')) AS t2(tok)
         WHERE t2.tok <> ''),
vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) - 1
                          AS INTEGER) AS id FROM vtok),
vs AS (SELECT CAST(COUNT(*) AS INTEGER) AS pad FROM vocab),
b AS (SELECT doc_id,
             list_filter(flatten(list_transform(
                 string_split(COALESCE(text, ''), ' '),
                 w -> string_split(trim({chain_w}), ' '))),
                 t -> t <> '') AS bpe
      FROM {source}),
cl AS (SELECT doc_id, list_slice(bpe, 1, {context_len}) AS toks
       FROM b),
tokrows AS (SELECT doc_id, t.i AS i, toks[t.i] AS tok
            FROM cl, generate_series(1, {context_len}) AS t(i)
            WHERE t.i <= len(toks)),
idlists AS (SELECT tr.doc_id, list(v.id ORDER BY tr.i) AS l
            FROM tokrows tr JOIN vocab v ON v.tok = tr.tok
            GROUP BY tr.doc_id),
ids AS (SELECT cl.doc_id, COALESCE(idlists.l, []) AS ids
        FROM cl LEFT JOIN idlists USING (doc_id)),
t AS (SELECT doc_id,
             CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % {num_shards} AS INTEGER)
               AS shard,
             CAST({gen_expr} AS BIGINT) AS g,
             CAST(len(ids) AS BIGINT) AS n_tok, ids
      FROM ids),
o AS (SELECT *, row_number() OVER (PARTITION BY g, shard
                                   ORDER BY doc_id) AS rn
      FROM t),
rec AS (
  SELECT g, shard, rn, doc_id, n_tok,
         0::BIGINT AS bin_id, 0::BIGINT AS bin_offset
  FROM o WHERE rn = 1
  UNION ALL
  SELECT n.g, n.shard, n.rn, n.doc_id, n.n_tok,
         CASE WHEN r.bin_offset + r.n_tok + n.n_tok <= {context_len}
              THEN r.bin_id ELSE r.bin_id + 1 END,
         CASE WHEN r.bin_offset + r.n_tok + n.n_tok <= {context_len}
              THEN r.bin_offset + r.n_tok ELSE 0::BIGINT END
  FROM rec r JOIN o n ON n.g = r.g AND n.shard = r.shard
                     AND n.rn = r.rn + 1
),
binrows AS (SELECT r.g, r.shard, r.bin_id,
                   list(r.doc_id ORDER BY r.bin_offset, r.doc_id)
                     AS doc_ids,
                   list(r.bin_offset ORDER BY r.bin_offset, r.doc_id)
                     AS doc_offsets,
                   flatten(list(t2.ids
                                ORDER BY r.bin_offset, r.doc_id))
                     AS flat,
                   CAST(COUNT(*) AS INTEGER) AS n_docs
            FROM rec r JOIN t t2 USING (doc_id)
            GROUP BY r.g, r.shard, r.bin_id)
SELECT shard, bin_id, n_docs,
       CAST(len(flat) AS INTEGER) AS n_tokens,
       md5(array_to_string(list_transform(
           flat || list_transform(
               range({context_len} - len(flat)), x -> vs.pad),
           v -> CAST(v AS VARCHAR)), ',')) AS ids_hash,
       array_to_string(list_transform(
           doc_offsets, v -> CAST(v AS VARCHAR)), ',') AS offsets_csv,
       array_to_string(list_transform(
           doc_ids, v -> CAST(v AS VARCHAR)), ',') AS docs_csv
FROM binrows, vs
"""


SQL_TOKEN_SHARDS = _sql_token_shards()


def q_token_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown reaching the TRAINER layout (r13 — the last T5 gap:
    indexes retract via tombstones, the corpus chain recomputes via
    re-crawl, but exported token bins were immutable): export the
    corpus to a token-shard layout, then REMOVE the docs a takedown
    request names (ids ≡ 3 or 7 mod 20) via
    export_token_shards_takedown — affected files rewritten in place
    (atomic replace through the commit backend), untouched files
    byte-identical (pytest-pinned), empty bins dropped, manifest
    re-stamped. Returns one PER-DOC row read back from the mutated
    layout (doc_id, n_tokens, token-id stream hash) — the
    takedown-invariant granularity: bin composition legitimately
    differs from a from-scratch rebuild (docs are removed from their
    bins, not repacked), but every surviving doc's token ids must be
    BIT-IDENTICAL to a pipeline that never saw the taken-down docs'
    ids... while the VOCAB must still be the full-corpus one pinned
    at export time (ids never shift under a takedown). The oracle
    replays exactly that: full-corpus vocab, per-doc encode + clamp,
    minus the taken-down ids."""
    import os

    from georiva_spark.sources.tables import (
        export_token_shards, export_token_shards_takedown)

    docs = load_table(spark, sf_dir, "documents")
    _sweep_stale_fixtures(spark, "__none__", "toktd")
    d = _fixture_tmp(spark, "toktd")
    export_token_shards(docs, d, BPE_MERGES, context_len=128,
                        num_shards=8)
    takedown = [r.doc_id for r in
                docs.where((F.col("doc_id") % 20).isin(3, 7))
                .select("doc_id").collect()]
    export_token_shards_takedown(spark, d, takedown)
    bins = (spark.read.option("basePath", d)
            .parquet(f"{d}/shard=*"))
    n = F.size("doc_ids")
    per_doc = F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.struct(
            F.get("doc_ids", i).alias("doc_id"),
            F.slice(
                F.col("token_ids"),
                (F.get("doc_offsets", i) + 1).cast("int"),
                (F.coalesce(F.get("doc_offsets", i + F.lit(1)),
                            F.col("n_tokens").cast("long"))
                 - F.get("doc_offsets", i)).cast("int"))
            .alias("ids")))
    return (bins.select(F.explode(per_doc).alias("d"))
            .select(F.col("d.doc_id").alias("doc_id"),
                    F.size("d.ids").cast("int").alias("n_tokens"),
                    F.md5(F.array_join(
                        F.transform(F.col("d.ids"),
                                    lambda x: x.cast("string")),
                        ",")).alias("ids_hash")))


def _sql_token_takedown(context_len: int = 128) -> str:
    """Replay q_token_takedown: the _sql_token_shards per-doc chain
    (full-corpus vocab — ids pinned at export time — encode, clamp)
    with the taken-down ids (doc_id % 20 in (3, 7)) filtered OUT —
    the relational definition of 'these documents' tokens left the
    trainer layout'."""
    chain_w = _bpe_chain_sql("w")
    return f"""
WITH words AS (SELECT DISTINCT t.w AS w
          FROM documents,
               unnest(string_split(COALESCE(text, ''), ' ')) AS t(w)
          WHERE t.w <> ''),
vtok AS (SELECT DISTINCT t2.tok AS tok
         FROM words,
              unnest(string_split(trim({chain_w}), ' ')) AS t2(tok)
         WHERE t2.tok <> ''),
vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) - 1
                          AS INTEGER) AS id FROM vtok),
b AS (SELECT doc_id,
             list_filter(flatten(list_transform(
                 string_split(COALESCE(text, ''), ' '),
                 w -> string_split(trim({chain_w}), ' '))),
                 t -> t <> '') AS bpe
      FROM documents WHERE doc_id % 20 NOT IN (3, 7)),
cl AS (SELECT doc_id, list_slice(bpe, 1, {context_len}) AS toks
       FROM b),
tokrows AS (SELECT doc_id, t.i AS i, toks[t.i] AS tok
            FROM cl, generate_series(1, {context_len}) AS t(i)
            WHERE t.i <= len(toks)),
idlists AS (SELECT tr.doc_id, list(v.id ORDER BY tr.i) AS l
            FROM tokrows tr JOIN vocab v ON v.tok = tr.tok
            GROUP BY tr.doc_id),
ids AS (SELECT cl.doc_id, COALESCE(idlists.l, []) AS ids
        FROM cl LEFT JOIN idlists USING (doc_id))
SELECT doc_id, CAST(len(ids) AS INTEGER) AS n_tokens,
       md5(array_to_string(list_transform(
           ids, v -> CAST(v AS VARCHAR)), ',')) AS ids_hash
FROM ids
"""


SQL_TOKEN_TAKEDOWN = _sql_token_takedown()


def q_token_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED corpus→loader chain (r10 — the missing last leg
    of training_pipeline's story): Gopher quality gate → exact-dedup
    keeper semi-join → BPE token-id shard assembly, all under ONE
    plan — proving the cross-operator contracts (semi-join
    pushthrough into the tokenize scan, hash determinism across the
    gate boundary, vocab derivation over the FILTERED corpus) hold
    under composition. Returns the per-bin digest rows over the
    surviving corpus; the oracle replays gate + keeper + the full
    token-shard chain as one CTE graph."""
    docs = load_table(spark, sf_dir, "documents")
    g = textops.gopher_rules(docs, min_words=30, max_words=1000,
                             min_mean_word_len=1.0,
                             max_mean_word_len=10.0,
                             max_symbol_ratio=0.1,
                             max_bullet_ratio=0.9,
                             min_stopword_hits=1)
    keep = dedup.exact_duplicates(docs).select(
        F.col("keep_doc_id").alias("doc_id"))
    survivors = (docs
                 .join(g.where(F.col("gopher_pass"))
                       .select("doc_id"), "doc_id", "left_semi")
                 .join(keep, "doc_id", "left_semi"))
    bins = textops.token_shard_bins(survivors, BPE_MERGES,
                                    context_len=128, num_shards=8)
    s = lambda c: F.transform(c, lambda x: x.cast("string"))  # noqa: E731
    return bins.select(
        "shard", "bin_id", "n_docs", "n_tokens",
        F.md5(F.array_join(s("token_ids"), ",")).alias("ids_hash"),
        F.array_join(s("doc_offsets"), ",").alias("offsets_csv"),
        F.array_join(s("doc_ids"), ",").alias("docs_csv"))


def _sql_token_pipeline() -> str:
    # the Gopher metrics on RAW text (no staging), thresholds
    # (30, 1000, 1.0, 10.0, 0.1, 0.9, 1); the exact-dedup keeper is
    # min(doc_id) per md5(text) — both folded into one survivors CTE
    # the shared token-shard chain then consumes
    prelude = """
gw AS (SELECT doc_id, text,
              list_filter(string_split_regex(text, '\\s+'),
                          t -> t <> '') AS words
       FROM documents),
gm AS (SELECT doc_id, text,
              len(words) AS nw,
              CAST(list_sum(list_transform(words, t -> length(t)))
                   AS DOUBLE) / greatest(len(words), 1) AS mwl,
              CAST(length(text) - length(replace(text, '#', ''))
                   + len(regexp_extract_all(text, '\\.\\.\\.'))
                   AS DOUBLE) / greatest(len(words), 1) AS symr,
              CAST(len(list_filter(string_split(text, chr(10)),
                       ln -> ln LIKE '- %' OR ln LIKE '* %'
                             OR ln LIKE '• %')) AS DOUBLE)
                  / greatest(len(string_split(text, chr(10))), 1)
                  AS bulr,
              len(list_filter(words,
                  t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
                  AS stop
       FROM gw),
keepers AS (SELECT MIN(doc_id) AS doc_id
            FROM documents GROUP BY md5(text)),
survivors AS (
  SELECT gm.doc_id, gm.text
  FROM gm JOIN keepers USING (doc_id)
  WHERE gm.nw BETWEEN 30 AND 1000
    AND gm.mwl BETWEEN 1.0 AND 10.0
    AND gm.symr <= 0.1 AND gm.bulr <= 0.9 AND gm.stop >= 1),"""
    return _sql_token_shards(source="survivors", prelude=prelude)


SQL_TOKEN_PIPELINE = _sql_token_pipeline()


def q_corpus_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus products ON the derivation engine (r11 — the r10
    verdict's item 2): the documents table arrives as THREE crawl
    shards (doc_id % 3), each arrival event runs exactly its clean
    unit (gopher gate at the token_pipeline thresholds + shard-local
    exact dedup) and chains the corpus-wide datacard +
    token-shard-manifest products through the declared DAG (T2) —
    dispatched as ONE batched level per stage (r14, guide §2.6), so
    the independent units share each level's write and each merge
    runs once over the level's partials instead of once per arrival;
    re-dispatching the last shard skips on input_hash (T3, exercised
    in-query). The chain is INCREMENTAL by construction (r11): each
    arrival computes per-shard PARTIALS (stats + generation-local
    token manifest, O(arrived shard)) and the corpus-wide products
    MERGE the bounded partials (O(#shards)) — a crawl event never
    recomputes over the corpus. Returns the FINAL engine-produced
    outputs — read back from the unit partitions the engine wrote,
    not recomputed — so the oracle's FROM-SCRATCH datacard + manifest
    over the full corpus (generation-local pack replayed via
    gen_expr) proves the incremental chain converged to the
    from-scratch answer."""
    import os
    import shutil
    import tempfile

    from georiva_spark.plans.engine import DerivationEngine, Trigger
    from georiva_spark.plans.recipe import (CatalogContext,
                                            RecipeRegistry)
    from georiva_spark.plans.recipes.corpus import (
        CorpusCleanRecipe, CorpusDatacardRecipe,
        CorpusShardStatsRecipe, CorpusShardTokensRecipe,
        CorpusTokenShardsRecipe, corpus_product_definitions,
    )

    docs = load_table(spark, sf_dir, "documents")
    # app-id-suffixed fixture dir (r12): two concurrent evaluations
    # (driver correctness probe + a local bench run — different Spark
    # apps) must not rmtree each other's engine output mid-query
    base = os.path.join(
        tempfile.gettempdir(),
        f"georiva_spark_corpchain_{spark.sparkContext.applicationId}")
    shutil.rmtree(base, ignore_errors=True)
    items = [{"item_id": k + 1, "collection": "crawl-shards",
              "variable": f"shard-{k}", "time": None,
              "tier": "staging", "checksum": f"crawl-{k}-v1"}
             for k in range(3)]

    # per-collection schema cache: every unit output of one collection
    # shares its writer schema, so inferring it once saves the
    # footer-read job spark.read.parquet pays per call (~85 ms × the
    # dozens of loader calls the engine chain makes per query); the
    # listing itself stays per-call, so redispatch after a rewrite
    # still sees fresh files
    _uschema: dict = {}

    def loader(it):
        if it["collection"] == "crawl-shards":
            k = int(it["variable"].split("-")[1])
            return docs.where(F.col("doc_id") % 3 == k)
        path = os.path.join(base, f"unit={it['unit_hash']}")
        sch = _uschema.get(it["collection"])
        if sch is None:
            out = spark.read.parquet(path)
            _uschema[it["collection"]] = out.schema
            return out
        return spark.read.schema(sch).parquet(path)

    # the context gets its OWN list: the engine appends derived items
    # to catalog.items, and sharing the staging list would grow the
    # dispatch loop underneath us
    ctx = CatalogContext(spark, list(items), grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe())
    reg.register(CorpusShardStatsRecipe())
    reg.register(CorpusShardTokensRecipe(
        BPE_MERGES, config={"context_len": 128, "num_shards": 8}))
    reg.register(CorpusDatacardRecipe())
    reg.register(CorpusTokenShardsRecipe())
    eng = DerivationEngine(
        spark, reg, ctx, output_dir=base,
        definitions=corpus_product_definitions(128, 8))
    # batched arrival dispatch (r14, guide §2.6): the crawl shards are
    # independent staging items — one level of clean writes, one level
    # of per-shard partials, ONE corpus-wide merge pass
    eng.dispatch_for_triggers(
        [Trigger(kind="staging_item", item=it) for it in items])
    # T3 in-query: the unchanged last shard skips; nothing recomputes
    again = eng.dispatch_for_trigger(Trigger(kind="staging_item",
                                             item=items[-1]))
    assert [r.status for r in again] == ["skipped"]

    def derived(collection):
        it = next(i for i in eng.catalog.items
                  if i["collection"] == collection)
        return loader(it)

    nl = F.lit(None).cast("long")
    card = derived("corpus-datacard").select(
        F.lit("datacard").alias("section"),
        F.col("lang").alias("k1"), F.col("source").alias("k2"),
        F.col("n_docs"), F.col("n_tokens"), F.col("n_chars"),
        nl.alias("n_bins"))
    man = derived("corpus-token-shards").select(
        F.lit("tokens").alias("section"),
        F.col("shard").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_docs"), F.col("n_tokens"), nl.alias("n_chars"),
        F.col("n_bins"))
    return card.unionByName(man).orderBy("section", "k1", "k2")


def _corpus_survivors_prelude(source_sql: str = "documents") -> str:
    """The corpus-clean semantics as CTEs: gopher gate at the
    token_pipeline thresholds, then the SHARD-LOCAL exact-dedup
    keeper (min doc_id per md5(text) within doc_id%3 — the recipe
    dedups within its crawl shard, after the gate). Survivors carry
    lang/source for the datacard branch; trailing comma so callers
    splice it into a WITH RECURSIVE chain. ``source_sql`` swaps the
    corpus relation (r13: the takedown oracle replays the chain over
    documents MINUS the taken-down ids)."""
    return f"""
gw AS (SELECT doc_id, text,
              list_filter(string_split_regex(text, '\\s+'),
                          t -> t <> '') AS words
       FROM {source_sql}),
gm AS (SELECT doc_id, text,
              len(words) AS nw,
              CAST(list_sum(list_transform(words, t -> length(t)))
                   AS DOUBLE) / greatest(len(words), 1) AS mwl,
              CAST(length(text) - length(replace(text, '#', ''))
                   + len(regexp_extract_all(text, '\\.\\.\\.'))
                   AS DOUBLE) / greatest(len(words), 1) AS symr,
              CAST(len(list_filter(string_split(text, chr(10)),
                       ln -> ln LIKE '- %' OR ln LIKE '* %'
                             OR ln LIKE '• %')) AS DOUBLE)
                  / greatest(len(string_split(text, chr(10))), 1)
                  AS bulr,
              len(list_filter(words,
                  t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
                  AS stop
       FROM gw),
gated AS (SELECT gm.doc_id, gm.text, d.lang, d.source
          FROM gm JOIN {source_sql} d USING (doc_id)
          WHERE gm.nw BETWEEN 30 AND 1000
            AND gm.mwl BETWEEN 1.0 AND 10.0
            AND gm.symr <= 0.1 AND gm.bulr <= 0.9 AND gm.stop >= 1),
keepers AS (SELECT MIN(doc_id) AS doc_id
            FROM gated GROUP BY doc_id % 3, md5(text)),
survivors AS (SELECT g.doc_id, g.text, g.lang, g.source
              FROM gated g JOIN keepers USING (doc_id)),"""


def _sql_corpus_products() -> str:
    """From-scratch replay of the engine chain's FINAL outputs: the
    clean semantics (shared prelude), the datacard rollup, and the
    token-shard manifest aggregated from the shared token-bin chain —
    what the incremental engine build must converge to."""
    pre = _corpus_survivors_prelude()
    tok = _sql_token_shards(context_len=128, num_shards=8,
                            source="survivors", prelude=pre,
                            gen_expr="doc_id % 3")
    return f"""
WITH bins AS ({tok}),
card AS (
  WITH RECURSIVE{pre}
  dc AS (SELECT lang, source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN text IS NULL OR trim(text) = ''
                              THEN 0
                              ELSE len(string_split_regex(trim(text),
                                                          '\\s+'))
                         END) AS BIGINT) AS n_tokens,
                CAST(SUM(COALESCE(length(text), 0)) AS BIGINT)
                  AS n_chars
         FROM survivors GROUP BY lang, source)
  SELECT * FROM dc)
SELECT 'datacard' AS section, lang AS k1, source AS k2,
       n_docs, n_tokens, n_chars, CAST(NULL AS BIGINT) AS n_bins
FROM card
UNION ALL
SELECT 'tokens', CAST(shard AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(COUNT(*) AS BIGINT)
FROM bins GROUP BY shard
ORDER BY section, k1, k2
"""


SQL_CORPUS_PRODUCTS = _sql_corpus_products()


def _takedown_corpus_harness(spark: SparkSession, docs: DataFrame,
                             tmp_name: str):
    """Shared fixture for the takedown queries: documents landed
    PHYSICALLY as three shard partitions (shard = doc_id % 3) with
    the full corpus chain built on the derivation engine →
    (corpus_dir, out_dir, engine, derived-loader)."""
    import os
    import shutil

    from georiva_spark.plans.engine import DerivationEngine, Trigger
    from georiva_spark.plans.recipe import (CatalogContext,
                                            RecipeRegistry)
    from georiva_spark.plans.recipes.corpus import (
        CorpusCleanRecipe, CorpusDatacardRecipe,
        CorpusShardStatsRecipe, CorpusShardTokensRecipe,
        CorpusTokenShardsRecipe, corpus_product_definitions,
    )

    _sweep_stale_fixtures(spark, "t_tde2eq", tmp_name)
    base = _fixture_tmp(spark, tmp_name)
    shutil.rmtree(base, ignore_errors=True)
    corp = os.path.join(base, "corp")
    out = os.path.join(base, "out")
    (docs.withColumn("shard",
                     F.concat(F.lit("shard-"),
                              (F.col("doc_id") % 3).cast("string")))
     .write.partitionBy("shard").parquet(corp))
    items = [{"item_id": k + 1, "collection": "crawl-shards",
              "variable": f"shard-{k}", "time": None,
              "tier": "staging", "checksum": f"crawl-{k}-v1"}
             for k in range(3)]

    # schema cache (same contract as the corpus-chain harness loader):
    # schemas are stable per collection — and for the corpus across the
    # takedown's partition prune — so inference runs once per kind
    # while the file LISTING stays per-call (the prune/redispatch must
    # see fresh files, so the DataFrames themselves are never reused)
    _uschema: dict = {}

    def loader(it):
        if it["collection"] == "crawl-shards":
            sch = _uschema.get("crawl-shards")
            if sch is None:
                src = spark.read.parquet(corp)
                _uschema["crawl-shards"] = src.schema
            else:
                src = spark.read.schema(sch).parquet(corp)
            return (src.where(F.col("shard") == it["variable"])
                    .drop("shard"))
        path = os.path.join(out, f"unit={it['unit_hash']}")
        sch = _uschema.get(it["collection"])
        if sch is None:
            df = spark.read.parquet(path)
            _uschema[it["collection"]] = df.schema
            return df
        return spark.read.schema(sch).parquet(path)

    ctx = CatalogContext(spark, list(items), grid_loader=loader)
    reg = RecipeRegistry()
    reg.register(CorpusCleanRecipe())
    reg.register(CorpusShardStatsRecipe())
    reg.register(CorpusShardTokensRecipe(
        BPE_MERGES, config={"context_len": 128, "num_shards": 8}))
    reg.register(CorpusDatacardRecipe())
    reg.register(CorpusTokenShardsRecipe())
    eng = DerivationEngine(
        spark, reg, ctx, output_dir=out,
        definitions=corpus_product_definitions(128, 8))
    # batched arrival dispatch (r14, guide §2.6 — see q_corpus_products)
    eng.dispatch_for_triggers(
        [Trigger(kind="staging_item", item=it) for it in items])
    return corp, out, eng, loader


def _takedown_sections(eng, loader) -> DataFrame:
    """The engine-written datacard + token-shard manifest as the two
    comparable result sections (shared by takedown_e2e and
    takedown_hold)."""
    def derived(collection):
        it = next(i for i in eng.catalog.items
                  if i["collection"] == collection)
        return loader(it)

    nl = F.lit(None).cast("long")
    card = derived("corpus-datacard").select(
        F.lit("datacard").alias("section"),
        F.col("lang").alias("k1"), F.col("source").alias("k2"),
        F.col("n_docs"), F.col("n_tokens"), F.col("n_chars"),
        nl.alias("n_bins"))
    man = derived("corpus-token-shards").select(
        F.lit("tokens").alias("section"),
        F.col("shard").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_docs"), F.col("n_tokens"), nl.alias("n_chars"),
        F.col("n_bins"))
    return card.unionByName(man).orderBy("section", "k1", "k2")


def q_takedown_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call takedown reaching the LANDED corpus and the whole
    derivation chain (r13, plans/takedown.py): the documents table
    lands PHYSICALLY as three shard partitions, the engine builds the
    full corpus chain (clean → datacard + token-shard manifest), and
    then a takedown request — the bounded id list doc_id % 97 == 11 —
    goes through the one-call orchestrator: affected partitions prune
    (dynamic overwrite, intent token committed first through
    sources/commit.py), shard checksums recommit with the ingest
    stream's formula, and the engine closure recomputes from the
    pruned shards. A second identical call is asserted in-query to be
    a structural no-op (every unit T3-skips on the recommitted
    checksums). Returns the engine-WRITTEN final products.

    The oracle recomputes datacard + manifest FROM SCRATCH over
    ``documents`` MINUS the taken-down ids — a hash match proves the
    post-takedown incremental chain converged to a corpus that never
    contained the docs (doc-grained T5 for derived products; if a
    taken-down doc was its content's dedup keeper, the surviving
    twin provably resurfaces — the oracle's from-scratch keeper
    choice is the proof)."""
    from georiva_spark.plans.takedown import takedown

    docs = load_table(spark, sf_dir, "documents")
    corp, out, eng, loader = _takedown_corpus_harness(spark, docs,
                                                      "tdcorp")

    ids = [r.doc_id for r in
           docs.where(F.col("doc_id") % 97 == 11)
           .select("doc_id").collect()]
    audit = takedown(spark, ids, corpus=(corp, eng))
    assert audit["corpus"], "the request touched no shard"
    # idempotent re-run: same request is a structural no-op (T3)
    again = takedown(spark, ids, corpus=(corp, eng))
    assert all(c["units_run"] == 0 for c in again["corpus"])
    return _takedown_sections(eng, loader)


def q_takedown_hold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STANDING HOLD surviving a re-crawl (r13): takedown removes
    what is there; the hold keeps it out when the next crawl carries
    it again. The documents corpus lands as three shards with the
    full chain; a takedown of ids doc_id % 89 == 7 registers them on
    a standing hold list; then shard-1 is RE-DELIVERED with its FULL
    ORIGINAL content (held docs included) PLUS fresh crawl docs
    (doc_id + 9999999 — offset ≡ 0 mod 3 so the oracle's shard-local
    dedup grouping stays aligned — text extended, doc_id % 40 == 1).
    The admission filter (plans/takedown.hold_filter — the exact
    filter start_corpus_ingest(hold_table=) applies per micro-batch)
    drops the held ids; the shard re-lands, its checksum recommits
    with the ingest formula over ADMITTED content, and the engine
    closure recomputes.

    The oracle replays the chain over (documents MINUS held ids)
    UNION the fresh docs — a hash match proves the hold held through
    the re-crawl while genuinely new content flowed: the admission
    semantics a takedown without a hold cannot give (a bare takedown
    would have re-admitted the ids with the redelivery)."""
    import os

    from georiva_spark.plans.engine import Trigger
    from georiva_spark.plans.takedown import (clear_hold, hold_filter,
                                              takedown)

    docs = load_table(spark, sf_dir, "documents")
    corp, out, eng, loader = _takedown_corpus_harness(spark, docs,
                                                      "tdhold")
    ht = _fixture_table(spark, "t_holdq")
    clear_hold(spark, ht)

    ids = [r.doc_id for r in
           docs.where(F.col("doc_id") % 89 == 7)
           .select("doc_id").collect()]
    audit = takedown(spark, ids, corpus=(corp, eng), hold_table=ht)
    assert audit["hold"] == ht

    # RE-CRAWL shard-1: full original content (held docs included)
    # plus fresh docs — exactly what a crawler re-delivers
    sh1 = docs.where(F.col("doc_id") % 3 == 1)
    fresh = sh1.where(F.col("doc_id") % 40 == 1).select(
        (F.col("doc_id") + 9999999).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" fresh recrawl appendix words")).alias("text"),
        *[F.col(c) for c in sh1.columns
          if c not in ("doc_id", "text")])
    redelivered = (sh1.unionByName(fresh)
                   .withColumn("shard", F.lit("shard-1")))
    admitted = hold_filter(redelivered, ht, "doc_id")
    (admitted.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("shard").parquet(corp))
    # the ingest stream's commit: checksum over ADMITTED content,
    # item update, engine dispatch (commit_shards' exact formula)
    d = (spark.read.parquet(corp)
         .where(F.col("shard") == "shard-1")
         .agg(F.bit_xor(F.xxhash64("doc_id", "text")).alias("digest"),
              F.count(F.lit(1)).alias("n")).head())
    item = next(it for it in eng.catalog.items
                if it["collection"] == "crawl-shards"
                and it["variable"] == "shard-1")
    item["checksum"] = f"crawl-shard-1-{d.digest}-{d.n}"
    eng.dispatch_for_trigger(Trigger(kind="staging_item", item=item),
                             origin="recrawl-under-hold")
    # the hold held: no held id in the landed corpus, fresh docs in
    held_left = (spark.read.parquet(corp)
                 .where(F.col("doc_id").isin(ids)).count())
    assert held_left == 0, held_left
    clear_hold(spark, ht)
    return _takedown_sections(eng, loader)


def _sql_takedown_e2e() -> str:
    """From-scratch replay over documents MINUS the takedown ids —
    what the post-takedown incremental chain must converge to."""
    pre = _corpus_survivors_prelude(
        "(SELECT * FROM documents WHERE doc_id % 97 <> 11)")
    tok = _sql_token_shards(context_len=128, num_shards=8,
                            source="survivors", prelude=pre,
                            gen_expr="doc_id % 3")
    return f"""
WITH bins AS ({tok}),
card AS (
  WITH RECURSIVE{pre}
  dc AS (SELECT lang, source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN text IS NULL OR trim(text) = ''
                              THEN 0
                              ELSE len(string_split_regex(trim(text),
                                                          '\\s+'))
                         END) AS BIGINT) AS n_tokens,
                CAST(SUM(COALESCE(length(text), 0)) AS BIGINT)
                  AS n_chars
         FROM survivors GROUP BY lang, source)
  SELECT * FROM dc)
SELECT 'datacard' AS section, lang AS k1, source AS k2,
       n_docs, n_tokens, n_chars, CAST(NULL AS BIGINT) AS n_bins
FROM card
UNION ALL
SELECT 'tokens', CAST(shard AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(COUNT(*) AS BIGINT)
FROM bins GROUP BY shard
ORDER BY section, k1, k2
"""


SQL_TAKEDOWN_E2E = _sql_takedown_e2e()


def _sql_takedown_hold() -> str:
    """Replay q_takedown_hold: the corpus chain over (documents MINUS
    the held ids) UNION the fresh re-crawl docs — the state the
    admission filter must converge the engine to."""
    src = ("(SELECT doc_id, text, lang, source FROM documents "
           "WHERE doc_id % 89 <> 7 "
           "UNION ALL "
           "SELECT doc_id + 9999999, "
           "text || ' fresh recrawl appendix words', lang, source "
           "FROM documents WHERE doc_id % 3 = 1 AND doc_id % 40 = 1)")
    pre = _corpus_survivors_prelude(src)
    tok = _sql_token_shards(context_len=128, num_shards=8,
                            source="survivors", prelude=pre,
                            gen_expr="doc_id % 3")
    return f"""
WITH bins AS ({tok}),
card AS (
  WITH RECURSIVE{pre}
  dc AS (SELECT lang, source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN text IS NULL OR trim(text) = ''
                              THEN 0
                              ELSE len(string_split_regex(trim(text),
                                                          '\\s+'))
                         END) AS BIGINT) AS n_tokens,
                CAST(SUM(COALESCE(length(text), 0)) AS BIGINT)
                  AS n_chars
         FROM survivors GROUP BY lang, source)
  SELECT * FROM dc)
SELECT 'datacard' AS section, lang AS k1, source AS k2,
       n_docs, n_tokens, n_chars, CAST(NULL AS BIGINT) AS n_bins
FROM card
UNION ALL
SELECT 'tokens', CAST(shard AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(COUNT(*) AS BIGINT)
FROM bins GROUP BY shard
ORDER BY section, k1, k2
"""


SQL_TAKEDOWN_HOLD = _sql_takedown_hold()


def q_takedown_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRY-RUN takedown blast radius (r13,
    plans/takedown.takedown_report): before applying a request, the
    reviewer reads what WOULD be removed, surface by surface, with
    nothing mutated. Fixture: documents landed as three shard
    partitions, a MinHash index over the full corpus, a token-shard
    trainer layout (pinned BPE merges, context 128), and a standing
    hold list pre-holding the odd half of the request; a third of the
    request is ALSO pre-tombstoned in the index (an earlier partial
    takedown) — the report must count only the LIVE rows this request
    would newly remove. Request: doc_id % 61 == 9.

    The oracle reproduces every count relationally: per-shard corpus
    rows, live index rows (request minus the pre-tombstoned third),
    layout doc segments + their CLAMPED BPE token lengths (the
    identical pinned-merge chain), and the already-held overlap —
    proving the report's numbers are exactly the set sizes the apply
    would act on. Env-dependent columns (target paths, file counts)
    are pytest-pinned instead and projected out here."""
    import os
    import shutil

    from georiva_spark.plans.takedown import (clear_hold,
                                              standing_hold,
                                              takedown_report)
    from georiva_spark.sources.tables import export_token_shards

    docs = load_table(spark, sf_dir, "documents")
    _sweep_stale_fixtures(spark, "t_tdrepq", "tdrep")
    base = _fixture_tmp(spark, "tdrep")
    shutil.rmtree(base, ignore_errors=True)
    corp = os.path.join(base, "corp")
    lay = os.path.join(base, "lay")
    (docs.withColumn("shard",
                     F.concat(F.lit("shard-"),
                              (F.col("doc_id") % 3).cast("string")))
     .write.partitionBy("shard").parquet(corp))
    export_token_shards(docs.select("doc_id", "text"), lay,
                        BPE_MERGES, context_len=128, num_shards=8)
    t = _fixture_table(spark, "t_tdrepq")
    ht = _fixture_table(spark, "t_tdrehq")
    clear_hold(spark, ht)
    dedup.minhash_index_write(docs.select("doc_id", "text"), t,
                              os.path.join(base, "idx"), n_buckets=8)
    ids = [r.doc_id for r in
           docs.where(F.col("doc_id") % 61 == 9)
           .select("doc_id").collect()]
    pre_dead = [i for i in ids if i % 3 == 0]
    pre_held = [i for i in ids if i % 2 == 1]
    if pre_dead:
        dedup.minhash_index_retract_docs(spark, t, pre_dead)
    standing_hold(spark, ht, pre_held)
    rep = takedown_report(spark, ids, corpus_dirs=[corp],
                          minhash_indexes=[t], token_layouts=[lay],
                          hold_table=ht)
    # materialize to a LOCAL frame before releasing the hold fixture:
    # a cached plan referencing the hold table would be invalidated
    # by its DROP (Spark uncaches dependents), re-reading dead files
    rows = (rep.select("surface", "shard",
                       F.col("n_rows").cast("long").alias("n_rows"),
                       F.col("n_tokens").cast("long")
                       .alias("n_tokens"))
            .orderBy("surface", "shard").collect())
    clear_hold(spark, ht)
    from georiva_spark.functions.frames import local_frame
    return local_frame(
        spark, [tuple(r) for r in rows],
        "surface string, shard string, n_rows long, n_tokens long")


def _sql_takedown_report() -> str:
    """Replay every takedown_report count as set sizes over
    documents: the request is doc_id % 61 == 9, the pre-tombstoned
    third is % 3 == 0, the pre-held half is odd, and the layout
    token count is the pinned-merge BPE length clamped at 128."""
    chain = _bpe_chain_sql("w")
    return f"""
WITH req AS (SELECT doc_id FROM documents WHERE doc_id % 61 = 9),
b AS (SELECT d.doc_id,
             list_filter(flatten(list_transform(
                 string_split(COALESCE(d.text, ''), ' '),
                 w -> string_split(trim({chain}), ' '))),
                 t -> t <> '') AS bpe
      FROM documents d JOIN req USING (doc_id)),
lens AS (SELECT doc_id, least(len(bpe), 128) AS n_tok FROM b)
SELECT 'corpus' AS surface,
       'shard-' || CAST(doc_id % 3 AS VARCHAR) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(NULL AS BIGINT) AS n_tokens
FROM req GROUP BY doc_id % 3
UNION ALL
SELECT 'hold', CAST(NULL AS VARCHAR),
       CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT)
FROM req WHERE doc_id % 2 = 1
UNION ALL
SELECT 'minhash', CAST(NULL AS VARCHAR),
       CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT)
FROM req WHERE doc_id % 3 <> 0
UNION ALL
SELECT 'token_layout', CAST(NULL AS VARCHAR),
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n_tok) AS BIGINT)
FROM lens
ORDER BY surface, shard
"""


SQL_TAKEDOWN_REPORT = _sql_takedown_report()


def q_token_retire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION reaching the trainer layout (r13,
    sources/tables.export_token_shards_retire): export the even half
    of documents as the base layout, append a delta GENERATION
    (derived from the base docs — new ids, same vocabulary), assert
    in-query that the layout serves it, then RETIRE the generation:
    its files delete through the commit backend (retirement token
    first, per-file atomic removes, manifest re-stamp), everything
    else byte-identical.

    The oracle is the UNMODIFIED per-doc token SQL over the even half
    alone — a hash match proves retirement ≡ the delta was never
    appended (the same never-there relational claim the index
    retractions make, now for the training layout's retention
    path)."""
    import os

    from georiva_spark.sources.tables import (
        export_token_shards, export_token_shards_delta,
        export_token_shards_retire)

    docs = load_table(spark, sf_dir, "documents")
    _sweep_stale_fixtures(spark, "__none__", "tokret")
    d = _fixture_tmp(spark, "tokret")
    import shutil
    shutil.rmtree(d, ignore_errors=True)
    base = docs.where(F.col("doc_id") % 2 == 0)
    export_token_shards(base.select("doc_id", "text"), d, BPE_MERGES,
                        context_len=128, num_shards=8)
    delta = (base.where(F.col("doc_id") % 40 == 0)
             .select((F.col("doc_id") + 10000000).alias("doc_id"),
                     "text"))
    export_token_shards_delta(delta, d, BPE_MERGES,
                              generation="crawl-x")
    bins = spark.read.option("basePath", d).parquet(f"{d}/shard=*")
    n_delta = bins.where(
        F.exists("doc_ids", lambda i: i >= 10000000)).count()
    assert n_delta > 0, "delta generation did not land"
    export_token_shards_retire(spark, d, "crawl-x")

    bins = spark.read.option("basePath", d).parquet(f"{d}/shard=*")
    n = F.size("doc_ids")
    per_doc = F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.struct(
            F.get("doc_ids", i).alias("doc_id"),
            F.slice(
                F.col("token_ids"),
                (F.get("doc_offsets", i) + 1).cast("int"),
                (F.coalesce(F.get("doc_offsets", i + F.lit(1)),
                            F.col("n_tokens").cast("long"))
                 - F.get("doc_offsets", i)).cast("int"))
            .alias("ids")))
    return (bins.select(F.explode(per_doc).alias("dd"))
            .select(F.col("dd.doc_id").alias("doc_id"),
                    F.size("dd.ids").cast("int").alias("n_tokens"),
                    F.md5(F.array_join(
                        F.transform(F.col("dd.ids"),
                                    lambda x: x.cast("string")),
                        ",")).alias("ids_hash")))


def _sql_token_retire(context_len: int = 128) -> str:
    """The UNMODIFIED per-doc token chain over the even half of
    documents — what the layout must serve after the delta
    generation retires."""
    chain_w = _bpe_chain_sql("w")
    src = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
    return f"""
WITH words AS (SELECT DISTINCT t.w AS w
          FROM {src} s,
               unnest(string_split(COALESCE(s.text, ''), ' '))
                 AS t(w)
          WHERE t.w <> ''),
vtok AS (SELECT DISTINCT t2.tok AS tok
         FROM words,
              unnest(string_split(trim({chain_w}), ' ')) AS t2(tok)
         WHERE t2.tok <> ''),
vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) - 1
                          AS INTEGER) AS id FROM vtok),
b AS (SELECT s.doc_id,
             list_filter(flatten(list_transform(
                 string_split(COALESCE(s.text, ''), ' '),
                 w -> string_split(trim({chain_w}), ' '))),
                 t -> t <> '') AS bpe
      FROM {src} s),
cl AS (SELECT doc_id, list_slice(bpe, 1, {context_len}) AS toks
       FROM b),
tokrows AS (SELECT doc_id, t.i AS i, toks[t.i] AS tok
            FROM cl, generate_series(1, {context_len}) AS t(i)
            WHERE t.i <= len(toks)),
idlists AS (SELECT tr.doc_id, list(v.id ORDER BY tr.i) AS l
            FROM tokrows tr JOIN vocab v ON v.tok = tr.tok
            GROUP BY tr.doc_id)
SELECT cl.doc_id,
       CAST(len(COALESCE(idlists.l, [])) AS INTEGER) AS n_tokens,
       md5(array_to_string(list_transform(
           COALESCE(idlists.l, []), v -> CAST(v AS VARCHAR)), ','))
         AS ids_hash
FROM cl LEFT JOIN idlists USING (doc_id)
"""


SQL_TOKEN_RETIRE = _sql_token_retire()


def q_corpus_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard expiry reaching the corpus and its derivation chain
    (r13, plans/takedown.expire_shards — RETENTION at crawl grain):
    the three-shard harness builds the full chain, then shard-2
    expires — its partition disappears atomically (rename-tomb, then
    delete), its staging item and transitive derived closure leave
    the catalog, and ``run_all`` rebuilds the corpus-wide merges from
    the two REMAINING partials (remaining clean units T3-skip — the
    in-query audit pins the rebuild cost). A second identical call is
    asserted to be a structural no-op.

    The oracle recomputes the datacard + token manifest FROM SCRATCH
    over documents minus the expired third — a hash match proves the
    post-expiry incremental chain converged to a corpus that never
    contained the shard."""
    from georiva_spark.plans.takedown import expire_shards

    docs = load_table(spark, sf_dir, "documents")
    corp, out, eng, loader = _takedown_corpus_harness(spark, docs,
                                                      "tdexp")
    audit = expire_shards(spark, corp, eng, ["shard-2"])
    assert audit["corpus"] and audit["rebuild_units"] >= 2
    again = expire_shards(spark, corp, eng, ["shard-2"])
    assert again["corpus"] == []
    return _takedown_sections(eng, loader)


def _sql_corpus_expire() -> str:
    """From-scratch replay over documents MINUS the expired shard —
    what the post-expiry incremental chain must converge to."""
    pre = _corpus_survivors_prelude(
        "(SELECT * FROM documents WHERE doc_id % 3 <> 2)")
    tok = _sql_token_shards(context_len=128, num_shards=8,
                            source="survivors", prelude=pre,
                            gen_expr="doc_id % 3")
    return f"""
WITH bins AS ({tok}),
card AS (
  WITH RECURSIVE{pre}
  dc AS (SELECT lang, source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN text IS NULL OR trim(text) = ''
                              THEN 0
                              ELSE len(string_split_regex(trim(text),
                                                          '\\s+'))
                         END) AS BIGINT) AS n_tokens,
                CAST(SUM(COALESCE(length(text), 0)) AS BIGINT)
                  AS n_chars
         FROM survivors GROUP BY lang, source)
  SELECT * FROM dc)
SELECT 'datacard' AS section, lang AS k1, source AS k2,
       n_docs, n_tokens, n_chars, CAST(NULL AS BIGINT) AS n_bins
FROM card
UNION ALL
SELECT 'tokens', CAST(shard AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(COUNT(*) AS BIGINT)
FROM bins GROUP BY shard
ORDER BY section, k1, k2
"""


SQL_CORPUS_EXPIRE = _sql_corpus_expire()



def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means TRAINING over the embeddings table
    (hash-order md5(vec_id) seed init — works on any id space, 2
    centroid updates, lower-cluster-id tie-break, empty-cluster
    carryover) → final (vec_id, cluster). The oracle replays the init
    and both rounds as SQL CTEs — integral output, so no float-hash
    exposure; the centroid means agree to ~1e-15 and the planted
    clusters are O(1) apart, so assignments match exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_fit(emb, k=8, iters=2)


def _sql_kmeans_cents(k: int = 8, d: int = 64,
                      iters: int = 2) -> tuple[str, str]:
    """Shared Lloyd-training CTE chain (hash-order md5 seed init +
    ``iters`` rounds) → (sql_prefix, name of the final long-form
    centroid CTE (c, dim, v)). Used by the kmeans_fit oracle AND the
    trained-quantizer IVF oracle, so both replay the identical
    training arithmetic."""
    parts = [f"""
WITH cid AS (
  SELECT CAST(row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT)
             AS c,
         vec_id AS vid
  FROM embeddings WHERE embedding IS NOT NULL
  QUALIFY row_number() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {k}),
e AS (SELECT vec_id, t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS v
      FROM embeddings, generate_series(1, {d}) t(i)
      WHERE embedding IS NOT NULL),
c0 AS (SELECT cid.c, e.dim, e.v FROM cid JOIN e ON e.vec_id = cid.vid)"""]
    prev = "c0"
    for it in range(1, iters + 1):
        parts.append(f""",
d{it} AS (SELECT e.vec_id, p.c, SUM((e.v - p.v) * (e.v - p.v)) AS d2
       FROM e JOIN {prev} p ON e.dim = p.dim GROUP BY e.vec_id, p.c),
a{it} AS (SELECT vec_id, c AS cluster FROM d{it}
       QUALIFY row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, c) = 1),
m{it} AS (SELECT a{it}.cluster AS c, e.dim, AVG(e.v) AS v
       FROM e JOIN a{it} USING (vec_id) GROUP BY a{it}.cluster, e.dim),
c{it} AS (SELECT p.c, p.dim, COALESCE(m{it}.v, p.v) AS v
       FROM {prev} p LEFT JOIN m{it}
         ON m{it}.c = p.c AND m{it}.dim = p.dim)""")
        prev = f"c{it}"
    return "".join(parts), prev


def _sql_kmeans_fit(k: int = 8, d: int = 64, iters: int = 2) -> str:
    prefix, cn = _sql_kmeans_cents(k, d, iters)
    return prefix + f""",
df AS (SELECT e.vec_id, p.c, SUM((e.v - p.v) * (e.v - p.v)) AS d2
       FROM e JOIN {cn} p ON e.dim = p.dim GROUP BY e.vec_id, p.c)
SELECT vec_id, CAST(c AS INT) AS cluster FROM df
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) = 1"""


SQL_KMEANS_FIT = _sql_kmeans_fit()


def q_ivf_index_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer persistent IVF index (r7): centroids come
    from two Lloyd rounds (kmeans_centroids — the What's-wrong #3 fix
    for clustered corpora) instead of hash-order samples, and the
    three queries are served through probe_batch's GATED SHUFFLE path
    (max_broadcast_queries=0 — the 50 M-backlog plan shape, the
    broadcast hint withheld). The oracle replays seed init, both
    training rounds, assignment, per-query cell routing, and the
    ranked cosines in one CTE chain."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    d = _fixture_tmp(spark, "ivfidx")
    similarity.ivf_index_write(emb, "t_ivfidxt", os.path.join(d, "idxt"),
                               n_centroids=8, train_iters=2)
    queries = (emb.where(F.col("vec_id").isin([0, 1, 2]))
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    return similarity.ivf_index_probe_batch(spark, "t_ivfidxt", queries,
                                            k=5, nprobe=2,
                                            exclude_self=True,
                                            max_broadcast_queries=0)


def _sql_ivf_trained(k: int = 8, d: int = 64, iters: int = 2,
                     nprobe: int = 2, topk: int = 5) -> str:
    prefix, cn = _sql_kmeans_cents(k, d, iters)
    return prefix + f""",
dfin AS (SELECT e.vec_id, p.c, SUM((e.v - p.v) * (e.v - p.v)) AS d2
         FROM e JOIN {cn} p ON e.dim = p.dim GROUP BY e.vec_id, p.c),
assign AS (SELECT vec_id, c AS cell FROM dfin
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) = 1),
probe AS (SELECT vec_id AS q_id, c AS cell FROM dfin
          WHERE vec_id IN (0, 1, 2)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c) <= {nprobe}),
qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
       WHERE vec_id IN (0, 1, 2)),
sims AS (
  SELECT p.q_id, a.vec_id, a.cell,
    (SELECT SUM(CAST(e2.embedding[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE))
     FROM generate_series(1, {d}) AS t(i)) AS dot,
    SQRT((SELECT SUM(CAST(e2.embedding[i] AS DOUBLE)
                   * CAST(e2.embedding[i] AS DOUBLE))
     FROM generate_series(1, {d}) AS t(i))) AS na,
    SQRT((SELECT SUM(CAST(qs.qe[i] AS DOUBLE) * CAST(qs.qe[i] AS DOUBLE))
     FROM generate_series(1, {d}) AS t(i))) AS nb
  FROM embeddings e2
  JOIN assign a ON e2.vec_id = a.vec_id
  JOIN probe p ON a.cell = p.cell
  JOIN qs ON qs.q_id = p.q_id
  WHERE e2.vec_id <> p.q_id)
SELECT q_id, vec_id, CAST(cell AS BIGINT) AS cell,
       ROUND(dot / (na * nb), 4) AS cosine
FROM sims
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY dot / (na * nb) DESC, vec_id) <= {topk}
"""


SQL_IVF_INDEX_TRAINED = _sql_ivf_trained()


# Pinned BM25 query set over the synthetic corpus vocabulary — three
# query term lists with distinct df profiles.
BM25_QUERIES = [(0, ["hash", "join"]),
                (1, ["vector", "scan", "batch"]),
                (2, ["customer", "order"])]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for the pinned query set: query terms are
    a broadcast literal so the token stream is pruned map-side; df/idf
    live on the bounded matched-term table; the only corpus-sized
    shuffles are the two map-side-combined partials."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.bm25_topk(docs, BM25_QUERIES, k=10)


def _sql_bm25_topk(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    qvals = ", ".join(f"({qid}, '{t}')"
                      for qid, ts in BM25_QUERIES for t in ts)
    return f"""
WITH q(query_id, term) AS (VALUES {qvals}),
lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
         FROM documents WHERE length(text) > 0),
st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
mx AS (SELECT doc_id, term FROM (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents WHERE length(text) > 0)
       WHERE term IN (SELECT DISTINCT term FROM q)),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
       FROM mx GROUP BY doc_id, term),
df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
       FROM mx GROUP BY term),
sc AS (SELECT q.query_id, tf.doc_id,
         SUM(ln(1.0 + (CAST(st.n AS DOUBLE) - df.df + 0.5)
                      / (df.df + 0.5))
             * tf.tf * {k1 + 1.0!r}
             / (tf.tf + {k1} * ({1.0 - b!r}
                + {b} * CAST(lens.dl AS DOUBLE) / st.avgdl))) AS s
       FROM tf JOIN df USING (term) JOIN q USING (term)
            JOIN lens ON lens.doc_id = tf.doc_id, st
       GROUP BY q.query_id, tf.doc_id)
SELECT CAST(query_id AS INT) AS query_id, doc_id,
       CAST(rank AS BIGINT) AS rank, ROUND(s, 4) AS score
FROM (SELECT query_id, doc_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id) AS rank
      FROM sc)
WHERE rank <= {k}"""


SQL_BM25_TOPK = _sql_bm25_topk()


def q_random_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→8 dims of every embedding, long form
    (vec_id, dim, val): the ±1 matrix is md5-derived (portable_hash64
    idiom) so the oracle derives the SAME matrix independently; the
    sequential HOF fold and ordered SQL SUM agree to ≪ the 4-dp
    rounding quantum."""
    from georiva_spark.functions.vectors import random_projection
    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection(F.col("embedding"), 64, 8)
    return (emb.where(F.col("embedding").isNotNull())
            .select("vec_id", F.posexplode(proj).alias("dim", "v"))
            .select("vec_id", F.col("dim").cast("int").alias("dim"),
                    F.round("v", 4).alias("val")))


SQL_RANDOM_PROJ = """
WITH s AS (
  SELECT t.i AS i, j.j AS j,
         CASE WHEN CAST('0x' || substring(md5('rp:'
                  || CAST(t.i - 1 AS VARCHAR) || ':'
                  || CAST(j.j AS VARCHAR)), 1, 1) AS BIGINT) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM generate_series(1, 64) t(i), range(8) j(j))
SELECT e.vec_id, CAST(s.j AS INT) AS dim,
       ROUND(SUM(CAST(e.embedding[s.i] AS DOUBLE) * s.sgn)
             * (1.0 / SQRT(8.0)), 4) AS val
FROM embeddings e JOIN s ON TRUE
WHERE e.embedding IS NOT NULL
GROUP BY e.vec_id, s.j
"""


def q_embed_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance matrix (long form, i ≤ j) from ONE
    distributed moments pass: per-partition BLAS Gram matrices
    tree-reduced through a posexplode SUM — the sufficient-statistics
    op PCA/whitening/drift monitoring start from. 6-dp rounding: the
    engines agree to ~1e-14 and 4 dp would flatten the off-diagonal."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.covariance_long(emb, 64)


SQL_EMBED_COV = """
WITH e AS (SELECT vec_id, t.i AS i, CAST(embedding[t.i] AS DOUBLE) AS v
           FROM embeddings, generate_series(1, 64) t(i)
           WHERE embedding IS NOT NULL),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings
       WHERE embedding IS NOT NULL),
mu AS (SELECT i, SUM(v) / nn.n AS mu FROM e, nn GROUP BY i, nn.n),
g AS (SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) / nn.n AS exx
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i, nn
      GROUP BY a.i, b.i, nn.n)
SELECT CAST(g.i - 1 AS INT) AS i, CAST(g.j - 1 AS INT) AS j,
       ROUND(g.exx - ma.mu * mb.mu, 6) + 0.0 AS cov
FROM g JOIN mu ma ON ma.i = g.i JOIN mu mb ON mb.i = g.j
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (merge_asof backward-inclusive): every 'view' event
    gains the latest 'click' by the same user at-or-before its
    timestamp. Union-tag + ONE per-user window — Spark has no native
    as-of join; the oracle is an independent LATERAL top-1 per row."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view") \
              .select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click") \
               .select("user_id", "ts", "event_id", "value")
    out = timeseries.asof_join(views, clicks, on="user_id",
                               right_cols=["event_id", "value"])
    return out.select("event_id", "user_id",
                      F.col("matched_event_id"),
                      F.col("matched_value"))


SQL_ASOF_JOIN = """
WITH v AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'view'),
c AS (SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'click')
SELECT v.event_id, v.user_id,
       m.event_id AS matched_event_id, m.value AS matched_value
FROM v LEFT JOIN LATERAL (
  SELECT c.event_id, c.value FROM c
  WHERE c.user_id = v.user_id AND c.ts <= v.ts
  ORDER BY c.ts DESC, c.event_id DESC, c.value DESC LIMIT 1) m ON TRUE
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap range join: 'view' windows [ts, ts + value
    minutes] × 'error' windows, all overlapping pairs with the overlap
    length. Bin-bucketed equi-join (1-hour bins, first-shared-bin
    ownership — no distinct over the pair space); the oracle is the
    plain theta join DuckDB runs natively (IEJoin)."""
    ev = load_table(spark, sf_dir, "events")

    def iv(kind):
        s = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
        # value is a 2-dp quantity stored as double: round(value*100)
        # is integral, so the duration math is EXACT integer arithmetic
        # (double->long CAST truncates in Spark but rounds in DuckDB)
        e = s + F.round(F.col("value") * 100).cast("long") * 600_000
        return (ev.where(F.col("event_type") == kind)
                .select(F.col("event_id").alias("id"),
                        F.timestamp_micros(s).alias("start"),
                        F.timestamp_micros(e).alias("end")))

    out = timeseries.interval_overlap_join(iv("view"), iv("error"))
    return out.select("l_id", "r_id", "overlap_us")


SQL_RANGE_JOIN = """
WITH iv AS (SELECT event_id AS id, event_type,
                   epoch_us(ts) AS s,
                   epoch_us(ts) + CAST(ROUND(value * 100) AS BIGINT) * 600000 AS e
            FROM events),
l AS (SELECT id, s, e FROM iv WHERE event_type = 'view'),
r AS (SELECT id, s, e FROM iv WHERE event_type = 'error')
SELECT l.id AS l_id, r.id AS r_id,
       LEAST(l.e, r.e) - GREATEST(l.s, r.s) AS overlap_us
FROM l JOIN r ON l.s <= r.e AND r.s <= l.e
"""


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash per image (bit 7r+c = pixel(r,c) < pixel(r,c+1)
    on the 8×8 grid): the decode→hash path must reproduce the 56-bit
    code the oracle derives directly from the source vectors —
    hash-exact, no rounding anywhere."""
    media = _embeddings_as_media(spark, sf_dir, "image")
    return mm.image_dhash(media)


SQL_IMAGE_DHASH = """
SELECT vec_id AS media_id,
       (SELECT CAST(SUM(CASE
            WHEN CAST(e.embedding[8*t.r + t.c + 1] AS DOUBLE)
               < CAST(e.embedding[8*t.r + t.c + 2] AS DOUBLE)
            THEN CAST(1 AS BIGINT) << (7*t.r + t.c) ELSE 0 END) AS BIGINT)
        FROM (SELECT r.r, c.c FROM range(8) r(r), range(7) c(c)) t)
           AS dhash
FROM embeddings e
"""


def q_image_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup mining over a corpus with PLANTED duplicates:
    each source image ships three ways — original (id), exact copy
    (id+100000), and a first-two-pixels-swapped variant (id+200000,
    Hamming ≤ 2 from the original by construction). The pigeonhole
    band join must recover exactly the planted triangles (random
    cross-image pairs sit at Hamming ≈ 28 of 56 — unreachable at the
    ≤3 cut)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32)
                img = mm.encode_raw_image(a.reshape(8, 8))
                sw = a.copy()
                sw[0], sw[1] = a[1], a[0]
                rows.append((int(vec_id), "image", img, "image/raw"))
                rows.append((int(vec_id) + 100000, "image", img,
                             "image/raw"))
                rows.append((int(vec_id) + 200000, "image",
                             mm.encode_raw_image(sw.reshape(8, 8)),
                             "image/raw"))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "content", "mime"])

    media = emb.mapInPandas(
        gen, schema="media_id long, kind string, content binary, mime string")
    out = mm.image_near_dup(media, max_hamming=3)
    return out.select("id_a", "id_b",
                      F.col("hamming").cast("long").alias("hamming"))


def q_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration for the PERCEPTUAL index family (r9 — completing
    the triad with ann_recall/minhash_recall): brute-force Hamming
    ground truth on an md5 sample of the planted-duplicate media
    corpus vs the production pigeonhole band join. Unlike the other
    two families the banding is EXACT by construction (a pair within
    max_hamming must agree on one of max_hamming+1 disjoint bands,
    candidates verify with bit_count), so the measured recall and
    precision are exactly 1.0 — this query is the driver-checked
    executable proof of that guarantee, the reason the family needs
    no nprobe/shortlist trade."""
    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"],
                                         pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32)
                img = mm.encode_raw_image(a.reshape(8, 8))
                sw = a.copy()
                sw[0], sw[1] = a[1], a[0]
                rows.append((int(vec_id), "image", img, "image/raw"))
                rows.append((int(vec_id) + 100000, "image", img,
                             "image/raw"))
                rows.append((int(vec_id) + 200000, "image",
                             mm.encode_raw_image(sw.reshape(8, 8)),
                             "image/raw"))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "content", "mime"])

    media = emb.mapInPandas(
        gen, schema="media_id long, kind string, content binary, "
                    "mime string")
    codes = mm.image_dhash(media).select(
        "media_id", F.col("dhash").alias("code"))
    return dedup.hamming_recall_estimate(
        codes, id_col="media_id", code_col="code", max_hamming=3,
        bits=56, sample_ppm=400_000)


SQL_HAMMING_RECALL = """
WITH m AS (
  SELECT vec_id AS media_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000,
         [embedding[2], embedding[1]] || embedding[3:] FROM embeddings),
h AS (
  SELECT media_id,
         (SELECT CAST(SUM(CASE
              WHEN CAST(m.embedding[8*t.r + t.c + 1] AS DOUBLE)
                 < CAST(m.embedding[8*t.r + t.c + 2] AS DOUBLE)
              THEN CAST(1 AS BIGINT) << (7*t.r + t.c) ELSE 0 END)
          AS BIGINT)
          FROM (SELECT r.r, c.c FROM range(8) r(r), range(7) c(c)) t)
             AS dhash
  FROM m),
smp AS (SELECT media_id, dhash FROM h
        WHERE CAST('0x' || substring(md5('hm-recall:' ||
              CAST(media_id AS VARCHAR)), 1, 15) AS BIGINT)
              % 1000000 < 400000),
truth AS (SELECT a.media_id AS id_a, b.media_id AS id_b
          FROM smp a JOIN smp b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.dhash, b.dhash)) <= 3)
SELECT CAST(3 AS INTEGER) AS max_hamming,
       CAST(56 AS INTEGER) AS bits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM smp) AS n_items,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS true_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS caught_pairs,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN 1.0 END
         AS recall,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS flagged_pairs,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN 1.0 END
         AS precision
"""


SQL_IMAGE_DUP_PAIRS = """
WITH m AS (
  SELECT vec_id AS media_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000,
         [embedding[2], embedding[1]] || embedding[3:] FROM embeddings),
h AS (
  SELECT media_id,
         (SELECT CAST(SUM(CASE
              WHEN CAST(m.embedding[8*t.r + t.c + 1] AS DOUBLE)
                 < CAST(m.embedding[8*t.r + t.c + 2] AS DOUBLE)
              THEN CAST(1 AS BIGINT) << (7*t.r + t.c) ELSE 0 END)
          AS BIGINT)
          FROM (SELECT r.r, c.c FROM range(8) r(r), range(7) c(c)) t)
             AS dhash
  FROM m)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""


def q_image_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent PERCEPTUAL index probe (r7): the originals are
    yesterday's indexed media corpus (distinct dHashes banded into a
    bucketed table — the pre-collapse layout); today's shard (exact
    copies + 2-bit variants) probes it with delta-only fingerprint
    compute, the index side joining shuffle-free. Each delta item must
    find exactly its original (copies at Hamming 0, variants ≤ 2;
    random cross-image pairs sit at ~28 of 56 bits). The oracle
    derives the same dHashes and all-pairs-verifies the delta × index
    relation independently."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")

    def gen(variants):
        def g(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for vec_id, embedding in zip(pdf["vec_id"],
                                             pdf["embedding"]):
                    a = np.asarray(embedding, dtype=np.float32)
                    if 0 in variants:
                        rows.append((int(vec_id), "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                    if 1 in variants:
                        rows.append((int(vec_id) + 100000, "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                    if 2 in variants:
                        sw = a.copy()
                        sw[0], sw[1] = a[1], a[0]
                        rows.append((int(vec_id) + 200000, "image",
                                     mm.encode_raw_image(sw.reshape(8, 8)),
                                     "image/raw"))
                yield pd.DataFrame(rows, columns=["media_id", "kind",
                                                  "content", "mime"])
        return g

    schema = "media_id long, kind string, content binary, mime string"
    originals = emb.mapInPandas(gen({0}), schema=schema)
    delta = emb.mapInPandas(gen({1, 2}), schema=schema)
    d = _fixture_tmp(spark, "imgidx")
    dedup.hamming_index_write(mm.image_dhash(originals), "t_imgidx",
                              os.path.join(d, "idx"),
                              id_col="media_id", code_col="dhash",
                              max_hamming=3, bits=56, n_buckets=8)
    return dedup.hamming_index_probe(mm.image_dhash(delta), "t_imgidx",
                                     id_col="media_id",
                                     code_col="dhash")


SQL_IMAGE_INDEX_PROBE = """
WITH m AS (
  SELECT vec_id AS media_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000,
         [embedding[2], embedding[1]] || embedding[3:] FROM embeddings),
h AS (
  SELECT media_id,
         (SELECT CAST(SUM(CASE
              WHEN CAST(m.embedding[8*t.r + t.c + 1] AS DOUBLE)
                 < CAST(m.embedding[8*t.r + t.c + 2] AS DOUBLE)
              THEN CAST(1 AS BIGINT) << (7*t.r + t.c) ELSE 0 END)
          AS BIGINT)
          FROM (SELECT r.r, c.c FROM range(8) r(r), range(7) c(c)) t)
             AS dhash
  FROM m)
SELECT d.media_id AS id_new, i.media_id AS id_old,
       CAST(bit_count(xor(d.dhash, i.dhash)) AS INTEGER) AS hamming
FROM h d JOIN h i ON d.media_id >= 100000 AND i.media_id < 100000
WHERE bit_count(xor(d.dhash, i.dhash)) <= 3
"""


def q_image_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR keep-or-drop lookup against the persistent perceptual
    index (r7): per delta item ONE row — its best Hamming distance and
    the count of matched index members — never the pair expansion (a
    delta code near a 10 M-member group costs one row, as the 1 M-code
    smoke measures: 34.8 s pairs vs 3.7 s lookup). Same planted
    corpus as image_index_probe; the oracle derives the dHashes,
    all-pairs the delta × index relation, and rolls it up per delta
    item."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")

    def gen(variants):
        def g(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for vec_id, embedding in zip(pdf["vec_id"],
                                             pdf["embedding"]):
                    a = np.asarray(embedding, dtype=np.float32)
                    if 0 in variants:
                        rows.append((int(vec_id), "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                    if 1 in variants:
                        rows.append((int(vec_id) + 100000, "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                    if 2 in variants:
                        sw = a.copy()
                        sw[0], sw[1] = a[1], a[0]
                        rows.append((int(vec_id) + 200000, "image",
                                     mm.encode_raw_image(sw.reshape(8, 8)),
                                     "image/raw"))
                yield pd.DataFrame(rows, columns=["media_id", "kind",
                                                  "content", "mime"])
        return g

    schema = "media_id long, kind string, content binary, mime string"
    originals = emb.mapInPandas(gen({0}), schema=schema)
    delta = emb.mapInPandas(gen({1, 2}), schema=schema)
    d = _fixture_tmp(spark, "imgidx")
    dedup.hamming_index_write(mm.image_dhash(originals), "t_imgidxl",
                              os.path.join(d, "idxl"),
                              id_col="media_id", code_col="dhash",
                              max_hamming=3, bits=56, n_buckets=8)
    return dedup.hamming_index_lookup(mm.image_dhash(delta),
                                      "t_imgidxl", id_col="media_id",
                                      code_col="dhash")


SQL_IMAGE_INDEX_LOOKUP = """
WITH m AS (
  SELECT vec_id AS media_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000,
         [embedding[2], embedding[1]] || embedding[3:] FROM embeddings),
h AS (
  SELECT media_id,
         (SELECT CAST(SUM(CASE
              WHEN CAST(m.embedding[8*t.r + t.c + 1] AS DOUBLE)
                 < CAST(m.embedding[8*t.r + t.c + 2] AS DOUBLE)
              THEN CAST(1 AS BIGINT) << (7*t.r + t.c) ELSE 0 END)
          AS BIGINT)
          FROM (SELECT r.r, c.c FROM range(8) r(r), range(7) c(c)) t)
             AS dhash
  FROM m)
SELECT d.media_id AS id_new,
       CAST(MIN(bit_count(xor(d.dhash, i.dhash))) AS INTEGER)
           AS min_hamming,
       CAST(COUNT(*) AS BIGINT) AS n_matched_items
FROM h d JOIN h i ON d.media_id >= 100000 AND i.media_id < 100000
WHERE bit_count(xor(d.dhash, i.dhash)) <= 3
GROUP BY d.media_id
"""


def q_ingest_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET ingest end-to-end (r6): the documents table becomes a
    real gzip-per-record WET archive (sources/warc_codec.py — the
    Common Crawl container, the de-facto 100-TB LLM-corpus input),
    which the binaryFile→mapInPandas scan parses back: record framing,
    per-member gunzip, header extraction, payload decode. The oracle
    reads the same rows straight from the documents table — byte
    counts and text must survive the container round-trip exactly."""
    import os
    import tempfile

    from georiva_spark.sources.warc_codec import warc_encode, warc_scan

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id")
    pdf = docs.select("doc_id", "text").toPandas()  # bounded fixture
    records = [{"warc_type": "conversion",
                "target_uri": f"http://corpus.example/doc/{int(i)}",
                "content_type": "text/plain",
                "payload": t}
               for i, t in zip(pdf["doc_id"], pdf["text"])]
    buf = warc_encode(records, gz=True)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_warc")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"docs_{len(records)}.wet.gz")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    out = warc_scan(spark, fp)
    return out.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long").alias("doc_id"),
        F.col("n_bytes"), F.col("text"))


SQL_INGEST_WARC = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       text
FROM documents
"""


def q_ingest_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL.gz corpus round-trip (r6): the documents table writes as
    gzip JSONL shards (Spark JSON sink, one file per partition) and
    reads back schema-enforced + FAILFAST — the crawl-shard
    interchange layout. Text, unicode and counts must survive the
    JSON encode/decode exactly; the oracle reads the source table."""
    import os
    import tempfile

    from georiva_spark.sources.tables import (read_jsonl_corpus,
                                              write_jsonl_corpus)

    docs = load_table(spark, sf_dir, "documents")
    d = os.path.join(
        tempfile.gettempdir(),
        f"georiva_spark_jsonl_{spark.sparkContext.applicationId}",
        "docs")
    # always rewrite (mode=overwrite is atomic-per-run): a row-count
    # keyed isdir cache would silently reuse a stale tempdir from a
    # DIFFERENT same-sized corpus, or a partially-written failed run;
    # app-id suffix (r12) keeps concurrent evaluations from
    # overwriting each other's shards mid-read
    write_jsonl_corpus(docs, d)
    back = read_jsonl_corpus(spark, d)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


SQL_INGEST_JSONL = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


def q_warc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl→corpus pipeline end-to-end (r6): documents wrapped in
    the html_text markup, framed as HTTP 200 responses inside a real
    gzip-per-record WARC, then scanned back — container demux, HTTP
    head strip, HTML→text rule chain — all in one lineage. The oracle
    never sees the container: the round-trip is byte-identity on the
    payload (proven by ingest_warc), so it replays only the HTML wrap
    + strip chain, the same shape as html_text."""
    import os
    import tempfile

    from georiva_spark.sources.warc_codec import warc_encode, warc_scan

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id")
    pdf = docs.select("doc_id", "text").toPandas()  # bounded fixture
    http_head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    records = []
    for i, t in zip(pdf["doc_id"], pdf["text"]):
        html = ("<html><head><style>p{color:red}</style>"
                "<script>if(a<b){go()}</script></head><body><h1>Doc "
                f"{int(i)}</h1><!-- hidden --><p>{t}"
                "</p><div>tail &amp; end</div></body></html>")
        records.append({"warc_type": "response",
                        "target_uri": f"http://corpus.example/doc/{int(i)}",
                        "content_type":
                            "application/http; msgtype=response",
                        "payload": http_head + html})
    buf = warc_encode(records, gz=True)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_warc")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"crawl_{len(records)}.warc.gz")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    pages = (warc_scan(spark, fp, types=("response",))
             .select(F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
                     .cast("long").alias("doc_id"),
                     F.col("text")))
    return textops.html_to_text(pages)


SQL_WARC_PIPELINE = SQL_HTML_TEXT


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL crawl→corpus→filter→dedup composition under ONE plan
    (r7): plant cross-half near-dups (docs with doc_id%10==1 carry the
    previous doc's text), wrap every doc as an HTTP response inside a
    real gzip-per-record WARC, scan the container back, strip HTML,
    gate on the Gopher quality rules, drop boilerplate lines
    corpus-wide (the injected 'tail & end' footer appears on EVERY
    page and must vanish; planted shared lines survive at
    max_line_df=2), then probe the odd half against a MinHash index
    planted from the even half — the LLM-corpus refresh shape:
    yesterday's corpus is the index, today's crawl is the delta.
    → (doc_new, doc_old, est_jaccard ≥ 0.5).

    Every stage is exact closed-form arithmetic (portable md5 hashes
    end-to-end — the index is written with portable=True), so one SQL
    oracle replays the whole chain; the WARC hop is byte-identity
    (proven by ingest_warc), so the oracle starts at the HTML wrap.
    Plan shape: scan→regexp chain (codegen) → two hash aggregates
    (line df, signature) → bucketed band join; no stage breaks
    pushdown, nothing broadcasts the corpus (plan-asserted)."""
    import os
    import tempfile

    from georiva_spark.sources.warc_codec import warc_encode, warc_scan

    docs = load_table(spark, sf_dir, "documents")
    prev = docs.select((F.col("doc_id") + 1).alias("doc_id"),
                       F.col("text").alias("src_text"))
    planted = (docs.join(prev, "doc_id", "left")
               .select("doc_id",
                       F.when((F.col("doc_id") % 10 == 1)
                              & F.col("src_text").isNotNull(),
                              F.col("src_text"))
                       .otherwise(F.col("text")).alias("text"))
               .orderBy("doc_id"))
    pdf = planted.toPandas()                      # bounded fixture
    http_head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    records = []
    for i, t in zip(pdf["doc_id"], pdf["text"]):
        html = ("<html><head><style>p{color:red}</style>"
                "<script>if(a<b){go()}</script></head><body><h1>Doc "
                f"{int(i)}</h1><!-- hidden --><p>{t}"
                "</p><div>tail &amp; end</div></body></html>")
        records.append({"warc_type": "response",
                        "target_uri": f"http://corpus.example/doc/{int(i)}",
                        "content_type":
                            "application/http; msgtype=response",
                        "payload": http_head + html})
    buf = warc_encode(records, gz=True)
    d = os.path.join(tempfile.gettempdir(), "georiva_spark_warc")
    os.makedirs(d, exist_ok=True)
    fp = os.path.join(d, f"corpus_{len(records)}.warc.gz")
    tmp = fp + ".part"
    with open(tmp, "wb") as f:
        f.write(buf)
    os.replace(tmp, fp)

    pages = (warc_scan(spark, fp, types=("response",))
             .select(F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
                     .cast("long").alias("doc_id"),
                     F.col("text")))
    stripped = (textops.html_to_text(pages)
                .select("doc_id", F.col("clean_text").alias("text")))
    g = textops.gopher_rules(stripped, min_words=8, max_words=1000,
                             min_mean_word_len=1.0,
                             max_mean_word_len=12.0,
                             max_symbol_ratio=0.2, max_bullet_ratio=0.9,
                             min_stopword_hits=1)
    kept = stripped.join(g.where("gopher_pass").select("doc_id"),
                         "doc_id", "left_semi")
    ld = dedup.line_dedup(kept, max_line_df=2, portable=True)
    corpus = (ld.where(F.col("n_kept") > 0)
              .select("doc_id", F.col("kept_text").alias("text")))

    idx_path = _fixture_tmp(spark, "cpidx")
    dedup.minhash_index_write(corpus.where(F.col("doc_id") % 2 == 0),
                              "t_corpusmh", os.path.join(idx_path, "idx"),
                              n_buckets=8, portable=True)
    delta = corpus.where(F.col("doc_id") % 2 == 1)
    return dedup.minhash_index_probe(delta, "t_corpusmh", threshold=0.5)


def _sql_corpus_pipeline(threshold: float = 0.5, num_hashes: int = 64,
                         bands: int = 16) -> str:
    """Replay the whole crawl→corpus→filter→dedup chain in SQL: each
    CTE block is the proven oracle of its stage (html strip chain from
    HTML_STRIP_RULES verbatim, the gopher metric formulas from
    SQL_GOPHER_RULES, the line-df reassembly from SQL_LINE_DEDUP, the
    signature/banding arithmetic from _sql_minhash), composed over the
    planted corpus instead of raw documents."""
    a, b = dedup.minhash_coeffs(num_hashes)
    r = num_hashes // bands
    expr = "html"
    for pat, repl in textops.HTML_STRIP_RULES:
        p = pat.replace("'", "''")
        rr = ("chr(10)" if repl == "\n"
              else "'" + repl.replace("'", "''") + "'")
        expr = f"regexp_replace({expr}, '{p}', {rr}, 'g')"
    shingle = "array_to_string(t[i+1:i+3], ' ')"
    phash = f"CAST('0x' || substring(md5({shingle}), 1, 15) AS BIGINT)"
    shingles = (f"list_transform(range(0, greatest(len(t)-3, 0)+1), "
                f"i -> {phash})")
    mins = [f"list_min(list_transform(s, v -> "
            f"(CAST(v AS HUGEINT) * {int(a[j])} + {int(b[j])})"
            f" % 18446744073709551616))" for j in range(num_hashes)]
    est = (f"CAST(len(list_filter(range(0, {num_hashes}), "
           f"i -> sa[i+1] = sb[i+1])) AS DOUBLE) / {float(num_hashes)}")
    return f"""
WITH planted AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 1 AND p.text IS NOT NULL
              THEN p.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
aug AS (SELECT doc_id,
  '<html><head><style>p{{color:red}}</style>'
  || '<script>if(a<b){{go()}}</script></head><body><h1>Doc '
  || CAST(doc_id AS VARCHAR) || '</h1><!-- hidden --><p>' || text
  || '</p><div>tail &amp; end</div></body></html>' AS html
  FROM planted),
stripped AS (SELECT doc_id, {expr} AS text FROM aug),
gw AS (SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'),
                     t -> t <> '') AS words
       FROM stripped),
gm AS (SELECT doc_id, text,
         len(words) AS n_words,
         CAST(list_sum(list_transform(words, t -> length(t)))
              AS DOUBLE) / greatest(len(words), 1) AS mean_word_len,
         CAST(length(text) - length(replace(text, '#', ''))
              + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
             / greatest(len(words), 1) AS symbol_ratio,
         CAST(len(list_filter(string_split(text, chr(10)),
                  ln -> ln LIKE '- %' OR ln LIKE '* %' OR ln LIKE '• %'))
              AS DOUBLE)
             / greatest(len(string_split(text, chr(10))), 1)
             AS bullet_ratio,
         len(list_filter(words,
             t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
             AS stopword_hits
       FROM gw),
gkept AS (SELECT doc_id, text FROM gm
          WHERE n_words >= 8 AND n_words <= 1000
            AND mean_word_len >= 1.0 AND mean_word_len <= 12.0
            AND symbol_ratio <= 0.2 AND bullet_ratio <= 0.9
            AND stopword_hits >= 1),
lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM gkept),
lp AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos, ls
       FROM lx),
l AS (SELECT doc_id, pos, ls[pos] AS line FROM lp),
n AS (SELECT doc_id, pos, line,
             lower(trim(regexp_replace(line, '\\s+', ' ', 'g'))) AS norm
      FROM l),
freq AS (SELECT norm, COUNT(DISTINCT doc_id) AS line_df
         FROM n GROUP BY norm),
corpus AS (SELECT doc_id,
                  string_agg(line, chr(10) ORDER BY pos) AS text
           FROM n JOIN freq USING (norm) WHERE line_df <= 2
           GROUP BY doc_id),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
sh AS (SELECT doc_id, list_distinct({shingles}) AS s FROM toks),
sigu AS (SELECT doc_id, [{', '.join(mins)}] AS u FROM sh),
sig AS (SELECT doc_id,
               list_transform(u, m -> CAST(CASE
                 WHEN m >= 9223372036854775808
                 THEN m - 18446744073709551616 ELSE m END AS BIGINT)) AS sig
        FROM sigu),
banded AS (SELECT doc_id, sig, bb.band AS band,
                  sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
           FROM sig CROSS JOIN
                (SELECT unnest(range(0, {bands})) AS band) bb),
cand AS (SELECT DISTINCT l.doc_id AS doc_new, r.doc_id AS doc_old,
                l.sig AS sa, r.sig AS sb
         FROM banded l JOIN banded r
           ON l.band = r.band AND l.key = r.key
          AND l.doc_id % 2 = 1 AND r.doc_id % 2 = 0)
SELECT doc_new, doc_old, {est} AS est_jaccard
FROM cand WHERE {est} >= {threshold}
"""


SQL_CORPUS_PIPELINE = _sql_corpus_pipeline()


def q_minhash_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 staleness reaching the persistent MinHash index (r12 — the
    r11 verdict's top item), proven relationally: plant cross-doc
    near-dups (docs with doc_id%10==1 carry the previous doc's text),
    build the index from the doc_id%4==0 quarter, append the
    doc_id%4==2 quarter as crawl shard 'crawl-b' under a generation
    tag, then RETRACT that shard (the re-crawl invalidation path:
    minhash_index_retract tombstones its generations) and probe with
    the odd half → (doc_new, doc_old, est_jaccard ≥ 0.5).

    The oracle replays the signature/banding arithmetic (portable md5
    hashes) against ONLY the live quarter — so a hash match proves
    the retracted shard's signatures are invisible to probes exactly
    as if they were never indexed, while the untouched base remains
    matched (planted pairs whose source doc lands in the dead quarter
    vanish; those landing in the live quarter survive). Plan shape:
    the tombstone filter is a broadcast anti-join of the bounded rule
    table (plan-asserted in tests/test_plan_evidence.py) — retraction
    never rewrites or reshuffles the index at event time; compaction
    purges physically (pytest-pinned)."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    prev = docs.select((F.col("doc_id") + 1).alias("doc_id"),
                       F.col("text").alias("src_text"))
    planted = (docs.join(prev, "doc_id", "left")
               .select("doc_id",
                       F.when((F.col("doc_id") % 10 == 1)
                              & F.col("src_text").isNotNull(),
                              F.col("src_text"))
                       .otherwise(F.col("text")).alias("text")))
    _sweep_stale_fixtures(spark, "t_mhretq", "mhret")
    d = _fixture_tmp(spark, "mhret")
    t = _fixture_table(spark, "t_mhretq")
    dedup.minhash_index_write(planted.where(F.col("doc_id") % 4 == 0),
                              t, os.path.join(d, "idx"),
                              n_buckets=8, portable=True)
    dedup.minhash_index_append(planted.where(F.col("doc_id") % 4 == 2),
                               t,
                               gen=dedup.index_gen("crawl-b", "v1"))
    # the shard is re-crawled away: every generation of it dies
    dedup.minhash_index_retract(spark, t, "crawl-b")
    return dedup.minhash_index_probe(
        planted.where(F.col("doc_id") % 2 == 1), t,
        threshold=0.5)


def _sql_minhash_retract(threshold: float = 0.5, num_hashes: int = 64,
                         bands: int = 16) -> str:
    """Replay q_minhash_retract: the _sql_minhash signature/banding
    arithmetic over the planted corpus, with the index side restricted
    to the LIVE quarter (doc_id%4==0) — the relational definition of
    'the retracted shard was never there'."""
    a, b = dedup.minhash_coeffs(num_hashes)
    r = num_hashes // bands
    mins = [f"list_min(list_transform(s, v -> "
            f"(CAST(v AS HUGEINT) * {int(a[j])} + {int(b[j])})"
            f" % 18446744073709551616))" for j in range(num_hashes)]
    est = (f"CAST(len(list_filter(range(0, {num_hashes}), "
           f"i -> sa[i+1] = sb[i+1])) AS DOUBLE) / {float(num_hashes)}")
    return f"""
WITH planted AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 1 AND p.text IS NOT NULL
              THEN p.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM planted),
sh AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM toks),
sigu AS (SELECT doc_id, [{', '.join(mins)}] AS u FROM sh),
sig AS (SELECT doc_id,
               list_transform(u, m -> CAST(CASE
                 WHEN m >= 9223372036854775808
                 THEN m - 18446744073709551616 ELSE m END AS BIGINT)) AS sig
        FROM sigu),
banded AS (SELECT doc_id, sig, bb.band AS band,
                  sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
           FROM sig CROSS JOIN
                (SELECT unnest(range(0, {bands})) AS band) bb),
cand AS (SELECT DISTINCT l.doc_id AS doc_new, r.doc_id AS doc_old,
                l.sig AS sa, r.sig AS sb
         FROM banded l JOIN banded r
           ON l.band = r.band AND l.key = r.key
          AND l.doc_id % 2 = 1 AND r.doc_id % 4 = 0)
SELECT doc_new, doc_old, {est} AS est_jaccard
FROM cand WHERE {est} >= {threshold}
"""


SQL_MINHASH_RETRACT = _sql_minhash_retract()


def q_ann_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 retraction on the EMBEDDING index family (r12 — the same
    tombstone machinery as minhash_retract, shared via
    operators/_tombstones.py): write the float IVF index from the
    full embeddings table, append a crawl shard of twin vectors
    (vec_id+10000, copies of vectors 0-2) under a generation tag,
    verify IN-QUERY that a probe ranks the appended twin (cosine≈1 —
    the shard is live), then RETRACT the shard and return the probe.
    The oracle is the UNMODIFIED knn_ivf SQL over the original
    table — a hash match proves the retracted shard is invisible to
    probes exactly as if it was never appended: same cells, same
    candidates, same top-k, zero index rewrite at event time."""
    import os

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    _sweep_stale_fixtures(spark, "t_annret", "annret")
    d = _fixture_tmp(spark, "annret")
    t = _fixture_table(spark, "t_annret")
    similarity.ivf_index_write(emb, t,
                               os.path.join(d, "idx"), n_centroids=8)
    twins = (emb.where(F.col("vec_id") < 3)
             .select((F.col("vec_id") + 10000).alias("vec_id"),
                     "embedding"))
    similarity.ivf_index_append(twins, t,
                                gen=dedup.index_gen("crawl-e", "v1"))
    q = (emb.where(F.col("vec_id") == 0)
         .select("embedding").head().embedding)
    pre = {r.vec_id for r in similarity.ivf_index_probe(
        spark, t, q, k=5, nprobe=2,
        exclude_vec_id=0).collect()}
    assert 10000 in pre, pre          # the live shard ranks (twin of 0)
    similarity.ivf_index_retract(spark, t, "crawl-e")
    return similarity.ivf_index_probe(spark, t, q, k=5,
                                      nprobe=2, exclude_vec_id=0)


SQL_ANN_RETRACT = SQL_KNN_IVF


def q_image_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 retraction on the PERCEPTUAL index family (r12): the
    image_index_probe corpus, plus a crawl shard of exact copies
    (media_id+300000) appended under a generation tag — the copies
    share the originals' dHashes, so only MEMBERSHIP rows append (the
    band pre-collapse); the in-query assert sees the live shard in
    probe pairs, then the shard RETRACTS and the probe returns — the
    oracle is the UNMODIFIED image_index_probe SQL, proving the dead
    memberships vanish while the shared band rows (still owned by the
    live originals) keep matching."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")

    def gen(variants):
        def g(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for vec_id, embedding in zip(pdf["vec_id"],
                                             pdf["embedding"]):
                    a = np.asarray(embedding, dtype=np.float32)
                    if 0 in variants:
                        rows.append((int(vec_id), "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                    if 1 in variants:
                        rows.append((int(vec_id) + 100000, "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                    if 2 in variants:
                        sw = a.copy()
                        sw[0], sw[1] = a[1], a[0]
                        rows.append((int(vec_id) + 200000, "image",
                                     mm.encode_raw_image(sw.reshape(8, 8)),
                                     "image/raw"))
                    if 3 in variants:
                        rows.append((int(vec_id) + 300000, "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                yield pd.DataFrame(rows, columns=["media_id", "kind",
                                                  "content", "mime"])
        return g

    schema = "media_id long, kind string, content binary, mime string"
    originals = emb.mapInPandas(gen({0}), schema=schema)
    shard = emb.mapInPandas(gen({3}), schema=schema)
    delta = emb.mapInPandas(gen({1, 2}), schema=schema)
    _sweep_stale_fixtures(spark, "t_imgret", "imgret")
    d = _fixture_tmp(spark, "imgret")
    t = _fixture_table(spark, "t_imgret")
    dedup.hamming_index_write(mm.image_dhash(originals), t,
                              os.path.join(d, "idx"),
                              id_col="media_id", code_col="dhash",
                              max_hamming=3, bits=56, n_buckets=8)
    dedup.hamming_index_append(mm.image_dhash(shard), t,
                               id_col="media_id", code_col="dhash",
                               gen=dedup.index_gen("crawl-m", "v1"))
    probe = mm.image_dhash(delta)
    pre = dedup.hamming_index_probe(probe, t,
                                    id_col="media_id",
                                    code_col="dhash")
    assert pre.where(F.col("id_old") >= 300000).limit(1).count() > 0
    dedup.hamming_index_retract(spark, t, "crawl-m")
    return dedup.hamming_index_probe(probe, t,
                                     id_col="media_id",
                                     code_col="dhash")


SQL_IMAGE_RETRACT = SQL_IMAGE_INDEX_PROBE


def q_minhash_retract_docs(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Doc-grained T5 — TAKEDOWN reaching the persistent MinHash
    index (r13, the r12 verdict's item 2): same planted corpus and
    index lifecycle as minhash_retract (write the doc_id%4==0
    quarter, append the doc_id%4==2 quarter as crawl shard 'crawl-b'),
    but instead of retracting a SHARD, retract the SPECIFIC doc_ids a
    takedown request names — here ids ≡ 0 or 2 (mod 20), which hits
    BOTH the unversioned base and the gen-tagged shard (doc rules key
    on doc_id, not the gen, so they work on any layout). Probe with
    the odd half.

    The oracle replays the signature/banding arithmetic against the
    index MINUS the taken-down ids — a hash match proves the docs are
    invisible to probes exactly as if they were never indexed, while
    every other doc (including the rest of their own shard) keeps
    matching: retraction at a granularity no shard rule can express.
    Same plan shape as the shard rules: a second broadcast anti-join
    of the bounded id list (plan-asserted), zero index rewrite at
    event time, physical purge at compaction (pytest-pinned)."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    prev = docs.select((F.col("doc_id") + 1).alias("doc_id"),
                       F.col("text").alias("src_text"))
    planted = (docs.join(prev, "doc_id", "left")
               .select("doc_id",
                       F.when((F.col("doc_id") % 10 == 1)
                              & F.col("src_text").isNotNull(),
                              F.col("src_text"))
                       .otherwise(F.col("text")).alias("text")))
    _sweep_stale_fixtures(spark, "t_mhretdq", "mhretd")
    d = _fixture_tmp(spark, "mhretd")
    t = _fixture_table(spark, "t_mhretdq")
    dedup.minhash_index_write(planted.where(F.col("doc_id") % 4 == 0),
                              t, os.path.join(d, "idx"),
                              n_buckets=8, portable=True)
    dedup.minhash_index_append(planted.where(F.col("doc_id") % 4 == 2),
                               t,
                               gen=dedup.index_gen("crawl-b", "v1"))
    # the takedown request: a BOUNDED id list (ids ≡ 0 or 2 mod 20 —
    # a few percent of one corpus, the size class of a legal request)
    takedown = [r.doc_id for r in
                planted.where((F.col("doc_id") % 20).isin(0, 2))
                .select("doc_id").collect()]
    dedup.minhash_index_retract_docs(spark, t, takedown)
    return dedup.minhash_index_probe(
        planted.where(F.col("doc_id") % 2 == 1), t,
        threshold=0.5)


def _sql_minhash_retract_docs(threshold: float = 0.5,
                              num_hashes: int = 64,
                              bands: int = 16) -> str:
    """Replay q_minhash_retract_docs: the _sql_minhash arithmetic
    with the index side = both even quarters MINUS the taken-down ids
    (doc_id % 20 in (0, 2)) — the relational definition of 'these
    documents were never there'."""
    a, b = dedup.minhash_coeffs(num_hashes)
    r = num_hashes // bands
    mins = [f"list_min(list_transform(s, v -> "
            f"(CAST(v AS HUGEINT) * {int(a[j])} + {int(b[j])})"
            f" % 18446744073709551616))" for j in range(num_hashes)]
    est = (f"CAST(len(list_filter(range(0, {num_hashes}), "
           f"i -> sa[i+1] = sb[i+1])) AS DOUBLE) / {float(num_hashes)}")
    return f"""
WITH planted AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 1 AND p.text IS NOT NULL
              THEN p.text ELSE d.text END AS text
  FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM planted),
sh AS (SELECT doc_id, list_distinct({_SHINGLE_LIST}) AS s FROM toks),
sigu AS (SELECT doc_id, [{', '.join(mins)}] AS u FROM sh),
sig AS (SELECT doc_id,
               list_transform(u, m -> CAST(CASE
                 WHEN m >= 9223372036854775808
                 THEN m - 18446744073709551616 ELSE m END AS BIGINT)) AS sig
        FROM sigu),
banded AS (SELECT doc_id, sig, bb.band AS band,
                  sig[bb.band*{r}+1 : bb.band*{r}+{r}] AS key
           FROM sig CROSS JOIN
                (SELECT unnest(range(0, {bands})) AS band) bb),
cand AS (SELECT DISTINCT l.doc_id AS doc_new, r.doc_id AS doc_old,
                l.sig AS sa, r.sig AS sb
         FROM banded l JOIN banded r
           ON l.band = r.band AND l.key = r.key
          AND l.doc_id % 2 = 1 AND r.doc_id % 2 = 0
          AND r.doc_id % 20 NOT IN (0, 2))
SELECT doc_new, doc_old, {est} AS est_jaccard
FROM cand WHERE {est} >= {threshold}
"""


SQL_MINHASH_RETRACT_DOCS = _sql_minhash_retract_docs()


def q_ann_retract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-grained T5 on the EMBEDDING index (r13): same lifecycle as
    ann_retract — write the float IVF index, append twin vectors
    (vec_id+10000, copies of vectors 0-2) under a generation tag,
    verify IN-QUERY that a probe ranks an appended twin — but retract
    the three SPECIFIC vec_ids (ivf_index_retract_docs) instead of
    the shard. The oracle is the UNMODIFIED knn_ivf SQL over the
    original table: a hash match proves the taken-down vectors are
    invisible exactly as if never appended — same cells, same
    candidates, same top-k, zero index rewrite at event time."""
    import os

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    _sweep_stale_fixtures(spark, "t_annretd", "annretd")
    d = _fixture_tmp(spark, "annretd")
    t = _fixture_table(spark, "t_annretd")
    similarity.ivf_index_write(emb, t,
                               os.path.join(d, "idx"), n_centroids=8)
    twins = (emb.where(F.col("vec_id") < 3)
             .select((F.col("vec_id") + 10000).alias("vec_id"),
                     "embedding"))
    similarity.ivf_index_append(twins, t,
                                gen=dedup.index_gen("crawl-e", "v1"))
    q = (emb.where(F.col("vec_id") == 0)
         .select("embedding").head().embedding)
    pre = {r.vec_id for r in similarity.ivf_index_probe(
        spark, t, q, k=5, nprobe=2,
        exclude_vec_id=0).collect()}
    assert 10000 in pre, pre          # the live twin ranks (twin of 0)
    similarity.ivf_index_retract_docs(spark, t, [10000, 10001, 10002])
    return similarity.ivf_index_probe(spark, t, q, k=5,
                                      nprobe=2, exclude_vec_id=0)


SQL_ANN_RETRACT_DOCS = SQL_KNN_IVF


def q_image_retract_docs(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Doc-grained T5 on the PERCEPTUAL index (r13): the
    image_retract corpus — exact copies (media_id+300000) appended
    under a generation tag share the originals' dHashes, so only
    MEMBERSHIP rows append — but the retraction names the copy
    media_ids themselves (hamming_index_retract_docs) instead of the
    shard. The oracle is the UNMODIFIED image_index_probe SQL,
    proving the taken-down memberships vanish while the shared band
    rows (still owned by the live originals) keep matching — the
    membership-layer takedown."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")

    def gen(variants):
        def g(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for vec_id, embedding in zip(pdf["vec_id"],
                                             pdf["embedding"]):
                    a = np.asarray(embedding, dtype=np.float32)
                    if 0 in variants:
                        rows.append((int(vec_id), "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                    if 1 in variants:
                        rows.append((int(vec_id) + 100000, "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                    if 2 in variants:
                        sw = a.copy()
                        sw[0], sw[1] = a[1], a[0]
                        rows.append((int(vec_id) + 200000, "image",
                                     mm.encode_raw_image(sw.reshape(8, 8)),
                                     "image/raw"))
                    if 3 in variants:
                        rows.append((int(vec_id) + 300000, "image",
                                     mm.encode_raw_image(a.reshape(8, 8)),
                                     "image/raw"))
                yield pd.DataFrame(rows, columns=["media_id", "kind",
                                                  "content", "mime"])
        return g

    schema = "media_id long, kind string, content binary, mime string"
    originals = emb.mapInPandas(gen({0}), schema=schema)
    shard = emb.mapInPandas(gen({3}), schema=schema)
    delta = emb.mapInPandas(gen({1, 2}), schema=schema)
    _sweep_stale_fixtures(spark, "t_imgretd", "imgretd")
    d = _fixture_tmp(spark, "imgretd")
    t = _fixture_table(spark, "t_imgretd")
    dedup.hamming_index_write(mm.image_dhash(originals), t,
                              os.path.join(d, "idx"),
                              id_col="media_id", code_col="dhash",
                              max_hamming=3, bits=56, n_buckets=8)
    dedup.hamming_index_append(mm.image_dhash(shard), t,
                               id_col="media_id", code_col="dhash",
                               gen=dedup.index_gen("crawl-m", "v1"))
    probe = mm.image_dhash(delta)
    pre = dedup.hamming_index_probe(probe, t,
                                    id_col="media_id",
                                    code_col="dhash")
    assert pre.where(F.col("id_old") >= 300000).limit(1).count() > 0
    # the takedown names the copy ids themselves — bounded by the
    # request (one shard's id list), not the corpus
    takedown = [300000 + r.vec_id
                for r in emb.select("vec_id").collect()]
    dedup.hamming_index_retract_docs(spark, t, takedown)
    return dedup.hamming_index_probe(probe, t,
                                     id_col="media_id",
                                     code_col="dhash")


SQL_IMAGE_RETRACT_DOCS = SQL_IMAGE_INDEX_PROBE


def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup GROUP rollup (r6): the linear-output
    alternative to pair mining for duplicate-heavy corpora — per item,
    its transitive near-dup group (min-id representative), group size,
    and exact-code count. Same planted corpus as image_dup_pairs
    (original / exact copy / 2-bit variant per source image); the
    oracle replays the dHashes, the distinct-code Hamming graph, and
    the connected components as a recursive CTE."""
    from georiva_spark.operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32)
                img = mm.encode_raw_image(a.reshape(8, 8))
                sw = a.copy()
                sw[0], sw[1] = a[1], a[0]
                rows.append((int(vec_id), "image", img, "image/raw"))
                rows.append((int(vec_id) + 100000, "image", img,
                             "image/raw"))
                rows.append((int(vec_id) + 200000, "image",
                             mm.encode_raw_image(sw.reshape(8, 8)),
                             "image/raw"))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "content", "mime"])

    media = emb.mapInPandas(
        gen, schema="media_id long, kind string, content binary, mime string")
    out = dedup.hamming_groups(mm.image_dhash(media), "media_id",
                               "dhash", max_hamming=3, bits=56)
    return out.select("id", "group_id",
                      F.col("group_size").cast("long").alias("group_size"),
                      F.col("exact_size").cast("long").alias("exact_size"))


SQL_DUP_GROUPS = """
WITH RECURSIVE m AS (
  SELECT vec_id AS media_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000,
         [embedding[2], embedding[1]] || embedding[3:] FROM embeddings),
h AS (
  SELECT media_id,
         (SELECT CAST(SUM(CASE
              WHEN CAST(m.embedding[8*t.r + t.c + 1] AS DOUBLE)
                 < CAST(m.embedding[8*t.r + t.c + 2] AS DOUBLE)
              THEN CAST(1 AS BIGINT) << (7*t.r + t.c) ELSE 0 END)
          AS BIGINT)
          FROM (SELECT r.r, c.c FROM range(8) r(r), range(7) c(c)) t)
             AS dhash
  FROM m),
dc AS (SELECT DISTINCT dhash FROM h),
e0 AS (SELECT a.dhash AS ca, b.dhash AS cb
       FROM dc a JOIN dc b ON a.dhash < b.dhash
       WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
edges AS (SELECT ca AS u, cb AS v FROM e0
          UNION ALL SELECT cb, ca FROM e0),
reach(node, lab) AS (
  SELECT dhash, dhash FROM dc
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node),
compo AS (SELECT node AS dhash, MIN(lab) AS comp
          FROM reach GROUP BY node),
withc AS (SELECT h.media_id, h.dhash, compo.comp
          FROM h JOIN compo USING (dhash)),
grp AS (SELECT comp, MIN(media_id) AS group_id,
               COUNT(*) AS group_size
        FROM withc GROUP BY comp),
ex AS (SELECT dhash, COUNT(*) AS exact_size FROM h GROUP BY dhash)
SELECT withc.media_id AS id, grp.group_id,
       CAST(grp.group_size AS BIGINT) AS group_size,
       CAST(ex.exact_size AS BIGINT) AS exact_size
FROM withc JOIN grp USING (comp) JOIN ex USING (dhash)
"""


def q_train_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression training on hashed bag-of-words (label:
    lang == 'en'), two full-batch GD rounds replayed by the oracle as
    SQL CTEs — probabilities agree to ~1e-15, hashed at 4 dp."""
    docs = load_table(spark, sf_dir, "documents")
    _, scored = textops.train_linear_classifier(
        docs, F.col("lang") == "en", dims=64, iters=2)
    return scored.select(
        "doc_id", (F.round("prob", 4) + F.lit(0.0)).alias("prob"))


SQL_TRAIN_CLASSIFIER = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents WHERE length(text) > 0),
dl AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
f0 AS (SELECT doc_id,
              CAST(CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) % 64
                   AS INT) AS j,
              COUNT(*) AS c
       FROM toks GROUP BY doc_id, 2),
f AS (SELECT f0.doc_id, f0.j, CAST(c AS DOUBLE) / dl.n AS x
      FROM f0 JOIN dl USING (doc_id)
      UNION ALL SELECT doc_id, 64, 1.0 FROM dl),
y AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents WHERE length(text) > 0),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM y),
g1 AS (SELECT f.j, SUM(f.x * (0.5 - y.y)) / nn.n AS g
       FROM f JOIN y USING (doc_id), nn GROUP BY f.j, nn.n),
w1 AS (SELECT jj.j, COALESCE(-1.0 * g1.g, 0.0) AS w
       FROM range(65) jj(j) LEFT JOIN g1 ON g1.j = jj.j),
s2 AS (SELECT f.doc_id, SUM(f.x * w1.w) AS s
       FROM f JOIN w1 ON w1.j = f.j GROUP BY f.doc_id),
r2 AS (SELECT s2.doc_id, 1.0 / (1.0 + exp(-s2.s)) - y.y AS r
       FROM s2 JOIN y USING (doc_id)),
g2 AS (SELECT f.j, SUM(f.x * r2.r) / nn.n AS g
       FROM f JOIN r2 USING (doc_id), nn GROUP BY f.j, nn.n),
w2 AS (SELECT w1.j, w1.w - COALESCE(g2.g, 0.0) AS w
       FROM w1 LEFT JOIN g2 ON g2.j = w1.j),
sf AS (SELECT f.doc_id, SUM(f.x * w2.w) AS s
       FROM f JOIN w2 ON w2.j = f.j GROUP BY f.doc_id)
SELECT doc_id, ROUND(1.0 / (1.0 + exp(-s)), 4) + 0.0 AS prob FROM sf
"""


def q_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haitsma-Kalker audio fingerprint per clip (112 sign-of-energy-
    delta bits over 29 75%-overlapped frames × 4 DFT bands, packed as
    two 56-bit words): the decode→frame→DFT→threshold path must
    reproduce the hash the oracle derives directly from the source
    samples — hash-exact (sign comparisons of O(0.1) energy deltas
    are immune to the engines' ≤1-ulp libm drift)."""
    media = _embeddings_as_media(spark, sf_dir, "audio")
    fp = mm.audio_fingerprint(media)
    return fp.select("media_id",
                     F.col("fp")[0].alias("fp0"),
                     F.col("fp")[1].alias("fp1"))


SQL_AUDIO_FP = """
WITH sq AS (
  SELECT e.vec_id AS media_id, f.f, k.k,
         SUM(CAST(e.embedding[2*f.f + t.t + 1] AS DOUBLE)
             * cos(2*pi()*k.k*t.t/8)) AS re,
         SUM(CAST(e.embedding[2*f.f + t.t + 1] AS DOUBLE)
             * sin(2*pi()*k.k*t.t/8)) AS im
  FROM embeddings e, range(29) f(f), range(1, 5) k(k), range(8) t(t)
  GROUP BY e.vec_id, f.f, k.k),
en AS (SELECT media_id, f, k, re*re + im*im AS e FROM sq),
bt AS (SELECT a.media_id, a.f*4 + a.k - 1 AS p, (b.e > a.e) AS bit
       FROM en a JOIN en b ON b.media_id = a.media_id
                          AND b.f = a.f + 1 AND b.k = a.k
       WHERE a.f < 28)
SELECT media_id,
       CAST(SUM(CASE WHEN bit AND p < 56
            THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS fp0,
       CAST(SUM(CASE WHEN bit AND p >= 56
            THEN CAST(1 AS BIGINT) << (p - 56) ELSE 0 END) AS BIGINT)
           AS fp1
FROM bt GROUP BY media_id
"""


def q_audio_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup mining with PLANTED duplicates: each clip ships
    as original (id), exact copy (id+100000), and 2× gain (id+200000 —
    fingerprint-INVARIANT by the HK sign-of-delta construction, so the
    gained copy sits at Hamming 0). The band join must recover the
    planted triangles; the oracle derives the same fingerprints and
    verifies all pairs independently."""
    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32)
                clip = mm.encode_raw_audio(a, rate=64)
                gained = mm.encode_raw_audio(a * np.float32(2.0),
                                             rate=64)
                rows.append((int(vec_id), "audio", clip, "audio/raw"))
                rows.append((int(vec_id) + 100000, "audio", clip,
                             "audio/raw"))
                rows.append((int(vec_id) + 200000, "audio", gained,
                             "audio/raw"))
            yield pd.DataFrame(rows, columns=["media_id", "kind",
                                              "content", "mime"])

    media = emb.mapInPandas(
        gen, schema="media_id long, kind string, content binary, mime string")
    out = mm.audio_near_dup(media, max_hamming=2)
    return out.select("id_a", "id_b",
                      F.col("hamming").cast("long").alias("hamming"))


SQL_AUDIO_DUP_PAIRS = """
WITH m AS (
  SELECT vec_id AS media_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000,
         list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
  FROM embeddings),
sq AS (
  SELECT m.media_id, f.f, k.k,
         SUM(CAST(m.embedding[2*f.f + t.t + 1] AS DOUBLE)
             * cos(2*pi()*k.k*t.t/8)) AS re,
         SUM(CAST(m.embedding[2*f.f + t.t + 1] AS DOUBLE)
             * sin(2*pi()*k.k*t.t/8)) AS im
  FROM m, range(29) f(f), range(1, 5) k(k), range(8) t(t)
  GROUP BY m.media_id, f.f, k.k),
en AS (SELECT media_id, f, k, re*re + im*im AS e FROM sq),
bt AS (SELECT a.media_id, a.f*4 + a.k - 1 AS p, (b.e > a.e) AS bit
       FROM en a JOIN en b ON b.media_id = a.media_id
                          AND b.f = a.f + 1 AND b.k = a.k
       WHERE a.f < 28),
h AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN bit AND p < 56
              THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS fp0,
         CAST(SUM(CASE WHEN bit AND p >= 56
              THEN CAST(1 AS BIGINT) << (p - 56) ELSE 0 END) AS BIGINT)
             AS fp1
  FROM bt GROUP BY media_id)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.fp0, b.fp0))
            + bit_count(xor(a.fp1, b.fp1)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.fp0, b.fp0)) + bit_count(xor(a.fp1, b.fp1)) <= 2
"""


def q_audio_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent Hamming index probe for ARRAY codes (r7): the
    112-bit Haitsma-Kalker audio fingerprints of the originals are
    indexed (multi-word nibble banding, md5 refs); exact copies and
    2×-gained variants (fingerprint-invariant) probe it — every delta
    clip must find exactly its original at Hamming 0. The oracle
    derives the same fingerprints and all-pairs-verifies the
    delta × index relation."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")

    def gen(variants):
        def g(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for vec_id, embedding in zip(pdf["vec_id"],
                                             pdf["embedding"]):
                    a = np.asarray(embedding, dtype=np.float32)
                    if 0 in variants:
                        rows.append((int(vec_id), "audio",
                                     mm.encode_raw_audio(a, rate=64),
                                     "audio/raw"))
                    if 1 in variants:
                        rows.append((int(vec_id) + 100000, "audio",
                                     mm.encode_raw_audio(a, rate=64),
                                     "audio/raw"))
                    if 2 in variants:
                        rows.append((int(vec_id) + 200000, "audio",
                                     mm.encode_raw_audio(
                                         a * np.float32(2.0), rate=64),
                                     "audio/raw"))
                yield pd.DataFrame(rows, columns=["media_id", "kind",
                                                  "content", "mime"])
        return g

    schema = "media_id long, kind string, content binary, mime string"
    originals = emb.mapInPandas(gen({0}), schema=schema)
    delta = emb.mapInPandas(gen({1, 2}), schema=schema)
    d = _fixture_tmp(spark, "audidx")
    dedup.hamming_index_write(mm.audio_fingerprint(originals),
                              "t_audidx", os.path.join(d, "idx"),
                              id_col="media_id", code_col="fp",
                              max_hamming=2, bits=112, word_bits=56,
                              n_buckets=8)
    return dedup.hamming_index_probe(mm.audio_fingerprint(delta),
                                     "t_audidx", id_col="media_id",
                                     code_col="fp")


SQL_AUDIO_INDEX_PROBE = """
WITH m AS (
  SELECT vec_id AS media_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000,
         list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
  FROM embeddings),
sq AS (
  SELECT m.media_id, f.f, k.k,
         SUM(CAST(m.embedding[2*f.f + t.t + 1] AS DOUBLE)
             * cos(2*pi()*k.k*t.t/8)) AS re,
         SUM(CAST(m.embedding[2*f.f + t.t + 1] AS DOUBLE)
             * sin(2*pi()*k.k*t.t/8)) AS im
  FROM m, range(29) f(f), range(1, 5) k(k), range(8) t(t)
  GROUP BY m.media_id, f.f, k.k),
en AS (SELECT media_id, f, k, re*re + im*im AS e FROM sq),
bt AS (SELECT a.media_id, a.f*4 + a.k - 1 AS p, (b.e > a.e) AS bit
       FROM en a JOIN en b ON b.media_id = a.media_id
                          AND b.f = a.f + 1 AND b.k = a.k
       WHERE a.f < 28),
h AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN bit AND p < 56
              THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS fp0,
         CAST(SUM(CASE WHEN bit AND p >= 56
              THEN CAST(1 AS BIGINT) << (p - 56) ELSE 0 END) AS BIGINT)
             AS fp1
  FROM bt GROUP BY media_id)
SELECT d.media_id AS id_new, i.media_id AS id_old,
       CAST(bit_count(xor(d.fp0, i.fp0))
            + bit_count(xor(d.fp1, i.fp1)) AS INTEGER) AS hamming
FROM h d JOIN h i ON d.media_id >= 100000 AND i.media_id < 100000
WHERE bit_count(xor(d.fp0, i.fp0)) + bit_count(xor(d.fp1, i.fp1)) <= 2
"""


def q_video_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup mining with PLANTED duplicates: each 4-frame
    4×4 clip ships as original (id), exact copy (id+100000), and a
    +1.0-brightened variant (id+200000 — gradient signs survive the
    shift up to float32 tie-rounding, so Hamming stays ≤ 3). The band
    join must recover the planted triangles; the oracle derives the
    same 96-bit fingerprints (two 48-bit words: horizontal + vertical
    gradient signs per frame) from the source vectors (replaying the
    float32 rounding of the brightness shift) and verifies all pairs
    independently."""
    emb = load_table(spark, sf_dir, "embeddings")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vec_id, embedding in zip(pdf["vec_id"], pdf["embedding"]):
                a = np.asarray(embedding, dtype=np.float32).reshape(4, 4, 4)
                clip = mm.encode_raw_video(a)
                bright = mm.encode_raw_video(a + np.float32(1.0))
                rows.append((int(vec_id), clip))
                rows.append((int(vec_id) + 100000, clip))
                rows.append((int(vec_id) + 200000, bright))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = emb.mapInPandas(gen, schema="media_id long, content binary")
    out = mm.video_near_dup(media, max_hamming=3)
    return out.select("id_a", "id_b",
                      F.col("hamming").cast("long").alias("hamming"))


SQL_VIDEO_DUP_PAIRS = """
WITH m AS (
  SELECT vec_id AS media_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 200000,
         list_transform(embedding,
                        x -> CAST(CAST(x AS DOUBLE) + 1.0 AS FLOAT))
  FROM embeddings),
g AS (
  SELECT 24*n.n + 3*r.r + c.c AS p,
         16*n.n + 4*r.r + c.c + 1 AS i,
         16*n.n + 4*r.r + c.c + 2 AS j
  FROM range(4) n(n), range(4) r(r), range(3) c(c)
  UNION ALL
  SELECT 24*n.n + 12 + 4*r.r + c.c,
         16*n.n + 4*r.r + c.c + 1,
         16*n.n + 4*r.r + c.c + 5
  FROM range(4) n(n), range(3) r(r), range(4) c(c)),
h AS (
  SELECT media_id,
         CAST(SUM(CASE
              WHEN CAST(m.embedding[g.i] AS DOUBLE)
                 < CAST(m.embedding[g.j] AS DOUBLE) AND g.p < 48
              THEN CAST(1 AS BIGINT) << g.p ELSE 0 END) AS BIGINT)
             AS fp0,
         CAST(SUM(CASE
              WHEN CAST(m.embedding[g.i] AS DOUBLE)
                 < CAST(m.embedding[g.j] AS DOUBLE) AND g.p >= 48
              THEN CAST(1 AS BIGINT) << (g.p - 48) ELSE 0 END)
              AS BIGINT) AS fp1
  FROM m, g GROUP BY media_id)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.fp0, b.fp0))
            + bit_count(xor(a.fp1, b.fp1)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.fp0, b.fp0)) + bit_count(xor(a.fp1, b.fp1)) <= 3
"""


EXT_QUERIES = {
    "nearest_time": q_nearest_time,
    "rolling_window": q_rolling_window,
    "union_concat": q_union_concat,
    "drop_duplicates": q_drop_duplicates,
    "regional_revenue": q_regional_revenue,
    "topk_per_group": q_topk_per_group,
    "cube_rollup": q_cube_rollup,
    "lod_pyramid": q_lod_pyramid,
    "regrid_coarse": q_regrid_coarse,
    "json_extract": q_json_extract,
    "checksum": q_checksum,
    "path_grammar": q_path_grammar,
    "tile_pack": q_tile_pack,
    "sessionize": q_sessionize,
    "percentiles": q_percentiles,
    "ingest_geotiff": q_ingest_geotiff,
    "ingest_netcdf": q_ingest_netcdf,
    "ingest_netcdf4": q_ingest_netcdf4,
    "ingest_grib2": q_ingest_grib2,
    "ingest_grib2_png": q_ingest_grib2_png,
    "ingest_grib2_aec": q_ingest_grib2_aec,
    "ingest_grib2_lcc": q_ingest_grib2_lcc,
    "ingest_grib2_reduced": q_ingest_grib2_reduced,
    "ingest_grib2_j2k": q_ingest_grib2_j2k,
    "zarr_scan": q_zarr_scan,
    "zarr_blosc": q_zarr_blosc,
    "zarr_v3": q_zarr_v3,
    "zarr_forder": q_zarr_forder,
    "zarr_v3_fill": q_zarr_v3_fill,
    "gopher_rules": q_gopher_rules,
    "c4_rules": q_c4_rules,
    "fasttext_score": q_fasttext_score,
    "bpe_train": q_bpe_train,
    "webmercator_tiles": q_webmercator_tiles,
    "utm_project": q_utm_project,
    "regrid_bilinear": q_regrid_bilinear,
    "fingerprints": q_fingerprints,
    "token_counts": q_token_counts,
    "pack_sequences": q_pack_sequences,
    "knn_all_topk": q_knn_all_topk,
    "image_features": q_image_features,
    "image_resize": q_image_resize,
    "image_resize_bl": q_image_resize_bl,
    "image_features_png": q_image_features_png,
    "image_features_jpeg": q_image_features_jpeg,
    "audio_features": q_audio_features,
    "audio_spectrum": q_audio_spectrum,
    "audio_wav": q_audio_wav,
    "video_frames": q_video_frames,
    "video_scenes": q_video_scenes,
    "mjpeg_scenes": q_mjpeg_scenes,
    "embedding_near_dup": q_embedding_near_dup,
    "windowed_agg": q_windowed_agg,
    "minhash_dedup": q_minhash_dedup,
    "ngram_jaccard": q_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "line_dedup": q_line_dedup,
    "dup_spans": q_dup_spans,
    "url_dedup": q_url_dedup,
    "semdedup": q_semdedup,
    "kmeans_fit": q_kmeans_fit,
    "bm25_topk": q_bm25_topk,
    "random_proj": q_random_proj,
    "embed_cov": q_embed_cov,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "image_dhash": q_image_dhash,
    "image_dup_pairs": q_image_dup_pairs,
    "image_index_probe": q_image_index_probe,
    "image_index_lookup": q_image_index_lookup,
    "dup_groups": q_dup_groups,
    "ingest_warc": q_ingest_warc,
    "warc_pipeline": q_warc_pipeline,
    "corpus_pipeline": q_corpus_pipeline,
    "minhash_retract": q_minhash_retract,
    "ann_retract": q_ann_retract,
    "image_retract": q_image_retract,
    "minhash_retract_docs": q_minhash_retract_docs,
    "ann_retract_docs": q_ann_retract_docs,
    "image_retract_docs": q_image_retract_docs,
    "ingest_jsonl": q_ingest_jsonl,
    "ivf_index": q_ivf_index,
    "ivf_probe_batch": q_ivf_probe_batch,
    "ivf_index_trained": q_ivf_index_trained,
    "ivf_filtered_probe": q_ivf_filtered_probe,
    "ann_recall": q_ann_recall,
    "ann_recall_pq": q_ann_recall_pq,
    "ann_recall_refine": q_ann_recall_refine,
    "hamming_recall": q_hamming_recall,
    "train_classifier": q_train_classifier,
    "audio_fp": q_audio_fp,
    "audio_dup_pairs": q_audio_dup_pairs,
    "audio_index_probe": q_audio_index_probe,
    "video_dup_pairs": q_video_dup_pairs,
    "bpe_tokenize": q_bpe_tokenize,
    "chunk_docs": q_chunk_docs,
    "html_text": q_html_text,
    "pii_scrub": q_pii_scrub,
    "repetition": q_repetition,
    "hash_sample": q_hash_sample,
    "split_assign": q_split_assign,
    "cluster_split": q_cluster_split,
    "shuffle_shards": q_shuffle_shards,
    "token_budget": q_token_budget,
    "token_budget_epochs": q_token_budget_epochs,
    "corpus_stats": q_corpus_stats,
    "minhash_recall": q_minhash_recall,
    "shard_export": q_shard_export,
    "token_shards": q_token_shards,
    "token_takedown": q_token_takedown,
    "token_pipeline": q_token_pipeline,
    "corpus_products": q_corpus_products,
    "takedown_e2e": q_takedown_e2e,
    "takedown_hold": q_takedown_hold,
    "takedown_report": q_takedown_report,
    "token_retire": q_token_retire,
    "corpus_expire": q_corpus_expire,
    "ann_tune": q_ann_tune,
    "ann_tune_pq": q_ann_tune_pq,
    "minhash_tune": q_minhash_tune,
    "quality_threshold": q_quality_threshold,
    "training_pipeline": q_training_pipeline,
    "source_mix": q_source_mix,
    "temperature_mix": q_temperature_mix,
    "decontaminate": q_decontaminate,
    "fuzzy_decon": q_fuzzy_decon,
    "bow_score": q_bow_score,
    "approx_distinct": q_approx_distinct,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "language_id": q_language_id,
    "knn_lsh": q_knn_lsh,
    "knn_ivf": q_knn_ivf,
    "knn_ivf_pq": q_knn_ivf_pq,
    "ivf_pq_index": q_ivf_pq_index,
    "ivf_pq_probe_batch": q_ivf_pq_probe_batch,
    "ivf_pq_refine": q_ivf_pq_refine,
    "ivf_pq_trained": q_ivf_pq_trained,
    "ivf_pq_refine_batch": q_ivf_pq_refine_batch,
    "mvt_geom": q_mvt_geom,
    "mvt_tiles": q_mvt_tiles,
    "feed_health": q_feed_health,
    "vocab": q_vocab,
    "lm_score": q_lm_score,
    "lm_bigram": q_lm_bigram,
    "file_times": q_file_times,
    "quantize_emb": q_quantize_emb,
}

EXT_ORACLES = {
    "approx_distinct": SQL_APPROX_DISTINCT,
    "nearest_time": SQL_NEAREST_TIME,
    "rolling_window": SQL_ROLLING_WINDOW,
    "union_concat": SQL_UNION_CONCAT,
    "drop_duplicates": SQL_DROP_DUPLICATES,
    "regional_revenue": SQL_REGIONAL_REVENUE,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "cube_rollup": SQL_CUBE_ROLLUP,
    "lod_pyramid": SQL_LOD_PYRAMID,
    "regrid_coarse": SQL_REGRID_COARSE,
    "json_extract": SQL_JSON_EXTRACT,
    "checksum": SQL_CHECKSUM,
    "path_grammar": SQL_PATH_GRAMMAR,
    "tile_pack": SQL_TILE_PACK,
    "sessionize": SQL_SESSIONIZE,
    "percentiles": SQL_PERCENTILES,
    "ingest_geotiff": SQL_INGEST_GEOTIFF,
    "ingest_netcdf": SQL_INGEST_NETCDF,
    "ingest_netcdf4": SQL_INGEST_NETCDF4,
    "ingest_grib2": SQL_INGEST_GRIB2,
    "ingest_grib2_png": SQL_INGEST_GRIB2_PNG,
    "ingest_grib2_aec": SQL_INGEST_GRIB2_AEC,
    "ingest_grib2_lcc": SQL_INGEST_GRIB2_LCC,
    "ingest_grib2_reduced": SQL_INGEST_GRIB2_REDUCED,
    "ingest_grib2_j2k": SQL_INGEST_GRIB2_J2K,
    "zarr_scan": SQL_ZARR_SCAN,
    "zarr_blosc": SQL_ZARR_BLOSC,
    "zarr_v3": SQL_ZARR_V3,
    "zarr_forder": SQL_ZARR_FORDER,
    "zarr_v3_fill": SQL_ZARR_V3_FILL,
    "gopher_rules": SQL_GOPHER_RULES,
    "c4_rules": SQL_C4_RULES,
    "fasttext_score": SQL_FASTTEXT_SCORE,
    "bpe_train": SQL_BPE_TRAIN,
    "webmercator_tiles": SQL_WEBMERCATOR_TILES,
    "utm_project": SQL_UTM_PROJECT,
    "regrid_bilinear": SQL_REGRID_BILINEAR,
    "fingerprints": SQL_FINGERPRINTS,
    "token_counts": SQL_TOKEN_COUNTS,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "knn_all_topk": SQL_KNN_ALL_TOPK,
    "image_features": SQL_IMAGE_FEATURES,
    "image_resize": SQL_IMAGE_RESIZE,
    "image_resize_bl": SQL_IMAGE_RESIZE_BL,
    "image_features_png": SQL_IMAGE_FEATURES_PNG,
    "image_features_jpeg": SQL_IMAGE_FEATURES_JPEG,
    "audio_features": SQL_AUDIO_FEATURES,
    "audio_spectrum": SQL_AUDIO_SPECTRUM,
    "audio_wav": SQL_AUDIO_WAV,
    "video_frames": SQL_VIDEO_FRAMES,
    "video_scenes": SQL_VIDEO_SCENES,
    "mjpeg_scenes": SQL_MJPEG_SCENES,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "windowed_agg": SQL_WINDOWED_AGG,
    "minhash_dedup": SQL_MINHASH_DEDUP,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "line_dedup": SQL_LINE_DEDUP,
    "dup_spans": SQL_DUP_SPANS,
    "url_dedup": SQL_URL_DEDUP,
    "semdedup": SQL_SEMDEDUP,
    "kmeans_fit": SQL_KMEANS_FIT,
    "bm25_topk": SQL_BM25_TOPK,
    "random_proj": SQL_RANDOM_PROJ,
    "embed_cov": SQL_EMBED_COV,
    "asof_join": SQL_ASOF_JOIN,
    "range_join": SQL_RANGE_JOIN,
    "image_dhash": SQL_IMAGE_DHASH,
    "image_dup_pairs": SQL_IMAGE_DUP_PAIRS,
    "image_index_probe": SQL_IMAGE_INDEX_PROBE,
    "image_index_lookup": SQL_IMAGE_INDEX_LOOKUP,
    "dup_groups": SQL_DUP_GROUPS,
    "ingest_warc": SQL_INGEST_WARC,
    "warc_pipeline": SQL_WARC_PIPELINE,
    "corpus_pipeline": SQL_CORPUS_PIPELINE,
    "minhash_retract": SQL_MINHASH_RETRACT,
    "ann_retract": SQL_ANN_RETRACT,
    "image_retract": SQL_IMAGE_RETRACT,
    "minhash_retract_docs": SQL_MINHASH_RETRACT_DOCS,
    "ann_retract_docs": SQL_ANN_RETRACT_DOCS,
    "image_retract_docs": SQL_IMAGE_RETRACT_DOCS,
    "ingest_jsonl": SQL_INGEST_JSONL,
    "ivf_index": SQL_KNN_IVF,
    "ivf_probe_batch": SQL_IVF_PROBE_BATCH,
    "ivf_index_trained": SQL_IVF_INDEX_TRAINED,
    "ivf_filtered_probe": SQL_IVF_FILTERED_PROBE,
    "ann_recall": SQL_ANN_RECALL,
    "ann_recall_pq": SQL_ANN_RECALL_PQ,
    "ann_recall_refine": SQL_ANN_RECALL_REFINE,
    "hamming_recall": SQL_HAMMING_RECALL,
    "train_classifier": SQL_TRAIN_CLASSIFIER,
    "audio_fp": SQL_AUDIO_FP,
    "audio_dup_pairs": SQL_AUDIO_DUP_PAIRS,
    "audio_index_probe": SQL_AUDIO_INDEX_PROBE,
    "video_dup_pairs": SQL_VIDEO_DUP_PAIRS,
    "bpe_tokenize": SQL_BPE_TOKENIZE,
    "chunk_docs": SQL_CHUNK_DOCS,
    "html_text": SQL_HTML_TEXT,
    "pii_scrub": SQL_PII_SCRUB,
    "repetition": SQL_REPETITION,
    "hash_sample": SQL_HASH_SAMPLE,
    "split_assign": SQL_SPLIT_ASSIGN,
    "cluster_split": SQL_CLUSTER_SPLIT,
    "shuffle_shards": SQL_SHUFFLE_SHARDS,
    "token_budget": SQL_TOKEN_BUDGET,
    "token_budget_epochs": SQL_TOKEN_BUDGET_EPOCHS,
    "corpus_stats": SQL_CORPUS_STATS,
    "minhash_recall": SQL_MINHASH_RECALL,
    "shard_export": SQL_SHARD_EXPORT,
    "token_shards": SQL_TOKEN_SHARDS,
    "token_takedown": SQL_TOKEN_TAKEDOWN,
    "token_pipeline": SQL_TOKEN_PIPELINE,
    "corpus_products": SQL_CORPUS_PRODUCTS,
    "takedown_e2e": SQL_TAKEDOWN_E2E,
    "takedown_hold": SQL_TAKEDOWN_HOLD,
    "takedown_report": SQL_TAKEDOWN_REPORT,
    "token_retire": SQL_TOKEN_RETIRE,
    "corpus_expire": SQL_CORPUS_EXPIRE,
    "ann_tune": SQL_ANN_TUNE,
    "ann_tune_pq": SQL_ANN_TUNE_PQ,
    "minhash_tune": SQL_MINHASH_TUNE,
    "quality_threshold": SQL_QUALITY_THRESHOLD,
    "training_pipeline": SQL_TRAINING_PIPELINE,
    "source_mix": SQL_SOURCE_MIX,
    "temperature_mix": SQL_TEMPERATURE_MIX,
    "decontaminate": SQL_DECONTAMINATE,
    "fuzzy_decon": SQL_FUZZY_DECON,
    "bow_score": SQL_BOW_SCORE,
    "simhash": SQL_SIMHASH,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "language_id": SQL_LANGUAGE_ID,
    "knn_lsh": SQL_KNN_LSH,
    "knn_ivf": SQL_KNN_IVF,
    "knn_ivf_pq": SQL_KNN_IVF_PQ,
    "ivf_pq_index": SQL_KNN_IVF_PQ,
    "ivf_pq_probe_batch": SQL_IVF_PQ_PROBE_BATCH,
    "ivf_pq_refine": SQL_IVF_PQ_REFINE,
    "ivf_pq_trained": SQL_IVF_PQ_TRAINED,
    "ivf_pq_refine_batch": SQL_IVF_PQ_REFINE_BATCH,
    "mvt_geom": SQL_MVT_GEOM,
    "mvt_tiles": SQL_MVT_TILES,
    "feed_health": SQL_FEED_HEALTH,
    "vocab": SQL_VOCAB,
    "lm_score": SQL_LM_SCORE,
    "lm_bigram": SQL_LM_BIGRAM,
    "file_times": SQL_FILE_TIMES,
    "quantize_emb": SQL_QUANTIZE_EMB,
}
