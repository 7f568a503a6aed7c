"""Partitioned media-table store (the multimodal counterpart of
grid_store).

Layout: parquet partitioned by (kind, bucket) with
``bucket = pmod(xxhash64(media_id), n_buckets)`` — what the multimodal
operators' scale story assumes: a decode pass over one modality prunes
to its ``kind=`` partitions and fans out over hash buckets, so task
parallelism is ``n_buckets`` regardless of how media ids cluster, and
re-ingesting a batch replaces only the (kind, bucket) partitions it
touches (the same dynamic-overwrite idempotency primitive the grid
store uses).

At 100 TB: binary payloads dominate — parquet keeps them as raw byte
arrays (no encoding cost), and the bucket count sets a floor on scan
parallelism independent of file sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

MEDIA_COLS = ("media_id", "kind", "content", "mime")


def with_bucket(media: DataFrame, n_buckets: int = 256) -> DataFrame:
    return media.withColumn(
        "bucket", F.pmod(F.xxhash64("media_id"), F.lit(n_buckets))
        .cast("int"))


def write_media(media: DataFrame, path: str, n_buckets: int = 256,
                mode: str = "append") -> None:
    (with_bucket(media, n_buckets)
     .write.mode(mode)
     .partitionBy("kind", "bucket")
     .parquet(path))


def overwrite_media_slice(media: DataFrame, path: str,
                          n_buckets: int = 256) -> None:
    """Dynamic partition overwrite: replaces exactly the (kind, bucket)
    partitions present in ``media`` — re-ingesting a crawl batch is
    idempotent without touching the rest of the table."""
    (with_bucket(media, n_buckets)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("kind", "bucket")
     .parquet(path))


def read_media(spark: SparkSession, path: str,
               kind: str | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    if kind is not None:
        df = df.where(F.col("kind") == kind)   # partition pruning
    return df
