"""Incremental ANN index maintenance under streaming ingest.

The reference rebuilds nothing — every search is a full scan of the
in-session pandas table (reference app.py:40-48), so "index
maintenance" doesn't exist there. At 100 TB the index IS the product:
a bucket-partitioned parquet layout (operators/ann.py:write_lsh_index)
where probing = partition pruning. This module keeps that index fresh
as new vectors stream in, without ever rebuilding it from scratch:

- ``stream_lsh_index_maintenance``: a Structured Streaming query that
  assigns each arriving vector its LSH bucket (pure Catalyst
  expression — the same ``lsh_signature`` the batch builder uses, so
  incremental and full-rebuild indexes are bit-identical) and appends
  into the bucket-partitioned layout. Exactly-once: the checkpoint
  tracks source offsets and the parquet file-sink commit log makes
  replayed batches invisible to readers.

- ``compact_lsh_index``: streaming appends create the classic
  small-file problem — every micro-batch adds one file per touched
  bucket, and a month of micro-batches turns each bucket directory
  into thousands of KB-sized files whose open/footer overhead
  dominates probe latency. Compaction rewrites each bucket into
  O(bucket_size / target) files. It writes to a NEW path (Spark
  cannot atomically overwrite a path it is reading); the caller swaps
  directories (an fs rename — atomic on HDFS/object-store manifest
  commits) between streaming restarts.

Cost: a build writes one directory, one parquet file and one ``.crc``
per bucket a task touches (about 250 buckets' worth for 4,000 rows at
8 planes), plus the checkpoint and file-sink logs. Without the native
libhadoop, Hadoop's local FileSystem forked ``chmod`` for each of
those, about 810 process starts per build. ``session.get_spark`` binds
the ``file`` scheme to the engine's java.nio class
(functions/NioLocalFileSystem.java), which sets the same modes with
no process start; on a 4-core host that took a one-process build from
about 4.2 s to 1.5 s of ``addBatch``. A session built elsewhere keeps
Hadoop's classes and that cost. Repartitioning by bucket before the
sink spreads the files over more tasks but does not cut their number,
so it is not done.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.operators.ann import lsh_signature
from quick_and_easy_vectordb_spark.streaming.ingest import (
    canonicalize_vectors,
    read_vectors_stream,
)

__all__ = ["stream_lsh_index_maintenance", "compact_lsh_index", "read_lsh_index"]


def stream_lsh_index_maintenance(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint: str,
    num_planes: int = 8,
    dim: int = 64,
):
    """Start a streaming query appending LSH-bucketed vectors into the
    partitioned index. Bucket assignment is per-row Catalyst math (no
    shuffle, no state) — the stream stays embarrassingly parallel and
    the sink's ``partitionBy`` routes rows to bucket directories.

    Returns the started StreamingQuery; caller awaits/stops it."""
    canon = canonicalize_vectors(read_vectors_stream(spark, source_dir))
    bucketed = canon.withColumn(
        "lsh_bucket", lsh_signature("embedding", num_planes, dim)
    )
    return (
        bucketed.writeStream.format("parquet")
        .option("path", index_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("lsh_bucket")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def compact_lsh_index(
    spark: SparkSession,
    index_path: str,
    dest_path: str,
    files_per_bucket: int = 1,
) -> None:
    """Rewrite the index with approximately ``files_per_bucket`` files
    per bucket directory. One shuffle, keyed on the bucket
    (hash-distributing buckets across executors so a hot bucket doesn't
    serialize the whole rewrite), then a partitioned write that
    preserves the pruning layout exactly.

    "Approximately": ``repartition`` hash-distributes the (bucket,
    salt) tuples, so distinct tuples can collide into the same shuffle
    partition and a bucket directory may get fewer (or unevenly packed)
    files. The pruning layout (one directory per bucket) is exact
    either way; only the per-directory file count is best-effort."""
    df = read_lsh_index(spark, index_path)
    n_buckets = max(1, df.select("lsh_bucket").distinct().count())
    salt = F.pmod(F.xxhash64("vec_id"), F.lit(files_per_bucket))
    (
        df.repartition(files_per_bucket * n_buckets, F.col("lsh_bucket"), salt)
        .write.partitionBy("lsh_bucket")
        .mode("overwrite")
        .parquet(dest_path)
    )


def read_lsh_index(spark: SparkSession, index_path: str) -> DataFrame:
    """Scan of the maintained index; a ``lsh_bucket IN (...)`` probe
    on top of this prunes to the probed directories only.

    The explicit schema matters: without it, partition-directory type
    inference would parse the bucket signature ``"0011"`` as integer
    11 — silently corrupting every bucket with a leading zero (and
    breaking probe equality on all of them)."""
    schema = (
        "vec_id bigint, embedding array<double>, label int, "
        "norm double, lsh_bucket string"
    )
    return spark.read.schema(schema).parquet(index_path)
