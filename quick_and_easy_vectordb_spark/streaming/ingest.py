"""Streaming ingestion into the vector corpus + stream-static joins.

The reference's only write path is an in-memory append
(/root/reference/app.py:105-118, `pd.concat` per submitted chunk).
The engine's streaming-native version of that operator: new vectors
land as files, a Structured Streaming query canonicalizes them
(array<float> → array<double>, precomputed norm) and appends to the
persistent corpus exactly once — checkpoint + file-sink log make
replays idempotent, which `pd.concat` never was.

Stream-static enrichment is the other streaming join Spark offers
besides stream-stream (streaming/windows.py): each micro-batch joins
against a batch DataFrame re-resolved per trigger. The static side
should be dimension-sized; Spark broadcasts it into every batch, so
the stream never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quick_and_easy_vectordb_spark.functions.vector import l2_norm

__all__ = ["read_vectors_stream", "canonicalize_vectors", "stream_vector_ingest",
           "stream_static_enrich"]

VECTOR_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def read_vectors_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of embedding rows (the driver's embeddings
    schema). maxFilesPerTrigger keeps micro-batches bounded so one
    giant backfill directory cannot OOM a single batch."""
    return (
        spark.readStream.schema(VECTOR_SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
    )


def canonicalize_vectors(df: DataFrame) -> DataFrame:
    """Ingest-time canonicalization (SURVEY.md §1.4.1): every vector
    becomes array<double> regardless of source dtype, and the L2 norm
    is precomputed once — cosine queries against the corpus then never
    re-fold the self-dot-product. JVM-side expressions only; works
    identically on batch and streaming frames."""
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return df.select(
        "vec_id",
        vec.alias("embedding"),
        F.col("label"),
        l2_norm("embedding").alias("norm"),
    )


def stream_vector_ingest(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint: str,
):
    """Streaming append into the parquet vector corpus: exactly-once
    via the checkpoint (source offsets) + file-sink commit log, so a
    crashed/restarted query never duplicates vectors — the durable
    version of the reference's session-state append. Partition count
    follows the source; at scale, set a target file size upstream
    rather than coalescing here (a coalesce would serialize the sink).

    Returns the started StreamingQuery; caller awaits/stops it."""
    canon = canonicalize_vectors(read_vectors_stream(spark, source_dir))
    return (
        canon.writeStream.format("parquet")
        .option("path", store_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a dimension
    table. The static side is re-read every trigger (picking up slow
    dimension changes) and broadcast — the stream side never shuffles,
    so this composes with watermarks/windows downstream untouched."""
    return stream.join(F.broadcast(dim), on=on, how=how)
