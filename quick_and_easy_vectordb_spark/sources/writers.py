"""Sinks: parquet writers designed for the 100 TB layout story.

The reference has NO write path at all — "Add New Data" mutates a
session-state pandas DataFrame that dies with the browser session
(reference app.py:118; appends never touch disk). The engine makes
persistence a first-class operator instead:

- ``write_corpus``: the canonical corpus layout — parquet partitioned
  by a low-cardinality column (e.g. ``lang`` or a date) so partition
  pruning turns per-slice queries into per-directory reads, with
  rows sorted within files by the primary access key so min/max
  row-group statistics prune file-internal reads too.
- ``append_rows``: the reference's append, done right — an atomic
  parquet ``append`` of just the new rows (O(new)), versus the
  reference's O(N) full-table copy per insert.
- ``write_bucketed``: bucketed table for repeated co-located
  equi-joins — both sides bucketed on the join key join WITHOUT a
  shuffle (requires ``saveAsTable``; bucket metadata lives in the
  catalog, not the files).

Delta Lake would add ACID/compaction/time-travel on top; it is not in
this environment, so the writers stick to built-in parquet (same API
shape: swap ``format("parquet")`` for ``format("delta")``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["write_corpus", "append_rows", "write_bucketed", "read_corpus"]


def write_corpus(
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
    sort_within_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a corpus table as (optionally partitioned) parquet.

    ``sort_within_by`` sorts rows inside each output file so parquet
    row-group min/max statistics are tight — a range predicate on that
    key then skips whole row groups at read time. The sort is
    per-partition (``sortWithinPartitions``), not global: no extra
    shuffle beyond the partitioning itself.
    """
    if sort_within_by is not None:
        df = df.sortWithinPartitions(sort_within_by)
    w = df.write.mode(mode)
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def append_rows(
    df: DataFrame, path: str, partition_by: str | None = None
) -> None:
    """Append rows to an existing parquet corpus — O(rows appended),
    never a rewrite. Parquet append is file-level atomic per task;
    readers see whole files or nothing.

    ``partition_by`` MUST match the existing table's partitioning:
    appending unpartitioned files into a partitioned layout drops the
    new rows from partition-discovery reads (they sit beside the
    ``key=value`` directories, where the discoverer doesn't look) —
    found the hard way by src_corpus_sink_roundtrip's oracle gate."""
    w = df.write.mode("append")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 32,
    sort_by: str | None = None,
) -> None:
    """Persist as a bucketed managed table: joins/aggregations keyed on
    ``bucket_by`` between tables with the same bucketing skip the
    shuffle entirely (Catalyst sees the hashed distribution in the
    catalog). ``sort_by`` additionally pre-sorts buckets, turning a
    sort-merge join's sort phase into a no-op.

    The warehouse dir is per-process scratch (session.py puts it in
    the sources/scratch.py root) while each session's derby metastore
    is private, so a table location left by an earlier session *in
    this process* is invisible to a fresh catalog and makes
    ``saveAsTable`` throw
    LOCATION_ALREADY_EXISTS; clear such orphaned locations before
    writing. Because the warehouse is never shared across processes,
    this cleanup cannot touch a concurrently-running session's data."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
        loc = os.path.join(wh, table.lower()) if wh else None
        if loc and os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(num_buckets, bucket_by)
    if sort_by is not None:
        w = w.sortBy(sort_by)
    w.format("parquet").saveAsTable(table)


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Lazy scan of a written corpus (partition discovery included)."""
    return spark.read.parquet(path)
