"""Table catalog over the driver's parquet star schema.

``load_table(spark, sf_dir, name)`` is the single entry point every
query uses; it returns a lazy DataFrame straight off the parquet scan so
Catalyst can push filters and prune columns into the file source (the
dominant win at 100 TB — e.g. a query that never touches ``embedding``
must not read the ~0.3 KB/row vector payload).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Plan-time metadata cache (round-14 optimization): building a scan
# with an inferred schema costs a parquet-footer read + analysis on
# EVERY load_table call (~130 ms measured, x several tables x several
# bench repeats per query). The schema and the two normalization
# decisions are pure functions of the file bytes, so they are memoized
# per (path, mtime, size); the scan itself stays a lazy, uncached
# parquet source — no data or results are ever cached here, and a
# rewritten file (different mtime/size) re-infers.
_SCAN_META: dict[tuple, tuple] = {}


def infer_meta(spark: SparkSession, path: str, name: str) -> tuple:
    """(schema, ts_is_long, ntz_cols) of the parquet at ``path``."""
    schema = spark.read.parquet(path).schema
    ts_is_long = name == "events" and isinstance(
        schema["ts"].dataType, T.LongType
    )
    ntz_cols = tuple(
        f.name
        for f in schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    )
    return schema, ts_is_long, ntz_cols


def _scan_meta(spark: SparkSession, path: str, name: str) -> tuple:
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    hit = _SCAN_META.get(key)
    if hit is None:
        hit = infer_meta(spark, path, name)
        if len(_SCAN_META) >= 512:  # bound (ADVICE r14): keyed on file
            _SCAN_META.clear()      # identity, rewrites accumulate
        _SCAN_META[key] = hit
    return hit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table. No caching, no collect — the
    optimizer sees the raw file source.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations, and both are normalized here to a session-tz
    TimestampType (session tz is pinned to UTC in session.py, so the
    cast is a pure type change, never a wall-clock shift):

    * parquet TIMESTAMP(NANOS) — Spark's vectorized reader rejects it,
      so it is read as raw nanos (legacy ``nanosAsLong`` conf, set once
      in ``session.get_spark``) and floored to micros, the same
      truncation DuckDB applies to TIMESTAMP_NS;
    * parquet timestamp[us] with isAdjustedToUTC=false — Spark reads it
      as TIMESTAMP_NTZ, which functions like ``unix_micros`` reject;
      cast to TimestampType.

    Downstream code can therefore always assume ``ts`` is a plain
    TIMESTAMP in UTC."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        schema, ts_is_long, ntz_cols = _scan_meta(spark, path, name)
    else:
        # directory-shaped tables (not produced by the fixture
        # generator, but possible for caller-supplied dirs): no stable
        # single-file identity to key the metadata cache on — take the
        # uncached inference path.
        schema, ts_is_long, ntz_cols = infer_meta(spark, path, name)
    return normalize_ts(spark.read.schema(schema).parquet(path), ts_is_long, ntz_cols)


def normalize_ts(
    df: DataFrame, ts_is_long: bool, ntz_cols: tuple[str, ...]
) -> DataFrame:
    """The temporal-column rule ``load_table`` applies, shared with the
    events stream reader: long ``ts`` nanos floored to micros, and
    every TIMESTAMP_NTZ column cast to TIMESTAMP."""
    if ts_is_long:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Uniform invariant for EVERY table: temporal columns are session-tz
    # TIMESTAMP (session tz pinned UTC). The fixtures currently ship
    # orders.o_orderdate / lineitem.l_shipdate / events.ts as NTZ —
    # date-function queries tolerate NTZ, but epoch accessors
    # (unix_micros/unix_timestamp) throw on it, which is exactly how the
    # round-3 fixture drift broke 8 queries. Normalizing here makes the
    # whole engine independent of the writer's isAdjustedToUTC choice.
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view so ``spark.sql`` queries can
    reference them by name (mirrors the driver's DuckDB view setup)."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
