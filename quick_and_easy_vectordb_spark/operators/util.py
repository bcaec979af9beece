"""Operator-level utilities."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

# Treat absurd plan-stat estimates (missing stats degrade to multi-PB
# placeholders) as unknown rather than requesting millions of partitions.
_STATS_UNKNOWN_BYTES = 1 << 50
_MAX_SCALED_PARTITIONS = 4096


def scaled_shuffle_partitions(
    df: DataFrame, target_bytes: int = 16 << 20
) -> int | None:
    """Partition count proportional to ``df``'s optimizer-estimated
    size: ceil(sizeInBytes / target_bytes), floored at the session's
    ``spark.sql.shuffle.partitions`` (the cluster's cores, see
    session.py) and capped at 4096.

    Why: a fixed shuffle-partition count is a spill cliff. A window or
    aggregation over N rows sorts N/partitions rows per task; once that
    outgrows per-task execution memory, wall-clock jumps ~3x from sort
    spill (measured warm on the as-of shape at 75M union rows: 12.7s
    with too few partitions vs 10.5s at 64+, flat through 256 — part of
    the round-4 SCALING.md 30x cliff; the rest was first-big-run JVM
    warmup). AQE only ever COALESCES below the static setting, so the
    static number is a hard cap; this derives a data-proportional count
    from plan statistics instead (free at plan time — no job). ``target_bytes`` is deliberately
    small relative to task memory because optimizer row-width estimates
    undercount the in-memory sort footprint ~2-4x. Returns ``None``
    when the estimate is unavailable or degenerate, or when the default
    already suffices — callers then skip the explicit repartition.
    """
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — stats are best-effort
        return None
    if size <= 0 or size >= _STATS_UNKNOWN_BYTES:
        return None
    default = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n = min(_MAX_SCALED_PARTITIONS, math.ceil(size / target_bytes))
    return n if n > default else None


def _size_conf(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m',
    '1g', ...) into bytes."""
    v = v.strip().lower()
    for suf, m in (("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30),
                   ("mb", 1 << 20), ("kb", 1 << 10), ("p", 1 << 50),
                   ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20),
                   ("k", 1 << 10), ("b", 1)):
        if v.endswith(suf):
            return int(float(v[: -len(suf)]) * m)
    return int(v)


def _scan_splits(spark: SparkSession, lengths: list[int]) -> int:
    """Scan partition count of a file source whose files have these
    byte ``lengths`` — Spark's own split and packing
    (FilePartition.maxSplitBytes and getFilePartitions), evaluated in
    pure Python against the session's current conf. Every file adds
    ``openCostInBytes`` to the bytes per core that size a split; each
    file is cut into split-sized pieces; the pieces, largest first, are
    packed into partitions, each piece charged its length plus the open
    cost, and a partition closes when the next piece would overflow it.
    A whole piece fills a partition by itself, so only the files' tails
    are packed."""
    max_split = _size_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    open_cost = _size_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    core_bytes = sum(n + open_cost for n in lengths) // max(
        spark.sparkContext.defaultParallelism, 1
    )
    split = min(max_split, max(open_cost, core_bytes))
    parts = sum(n // split for n in lengths)
    used = 0
    for tail in sorted((n % split for n in lengths if n % split), reverse=True):
        if used and used + tail > split:
            parts += 1
            used = 0
        used += tail + open_cost
    return max(1, parts + (1 if used else 0))


def plan_scan_splits(df: DataFrame) -> int:
    """Scan partition count of ``df``'s widest file-scan leaf: the split
    and packing rules applied to the files of every ``HadoopFsRelation``
    leaf of the optimized plan, largest count wins. A plan with no
    file-scan leaf counts as one split.

    Plan-time only — no RDD conversion, no job. The leaves survive any
    select/filter/join on top of the scan, so every derived frame gets
    the same answer as the scan itself. A union counts its widest scan,
    not the sum of its inputs' partitions: a single-split scan unioned
    with a few generated rows is still one split of real work."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    splits = 1
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            continue
        files = rel.location().allFiles().iterator()
        lengths = []
        while files.hasNext():
            lengths.append(int(files.next().getLen()))
        splits = max(splits, _scan_splits(df.sparkSession, lengths))
    return splits


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition a DataFrame up to the cluster's default
    parallelism if its scan has fewer splits (``plan_scan_splits``).

    Why: a small parquet table arrives as a single input split, so a
    CPU-heavy projection chain (md5 shingling, signature computation)
    would run on ONE core no matter how many the cluster has. At 100 TB
    the scan naturally has thousands of splits and this is a no-op
    (never repartitions downward); on small inputs it buys full CPU
    fan-out for one tiny shuffle of the input rows.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if plan_scan_splits(df) < target:
        return df.repartition(target)
    return df
