"""Approximate-nearest-neighbor building blocks — the 100 TB scale
path for similarity search (BASELINE.json "Batch index build via
DataFrame ops"; online ANN serving is explicitly out of scope).

Two families, both pure DataFrame ops:

- Random-hyperplane LSH (SimHash-for-vectors): P fixed hyperplanes →
  P sign bits → bucket string. Index build = one projection (+ optional
  partitioned write); query = probe the query's bucket (and its
  Hamming-≤1 neighbors for recall) with an equi-filter, then exact
  re-rank inside the bucket. Search cost drops from O(N) to
  O(N / 2^P · probes).
- IVF-style coarse quantization: centroid per cell (decimal-exact
  element-wise mean via posexplode), assign query to nearest centroid,
  exact search inside that cell only.

Hyperplanes are generated from a fixed integer formula (not an RNG) so
index build, probe, tests, and the SQL oracle all agree byte-for-byte
with no shared state.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.vector import (
    decimal_squared_l2_sql,
    lsh_bits,
)

__all__ = [
    "hyperplane",
    "lsh_signature",
    "python_lsh_signature",
    "hamming_neighbors",
    "write_lsh_index",
    "centroids_by_key",
]

_DEC = "decimal(30,10)"


def hyperplane(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane #j: values in
    [-0.9, 0.9] derived per-element from md5 — the same keyed-hash
    trick as the hash embedding backend, so planes are well-mixed and
    mutually uncorrelated. (The original LCG-ramp formula produced
    phase-shifted copies of one periodic sequence; the resulting
    correlated sign bits collapsed ~80% of a 200k-row corpus into TWO
    buckets of a possible 2048 — measured while diagnosing a stalled
    30× scale probe. Bucket balance is a correctness-of-scale property
    for every LSH operator here, so the generator is part of the
    engine contract: hyperplanes are materialized as literals on both
    the Spark and oracle sides, which is why any pure-Python formula
    is permissible.)"""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()
        out.append((int(h[:8], 16) / 4294967296.0) * 1.8 - 0.9)
    return out


def lsh_signature(vec_col: str, num_planes: int, dim: int) -> Column:
    """Sign-bit bucket string of a vector column: bit j = 1 iff
    ⟨v, H_j⟩ ≥ 0. One projection, no shuffle, no Python UDF.

    One compiled call (functions/vector.py :func:`lsh_bits`) folds the
    row against all ``num_planes`` hyperplanes in one pass, each sum
    left to right from 0.0, the order :func:`python_lsh_signature`
    uses. A row whose length is not ``dim``, a NULL array or a NULL
    element gets the all-``0`` signature.

    ``vec_col`` must be a plain column name, else ``ValueError``."""
    return lsh_bits(vec_col, [hyperplane(j, dim) for j in range(num_planes)])


def python_lsh_signature(vec: Sequence[float], num_planes: int) -> str:
    """The same signature computed driver-side for a literal query
    vector (used to build the probe predicate). A NaN plane dot signs
    ``1``, as in :func:`lsh_signature`, where SQL orders NaN above
    every double."""
    dim = len(vec)
    out = []
    for j in range(num_planes):
        h = hyperplane(j, dim)
        s = 0.0
        for a, b in zip(vec, h):
            s += a * b
        out.append("0" if s < 0 else "1")
    return "".join(out)


def hamming_neighbors(signature: str, radius: int = 1) -> list[str]:
    """The multi-probe set: the signature plus every signature at
    Hamming distance ≤ radius (radius 1 ⇒ P+1 buckets)."""
    probes = [signature]
    if radius >= 1:
        for i in range(len(signature)):
            flipped = signature[:i] + ("0" if signature[i] == "1" else "1") + signature[i + 1 :]
            probes.append(flipped)
    return probes


def write_lsh_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    mode: str = "overwrite",
) -> None:
    """Materialize the LSH index as parquet partitioned by bucket —
    probing a bucket then becomes partition pruning: the scan touches
    only the probed directories, never the full corpus."""
    (
        df.withColumn("lsh_bucket", lsh_signature(vec_col, num_planes, dim))
        .write.partitionBy("lsh_bucket")
        .mode(mode)
        .parquet(path)
    )


def centroids_by_key(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "label",
) -> DataFrame:
    """Element-wise mean vector per key, decimal-exact (bit-stable
    under any partitioning): posexplode → exact decimal sum per
    (key, pos) → reassemble ordered array.

    Returns (key, centroid: array<double>). Two shuffles on small
    keyspaces — at scale the (key, pos) shuffle carries dim doubles per
    input row; for very wide vectors prefer sampling before the mean.
    """
    el = df.select(
        F.col(key_col).alias("key"),
        F.posexplode(vec_col).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    per_pos = el.groupBy("key", "pos").agg(
        (F.sum(F.col("val").cast(_DEC)).cast("double") / F.count("val")).alias("c")
    )
    return per_pos.groupBy("key").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("centroid")
    )


def pq_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    num_subs: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """Product-quantization codebook (m, k, j, c): split each vector
    into ``num_subs`` subvectors of ``sub_dim`` dims; within subspace
    m, cluster by the deterministic 2-bit seed split and take the
    decimal-exact per-position mean of each cell — one Lloyd 'assign +
    update' step from a data-independent initializer, so Spark and the
    SQL oracle build byte-identical codebooks with no RNG and no
    iterative state.

    Output is ≤ num_subs·4·sub_dim rows (256 for 64-dim/8×4) — always
    broadcastable, which is the entire point of PQ at 100 TB: the
    index state is O(codebook), the per-vector state is num_subs
    bytes."""
    # The projections are generated as ONE SQL string each: building
    # the same tree Column-by-Column costs hundreds of py4j round
    # trips (~1.2 s of pure driver latency per call, measured round
    # 14); sqlParser builds the identical expressions in one call.
    init_sql = "array(" + ", ".join(
        f"CAST(CAST(element_at({vec_col}, {m * sub_dim + 1}) >= 0 AS INT)"
        f" * 2 + CAST(element_at({vec_col}, "
        f"{m * sub_dim + sub_dim // 2 + 1}) >= 0 AS INT) AS INT)"
        for m in range(num_subs)
    ) + ")"
    el = df.selectExpr(
        f"{init_sql} AS ini", f"posexplode({vec_col}) AS (pos, val)"
    ).selectExpr(
        f"CAST(pos / {sub_dim} AS INT) AS m",
        f"pos % {sub_dim} AS j",
        f"element_at(ini, CAST(pos / {sub_dim} AS INT) + 1) AS k",
        "CAST(val AS DOUBLE) AS val",
    )
    return el.groupBy("m", "k", "j").agg(
        (
            F.sum(F.col("val").cast(_DEC)).cast("double") / F.count("val")
        ).alias("c")
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_dim: int = 8,
    num_subs: int = 8,
) -> DataFrame:
    """Assign every (vector, subspace) its nearest codeword by exact
    L2 over the subspace (decimal-exact sums → comparisons cannot
    mis-order; tiebreak on code index). Returns (id, m, k) — the
    num_subs-byte compressed representation.

    MAP-SIDE formulation: the codebook collapses to ONE row of dense
    (m, k, j-ordered values) entries, cross-joined as a broadcast; each
    vector then computes all ≤ num_subs·4 cell distances and argmins
    with array expressions — zero shuffle, zero window. The first
    version aggregated exploded (id, m, k, j) rows through a groupBy +
    per-(id,m) row_number window; the 1x/10x/30x scale probe measured
    that shape at 34x wall-clock for 30x data (the tiny-group window
    sort dominates), while this one is embarrassingly parallel.
    Distances accumulate per-term DECIMAL(30,10) exactly like the SQL
    oracle's SUM(CAST(diff2 AS DECIMAL(30,10))), so assignments match
    bit-for-bit.

    Empty-input caveat (ADVICE r14): the codebook-shape guard lives IN
    the plan (a raise_error CASE), so it only fires when a row
    executes — with an empty ``df`` a mismatched or empty codebook
    returns an empty result instead of raising. Intended lazy
    behavior: encoding nothing asks nothing of the codebook."""
    # Guard against a codebook built with different num_subs/sub_dim: a
    # mismatch would silently argmin over empty cells and emit null
    # codes (the round-4 scale probe measured exactly that degenerate
    # plan). Round-14: the guard is now EMBEDDED IN THE PLAN (a CASE on
    # the broadcast 1-row codebook shape that raise_error()s loudly)
    # instead of an eager driver-side .first() — the old check cost a
    # whole extra Spark job on every query that encodes.
    dense = codebook.groupBy("m", "k").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "c"))), lambda x: x["c"]
        ).alias("cv"),
        F.max("j").alias("mj"),
    )
    cb_row = dense.groupBy().agg(
        F.collect_list(F.struct("m", "k", "cv")).alias("cbl"),
        F.max("m").alias("max_m"),
        F.max("mj").alias("max_j"),
    )

    # The whole per-vector encode expression is generated as ONE SQL
    # string: the identical tree built Column-by-Column costs ~2 s of
    # py4j round trips per call (measured round 14); the parser builds
    # it in one call and the analyzed plan is the same.
    def cell_sql(m: int, k: int) -> str:
        entry = f"filter(cbl, e -> e.m = {m} AND e.k = {k})"
        sub = f"slice({vec_col}, {m * sub_dim + 1}, {sub_dim})"
        fold = decimal_squared_l2_sql(sub, f"element_at({entry}, 1).cv")
        return f"CASE WHEN size({entry}) > 0 THEN {fold} END"

    def argmin_sql(m: int) -> str:
        cands = ", ".join(
            f"named_struct('d', {cell_sql(m, k)}, 'k', {k})" for k in range(4)
        )
        return (
            f"array_min(filter(array({cands}), c -> c.d IS NOT NULL))['k']"
        )

    codes_sql = (
        "array(" + ", ".join(argmin_sql(m) for m in range(num_subs)) + ")"
    )
    guarded_sql = (
        f"CASE WHEN max_m = {num_subs - 1} AND max_j = {sub_dim - 1} "
        f"THEN {codes_sql} "
        f"WHEN max_m IS NULL THEN raise_error('pq_encode: empty codebook') "
        f"ELSE raise_error(printf('pq_encode: codebook shape "
        f"(%d subspaces x %d dims) does not match num_subs={num_subs}, "
        f"sub_dim={sub_dim}', max_m + 1, max_j + 1)) END"
    )
    return (
        df.crossJoin(F.broadcast(cb_row))
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.expr(guarded_sql)).alias("m", "k"),
        )
    )
