"""Connected components over an edge list — duplicate-CLUSTER
resolution, the step after pairwise near-dup detection.

A dedup pipeline's output is pairs (a~b, b~c); what you act on is
clusters ({a,b,c} keep one). Pairs → clusters is connected components.
Spark has no built-in CC (GraphFrames is an external package), so this
is the ALTERNATING STAR algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond") in pure DataFrame ops: each round
a large-star operation hangs every node's >-neighbors off its
neighborhood minimum, then a small-star operation contracts the
<=-neighborhood the same way, and the EDGE SET itself converges to a
star forest whose centers are the component minima. Two
groupBy+join shuffles per star, O(log^2 n) rounds provably, per-key
state bounded by degree, all data distributed; ``localCheckpoint``
truncates lineage each round (at cluster scale use ``checkpoint`` to
reliable storage instead).

Star rounds contract the graph itself, so no id layout defeats them
(label propagation with path halving stalls on long chains whose ids
point away from the minimum, such as a spatial DBSCAN chain), and an
exhausted round cap raises rather than return split components.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dup_clusters"]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Return (id, component) for every vertex in ``edges``, where
    ``component`` is the minimum vertex id reachable from ``id``.

    Each round rewrites the EDGE SET with a large-star then a
    small-star operation (Kiveris et al.). Both keep every component
    intact and the small star writes every edge from the larger id to
    the smaller, so once no vertex has two out-edges and no edge's
    target has an out-edge, the edges are the star forest whose roots
    are the component minima: that one test, run before the first
    round and after each, decides convergence. Deterministic
    (min-of-ids everywhere), provably O(log^2 n) rounds with per-key
    state bounded by node degree. An exhausted ``max_iter`` RAISES:
    stopping early would return split components.

    Vertices only in ``edges`` appear; isolated vertices (self-loop
    only) map to themselves.
    """
    # scanned twice: edge checkpoint, vertex list. A cache the caller
    # made is used as it is and left in place.
    owned = edges.storageLevel == StorageLevel.NONE
    if owned:
        edges = edges.persist()
    try:
        sym0 = _pairs(edges, (src, dst), (dst, src))
        verts = sym0.select(F.col("u").alias("vid")).distinct()
        # strip self-loops: star rounds operate on proper edges
        e = (
            sym0.filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        converged = _is_star_forest(e)  # empty, or never: e is symmetric
        for _ in range(max_iter):
            if converged:
                break
            e = _small_star(_sym(_large_star(_sym(e)))).localCheckpoint()
            converged = _is_star_forest(e)
        if not converged:
            # an exhausted cap means SPLIT components — wrong answers,
            # not slow ones; fail loudly
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        # star forest: each non-root has one edge, to its component min;
        # everything else (roots, isolated vertices) labels itself
        pointed = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        return verts.join(
            pointed, verts["vid"] == pointed["id"], "left"
        ).select(
            F.col("vid").alias("id"),
            F.coalesce("component", F.col("vid")).alias("component"),
        ).localCheckpoint()
    finally:
        if owned:
            edges.unpersist()


def _pairs(df: DataFrame, *cols: tuple[str, str]) -> DataFrame:
    """(u, v) rows, one per (column, column) pair per row of ``df``.

    A generator over one scan, not a union of two: with constraint
    propagation on, Spark 4 fails such a union with
    "NoSuchElementException: key not found: <attr>" when the two
    endpoint columns differ in nullability (a non-nullable id against
    a nullable ``id % k``), and the star rounds would union a
    localCheckpoint of those edges again every round."""
    return df.select(F.inline(F.array(*[
        F.struct(F.col(a).alias("u"), F.col(b).alias("v")) for a, b in cols
    ])))


def _is_star_forest(e: DataFrame) -> bool:
    """No vertex that is the larger end of an edge row appears in a
    second row. With every edge written larger → smaller, that is: no
    vertex has two out-edges and no target has one. A symmetric edge
    set fails it unless empty. One grouped aggregate job."""
    return (
        _pairs(e, ("u", "v"), ("v", "u"))
        .groupBy("u")
        .agg(
            F.max(F.col("u") > F.col("v")).alias("larger"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("larger") & (F.col("n") > 1))
        .isEmpty()
    )


def _sym(df: DataFrame) -> DataFrame:
    return _pairs(df, ("u", "v"), ("v", "u")).distinct()


def _large_star(sym: DataFrame) -> DataFrame:
    # per node u: m = min(N(u) ∪ {u}); emit (v, m) for v > u
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    ).select(F.col("u").alias("mu"), "m")
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, F.col("u") == F.col("mu"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(sym: DataFrame) -> DataFrame:
    # per node u over its ≤-neighborhood: m = min(N<(u) ∪ {u});
    # emit (x, m) for x in N<(u) ∪ {u}, x != m
    le = sym.filter(F.col("v") < F.col("u"))
    mins = le.groupBy("u").agg(F.min("v").alias("m")).select(
        F.col("u").alias("mu"), "m"
    )
    with_m = le.join(mins, F.col("u") == F.col("mu"))
    out = _pairs(with_m, ("v", "m"), ("mu", "m"))
    return out.filter(F.col("u") != F.col("v")).distinct()


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Collapse verified near-dup pairs into clusters: one row per
    cluster with the canonical keep id (the min — matching
    exact_dedup's survivor rule), the member count, and the sorted
    member list (bounded: near-dup clusters are small; for pathological
    mega-clusters drop the member list and keep only counts)."""
    cc = connected_components(pairs, id_a, id_b)
    return (
        cc.groupBy("component")
        .agg(
            F.min("id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.array_sort(F.collect_list("id")).alias("members"),
        )
        .select("keep_id", "n_members", "members")
    )
