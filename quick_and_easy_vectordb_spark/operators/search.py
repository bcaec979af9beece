"""Similarity search operators.

The reference's flagship query is: embed the query, score every stored
vector with a raw dot product, sort descending, take the first k
(default k=5) — /root/reference/app.py:40-48. Here that becomes a pure
DataFrame plan:

    Project(score) → TakeOrderedAndProject(k)

which Spark executes as a distributed top-k: each partition keeps a
k-element heap, the driver merges P·k candidates — no global sort, no
shuffle of the corpus. That plan shape is asserted in tests
(tests/test_plans.py) because it is exactly what survives a 100×
scale-up: cost is one scan + O(P·k) merge regardless of corpus size.

Deviation from the reference (documented, deliberate): ties are broken
by ascending id. The reference's pandas quicksort is unstable so its
tie order is nondeterministic (SURVEY.md §1.4.3 / app.py:48); a
deterministic rule is required for reproducible results and
oracle-hash comparison.

Scoring runs in the compiled vector kernels (functions/vector.py), and
plan build is the request's driver-side cost, so every scorer here is
called with the vector column's NAME and the query as a plain float
LIST: the scorer is then one SQL string (one py4j call, whatever the
metric or dimension) with the query as one binary literal, decoded
once per task. A name that is not a plain identifier is passed as
``F.col`` inside the scorer, a few py4j calls more.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
)

__all__ = [
    "score",
    "top_k",
    "top_k_by_dot",
    "threshold_search",
    "batch_knn",
    "lsh_batch_knn",
    "mmr_rerank",
]

_METRICS = {
    "dot": (dot_product, True),  # (scorer, descending?)
    "cosine": (cosine_similarity, True),
    "l2": (l2_distance, False),
}


def score(
    df: DataFrame,
    query_vector: Sequence[float],
    vector_col: str = "vector_embedding",
    metric: str = "dot",
    score_col: str = "score",
) -> tuple[DataFrame, bool]:
    """Project a similarity/distance score of every row against a
    literal query vector. Returns (scored_df, descending?)."""
    scorer, desc = _METRICS[metric]
    return df.withColumn(score_col, scorer(vector_col, list(query_vector))), desc


def top_k(
    scored: DataFrame,
    k: int,
    score_col: str = "score",
    descending: bool = True,
    tiebreak: str | Column | None = None,
) -> DataFrame:
    """Top-k by score with a deterministic tiebreak.

    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject — the
    shuffle-free distributed top-k (BASELINE.md "Engine targets").
    """
    order = [F.desc(score_col) if descending else F.asc(score_col)]
    if tiebreak is not None:
        order.append(F.asc(tiebreak) if isinstance(tiebreak, str) else tiebreak)
    return scored.orderBy(*order).limit(k)


def top_k_by_dot(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 5,
    vector_col: str = "vector_embedding",
    id_col: str = "chunk_id",
    metric: str = "dot",
    score_col: str = "similarity",
) -> DataFrame:
    """The reference's search_similar (app.py:40-48), end to end:
    score by ``metric`` (default raw dot product), top-k (default 5),
    deterministic id tiebreak."""
    scored, desc = score(df, query_vector, vector_col, metric, score_col)
    return top_k(scored, k, score_col, desc, tiebreak=id_col)


def threshold_search(
    df: DataFrame,
    query_vector: Sequence[float],
    threshold: float,
    vector_col: str = "vector_embedding",
    metric: str = "cosine",
    score_col: str = "score",
) -> DataFrame:
    """All rows whose score clears a threshold (≥ for similarities,
    ≤ for distances) — the filter-shaped sibling of top-k."""
    scored, desc = score(df, query_vector, vector_col, metric, score_col)
    cond = F.col(score_col) >= threshold if desc else F.col(score_col) <= threshold
    return scored.filter(cond)


def batch_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
    metric: str = "cosine",
    score_col: str = "score",
) -> DataFrame:
    """k nearest corpus rows for *each* query row.

    Plan: broadcast the (small) query side into a nested-loop join, then
    a per-query window row_number ≤ k. Broadcasting the query side means
    the corpus — the 100 TB side — is never shuffled: each corpus
    partition scores all queries locally and the window only shuffles
    Q·(partition-local top-k) candidate rows, which AQE coalesces.

    For query sets too large to broadcast, use :func:`lsh_batch_knn` —
    the LSH-prefiltered variant whose join is a shuffle equi-join on
    bucket id instead of a cross product — or chunk the query side and
    union the results if exact recall is required.
    """
    scorer, desc = _METRICS[metric]
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.withColumn(score_col, scorer(corpus_vec, query_vec))
    order = [
        F.desc(score_col) if desc else F.asc(score_col),
        F.asc(corpus_id),
    ]
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_batch_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    num_planes: int = 4,
    dim: int = 64,
    probe_radius: int = 1,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "id",
    corpus_vec: str = "vec",
    metric: str = "cosine",
    score_col: str = "score",
    exclude_label: tuple[str, str] | None = None,
) -> DataFrame:
    """Approximate batch kNN for query sets too large to broadcast —
    the escape hatch :func:`batch_knn`'s docstring promises.

    ``exclude_label=(query_label_col, corpus_label_col)`` turns the
    kNN into HARD-NEGATIVE candidate generation: the inequality
    predicate rides the bucket equi-join itself (same-label corpus
    rows are dropped before the dedup shuffle, never scored into the
    top-k), and the corpus label column is carried through to the
    output — the LSH-bucketed swap vdb_hard_negative_mining's
    docstring promises for anchor sets too large to broadcast.

    Both sides get the deterministic random-hyperplane LSH signature
    (operators/ann.py:lsh_signature); each query additionally probes
    its Hamming-≤``probe_radius`` neighbor buckets (bit flips built as
    native substring/concat expressions — no UDF). The join is then a
    plain shuffle EQUI-JOIN on the bucket string, so at 100 TB it
    hash-partitions both sides by bucket instead of replicating either:
    cost O(|corpus|/2^P · probes) candidate pairs, versus batch_knn's
    broadcast nested loop which requires the whole query set on every
    executor. Candidates dedupe (one corpus row can match several
    probes of one query — identical rows, so the dedup is
    deterministic), then exact per-query top-k by window row_number
    with id tiebreak. Approximate: corpus rows outside the probed
    buckets are never scored (recall measured by ann_recall_at_k).

    Returns only ``(query_id, corpus_id, score_col, rank)`` — unlike
    batch_knn, payload columns are NOT carried through (they would
    widen the candidate shuffle ~10×); re-join the k winners to fetch
    them. Size ``num_planes`` to the corpus: bucket occupancy is
    N/2^P, and candidate volume per query is probes · N/2^P — an
    undersized P degenerates the equi-join toward a cross product.
    """
    from quick_and_easy_vectordb_spark.operators.ann import lsh_signature

    c = corpus.withColumn(
        "__bucket", lsh_signature(corpus_vec, num_planes, dim)
    )
    # Materialize the query signature as a COLUMN before deriving the
    # Hamming flips: each flip takes substrings of it, and building
    # flips from the raw signature expression would run the
    # qev_lsh_bits kernel three times per flip instead of once per
    # query row. (CollapseProject keeps multi-referenced non-cheap
    # aliases materialized, so the column is computed once.)
    q2 = queries.withColumn("__qsig", lsh_signature(query_vec, num_planes, dim))
    qsig = F.col("__qsig")
    probes = [qsig]
    if probe_radius >= 1:
        for j in range(num_planes):
            bit = F.substring(qsig, j + 1, 1)
            probes.append(
                F.concat(
                    F.substring(qsig, 1, j),
                    F.when(bit == "1", F.lit("0")).otherwise(F.lit("1")),
                    F.substring(qsig, j + 2, num_planes - j - 1),
                )
            )
    qp = q2.withColumn("__bucket", F.explode(F.array(*probes)))
    scorer, desc = _METRICS[metric]
    # Cosine: precompute each side's norm ONCE PER ROW pre-join, so the
    # per-candidate work is a single dot product instead of three —
    # bitwise identical (same ops, same order, just not recomputed).
    if metric == "cosine":
        c = c.withColumn("__cnorm", l2_norm(corpus_vec))
        qp = qp.withColumn("__qnorm", l2_norm(query_vec))
        # Zero-norm guard matching functions.vector.cosine_similarity's
        # NULL convention — an unguarded 0/0 yields NaN, which ranks
        # unpredictably in the row_number window below.
        denom = F.col("__cnorm") * F.col("__qnorm")
        score_expr = F.when(
            denom != 0.0, dot_product(corpus_vec, query_vec) / denom
        )
    else:
        score_expr = scorer(corpus_vec, query_vec)
    # Project to (query_id, corpus_id, score) BEFORE the dedup shuffle:
    # candidate rows otherwise carry both embedding arrays through the
    # exchange, a ~10× width penalty measured as a spill storm on a
    # 30× synthetic corpus. Payload columns for the k winners are a
    # cheap re-join for the caller (Q·k rows).
    joined = qp.join(c, "__bucket")
    out_cols = [query_id, corpus_id]
    if exclude_label is not None:
        q_label, c_label = exclude_label
        if q_label == c_label:
            raise ValueError(
                "exclude_label needs DISTINCT column names on the two "
                f"sides (both are {q_label!r}) — rename one before the "
                "call, or the post-join reference is ambiguous"
            )
        # SQL <> semantics: a NULL label on either side drops the
        # pair (matching the oracle's `c.label <> q.q_label`); callers
        # with NULL-labeled corpora that should count as negatives
        # must coalesce labels to a sentinel first.
        joined = joined.filter(F.col(c_label) != F.col(q_label))
        out_cols.append(c_label)
    scored = (
        joined
        .select(*out_cols, score_expr.alias(score_col))
        .dropDuplicates([query_id, corpus_id])
    )
    order = [
        F.desc(score_col) if desc else F.asc(score_col),
        F.asc(corpus_id),
    ]
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mmr_rerank(
    pool: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_col: str = "qsim",
) -> DataFrame:
    """Maximal Marginal Relevance rerank of a small candidate pool:
    greedily pick k items maximizing
    ``lam * sim(query, d) - (1 - lam) * max_{s in selected} sim(d, s)``
    (cosine for the diversity term), tiebreak id-ascending at every
    step. The reference has nothing like this (search is plain top-k,
    app.py:40-48); it's the standard diversified-retrieval operator.

    Scale contract: MMR is inherently sequential in k, so the
    DISTRIBUTED part is producing the pool (TakeOrderedAndProject
    top-k' over the full corpus); this rerank is O(k * k') on a
    k'-row frame that fits on any node. Each greedy step is pure
    DataFrame algebra (anti-join the picked set, max-cosine against
    it, argmax with tiebreak) — ~k tiny stages, no collect, no UDF,
    deterministic under any partitioning.
    """
    p = pool.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        F.col(sim_col).alias("cqsim"),
    )
    first = p.orderBy(F.desc("cqsim"), F.asc("cid")).limit(1)
    selected = first.select(
        F.col("cid").alias("sid"),
        F.col("cvec").alias("svec"),
        F.lit(1).cast("long").alias("rank"),
        F.col("cqsim").alias("mmr_score"),
    )
    for r in range(2, k + 1):
        sel_ids = selected.select(F.col("sid").alias("xid"))
        cand = p.join(sel_ids, p["cid"] == F.col("xid"), "left_anti")
        scored = (
            cand.crossJoin(selected.select(F.col("svec").alias("pvec")))
            .groupBy("cid", "cqsim")
            .agg(F.max(cosine_similarity("cvec", "pvec")).alias("maxdiv"))
            .withColumn(
                "score",
                F.lit(lam) * F.col("cqsim") - F.lit(1.0 - lam) * F.col("maxdiv"),
            )
        )
        pick = (
            scored.orderBy(F.desc("score"), F.asc("cid"))
            .limit(1)
            .select(F.col("cid").alias("pid"), F.col("score").alias("pscore"))
        )
        picked = p.join(F.broadcast(pick), p["cid"] == F.col("pid")).select(
            F.col("cid").alias("sid"),
            F.col("cvec").alias("svec"),
            F.lit(r).cast("long").alias("rank"),
            F.col("pscore").alias("mmr_score"),
        )
        selected = selected.unionByName(picked)
        # The greedy loop re-unions `selected` every pick; without
        # truncation the plan nests r unions of (anti-join + crossJoin +
        # agg) and analysis cost grows superlinearly in k. Checkpoint
        # every few picks so arbitrary k stays safe.
        if r % 4 == 0:
            selected = selected.localCheckpoint()
    return selected.select("rank", F.col("sid").alias(id_col), "mmr_score")
