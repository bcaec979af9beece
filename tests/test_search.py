"""Search-operator tests: reference parity (k=5 default, desc order,
deterministic tiebreak — /root/reference/app.py:40-48 with the
documented tiebreak deviation) and top-k/window properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.operators.search import (
    batch_knn,
    threshold_search,
    top_k_by_dot,
)
from tests.conftest import QUERY4


def test_topk_order_and_tiebreak(chunks):
    res = top_k_by_dot(chunks, QUERY4, k=5).collect()
    # scores: 4→1.75, then a 1.0 tie TRIPLE (1, 5, 6 — id asc), 3→0.75
    assert [r.chunk_id for r in res] == [4, 1, 5, 6, 3]
    assert [r.similarity for r in res] == [1.75, 1.0, 1.0, 1.0, 0.75]


def test_topk_default_k_is_5(chunks):
    assert top_k_by_dot(chunks, QUERY4).count() == 5


def test_topk_equals_full_sort(chunks):
    """Property: top-k(k=N) == full sort (TakeOrderedAndProject must
    agree with a global sort)."""
    n = chunks.count()
    topn = [r.chunk_id for r in top_k_by_dot(chunks, QUERY4, k=n).collect()]
    full = [
        r.chunk_id
        for r in chunks.withColumn(
            "s",
            sum(F.element_at("vector_embedding", i + 1) * QUERY4[i] for i in range(4)),
        )
        .orderBy(F.desc("s"), F.asc("chunk_id"))
        .collect()
    ]
    assert topn == full


def test_threshold_search(chunks):
    res = threshold_search(chunks, QUERY4, 0.7, metric="dot")
    assert {r.chunk_id for r in res.collect()} == {1, 3, 4, 5, 6}


def test_batch_knn_self_is_nearest(chunks):
    """Each vector's cosine-nearest neighbor is itself (queries limited
    to pairwise non-colinear vectors — chunks 2 and 5 are parallel, so
    their cosine ties at 1.0 and the id tiebreak wins instead)."""
    chunks = chunks.filter(F.col("chunk_id").isin([1, 3, 4, 6]))
    q = chunks.select(
        F.col("chunk_id").alias("query_id"), F.col("vector_embedding").alias("qv")
    )
    c = chunks.select(
        F.col("chunk_id").alias("corpus_id"), F.col("vector_embedding").alias("cv")
    )
    res = batch_knn(q, c, k=1, query_vec="qv", corpus_id="corpus_id", corpus_vec="cv").collect()
    assert len(res) == chunks.count()
    for r in res:
        assert r.query_id == r.corpus_id and abs(r.score - 1.0) < 1e-12


def test_batch_knn_k_bound(chunks):
    q = chunks.limit(2).select(
        F.col("chunk_id").alias("query_id"), F.col("vector_embedding").alias("qv")
    )
    c = chunks.select(
        F.col("chunk_id").alias("corpus_id"), F.col("vector_embedding").alias("cv")
    )
    res = batch_knn(q, c, k=3, query_vec="qv", corpus_id="corpus_id", corpus_vec="cv")
    counts = res.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_mmr_rerank_greedy_semantics(spark):
    """Hand-checkable MMR: 4 candidates where plain top-3 would pick
    three near-duplicates; MMR must interleave the diverse item."""
    from quick_and_easy_vectordb_spark.operators.search import mmr_rerank

    # qsim ordering: a (0.99) > a2 (0.98) > a3 (0.97) > b (0.60);
    # a/a2/a3 are near-identical vectors, b is orthogonal to them.
    rows = [
        (1, [1.0, 0.0, 0.0], 0.99),
        (2, [0.999, 0.001, 0.0], 0.98),
        (3, [0.998, 0.002, 0.0], 0.97),
        (4, [0.0, 1.0, 0.0], 0.60),
    ]
    pool = spark.createDataFrame(rows, "vec_id long, embedding array<double>, qsim double")
    got = mmr_rerank(pool, k=3, lam=0.5).orderBy("rank").collect()
    assert [r.vec_id for r in got] == [1, 4, 2]
    assert [r["rank"] for r in got] == [1, 2, 3]
    # rank-1 score is the raw query similarity
    assert got[0].mmr_score == 0.99
    # later picks are penalized: score = 0.5*qsim - 0.5*max_div
    assert got[1].mmr_score < 0.60


def test_lsh_batch_knn_matches_bruteforce_within_buckets(spark):
    """For every query, lsh_batch_knn's ranking must equal batch_knn's
    brute-force ranking restricted to the query's probed buckets — the
    approximation is WHICH rows get scored, never the scores or the
    ordering."""
    from quick_and_easy_vectordb_spark.operators.ann import lsh_signature
    from quick_and_easy_vectordb_spark.operators.search import lsh_batch_knn

    dim, planes = 8, 3
    rows = [
        (i, [((i * 13 + j * 7) % 19 - 9) / 9.0 for j in range(dim)])
        for i in range(60)
    ]
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    qs = corpus.filter(F.col("id") % 20 == 0).select(
        F.col("id").alias("qid"), F.col("vec").alias("qv")
    )
    got = (
        lsh_batch_knn(
            qs, corpus, k=4, num_planes=planes, dim=dim,
            query_id="qid", query_vec="qv", corpus_id="id", corpus_vec="vec",
        )
        .orderBy("qid", "rank")
        .collect()
    )
    # reference: score every (q, c) whose bucket is in q's probe set
    sigs = {
        r.id: r.s
        for r in corpus.select(
            "id", lsh_signature("vec", planes, dim).alias("s")
        ).collect()
    }
    vecs = dict(rows)
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    for qid in [0, 20, 40]:
        probes = {sigs[qid]}
        for j in range(planes):
            s = sigs[qid]
            probes.add(s[:j] + ("0" if s[j] == "1" else "1") + s[j + 1 :])
        cand = [(cid, cos(vecs[cid], vecs[qid])) for cid in vecs if sigs[cid] in probes]
        cand.sort(key=lambda t: (-t[1], t[0]))
        expect = cand[:4]
        mine = [(r.id, r.score) for r in got if r.qid == qid]
        assert [c for c, _ in expect] == [c for c, _ in mine]
        for (_, se), (_, sm) in zip(expect, mine):
            assert sm == pytest.approx(se, abs=1e-12)


def test_mmr_rerank_large_k_plan_bounded(spark):
    """k=20 over a 40-candidate pool: the periodic localCheckpoint must
    keep the greedy loop's plan from nesting 20 unions of joins —
    without it, analysis alone takes minutes at this k. Checks output
    shape (all ranks present, ids unique) and that the final plan's
    string depth is bounded (checkpoint truncated lineage)."""
    from quick_and_easy_vectordb_spark.operators.search import mmr_rerank

    rows = [
        (i, [float(i % 7), float((i * 3) % 5), float((i * 5) % 11)], 1.0 - i * 0.01)
        for i in range(40)
    ]
    pool = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, qsim double"
    )
    out = mmr_rerank(pool, k=20, lam=0.5)
    got = out.orderBy("rank").collect()
    assert [r["rank"] for r in got] == list(range(1, 21))
    assert len({r.vec_id for r in got}) == 20
    # lineage truncation: the final plan must hang off a checkpointed
    # scan, not 20 nested unions (which would show ~20 Union nodes)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") <= 6


def _py4j_commands(spark, fn) -> int:
    """Gateway commands sent while ``fn()`` runs, not counting the GC
    detaches (``m\\nd\\n``) that Python's collector sends on its own."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting_send(command, *args, **kwargs):
        nonlocal n
        if not command.startswith("m\nd\n"):
            n += 1
        return send(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        fn()
    finally:
        del client.send_command  # drop the instance override
    return n


def test_top_k_plan_build_py4j_budget(spark, tmp_path):
    """Regression guard for one SQL parse per scorer: building an exact
    top-k request over a fresh scan costs the same number of py4j
    commands for every metric and every dimension, at most 31 (the
    count since the scorers became one kernel call each). A scorer
    handed Column operands, or a query vector sent element by element,
    shows up here as a higher count or one that depends on the metric
    or the dimension."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quick_and_easy_vectordb_spark.sources.catalog import load_table

    counts = {}
    for dim in (8, 64):
        rng = np.random.default_rng(dim)
        vecs = rng.standard_normal((50, dim)).astype(np.float32)
        d = tmp_path / f"d{dim}"
        d.mkdir()
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(50, dtype=np.int64)),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(np.zeros(50, dtype=np.int32)),
            }),
            str(d / "embeddings.parquet"),
        )
        q = rng.standard_normal(dim).tolist()
        for metric in ("dot", "l2", "cosine"):

            def build():
                top_k_by_dot(load_table(spark, str(d), "embeddings"), q,
                             vector_col="embedding", id_col="vec_id",
                             metric=metric)

            build()  # warm the scan-metadata cache
            counts[(dim, metric)] = _py4j_commands(spark, build)
    assert len(set(counts.values())) == 1, counts
    assert next(iter(counts.values())) <= 31, counts
