"""ANN operator tests: signature determinism, probe ⊆ brute-force,
centroid math, partitioned index write."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.vector import vector_literal, dot_product
from quick_and_easy_vectordb_spark.operators.ann import (
    centroids_by_key,
    hamming_neighbors,
    hyperplane,
    lsh_signature,
    python_lsh_signature,
    write_lsh_index,
)


@pytest.mark.parametrize("dim", [3, 16, 33, 64])
def test_spark_and_python_signatures_agree(spark, dim):
    """Both sides agree on every row, NaN-bearing ones included: a NaN
    plane dot signs 1 on both (SQL orders NaN above every double)."""
    vecs = [[float((i * 13 + j * 7) % 11 - 5) for i in range(dim)] for j in range(20)]
    for j, pos in enumerate((0, dim // 2, dim - 1)):
        vecs.append(list(vecs[j]))
        vecs[-1][pos] = math.nan
    vecs.append([math.inf] + [-math.inf] * (dim - 1))  # a sum may be inf - inf
    df = spark.createDataFrame([(j, v) for j, v in enumerate(vecs)], "id long, v array<double>")
    got = {r.id: r.sig for r in
           df.select("id", lsh_signature("v", 8, dim).alias("sig")).collect()}
    for j, v in enumerate(vecs):
        assert got[j] == python_lsh_signature(v, 8)


def test_nan_row_signs_all_one(spark):
    vec = [math.nan, 1.0, 0.0, 2.0]
    df = spark.createDataFrame([(vec,)], "v array<double>")
    assert df.select(lsh_signature("v", 6, 4)).first()[0] == "111111"
    assert python_lsh_signature(vec, 6) == "111111"


@pytest.mark.parametrize("dim", [8, 64])
def test_invalid_rows_sign_all_zero(spark, dim):
    """A row one element short or long, a NULL array and a NULL element
    fold to NULL on every plane, so each gets the all-0 signature, at
    every dim, with no error under ANSI mode."""
    good = [float((i * 5) % 7 - 3) for i in range(dim)]
    null_elem = list(good)
    null_elem[dim // 2] = None
    rows = [(0, good), (1, good[:-1]), (2, good + [1.0]), (3, None), (4, null_elem)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {r.id: r.sig for r in
           df.select("id", lsh_signature("v", 8, dim).alias("sig")).collect()}
    assert got[0] == python_lsh_signature(good, 8)
    assert {got[i] for i in (1, 2, 3, 4)} == {"0" * 8}


def test_lsh_signature_rejects_non_identifier_names():
    with pytest.raises(ValueError):
        lsh_signature("v`) + 1 --", 4, 8)


def test_lsh_batch_knn_scores_short_corpus_row(spark):
    """A corpus row one element short is bucketed and scored like any
    invalid row (all-0 bucket, NULL score) instead of failing the job."""
    from quick_and_easy_vectordb_spark.operators.search import lsh_batch_knn

    dim = 8
    rows = [(i, [float((i + j) % 5 - 2) for j in range(dim)]) for i in range(12)]
    rows.append((99, [-1.0] * (dim - 1)))
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    q = [-1.0] * dim
    # the query probes the all-0 bucket the short row lands in
    assert python_lsh_signature(q, 3).count("1") <= 1
    qs = spark.createDataFrame([(0, q)], "query_id long, query_vec array<double>")
    for metric in ("cosine", "dot", "l2"):
        got = lsh_batch_knn(qs, corpus, k=20, num_planes=3, dim=dim, metric=metric).collect()
        assert [r.score for r in got if r.id == 99] == [None]
        assert any(r.score is not None for r in got)


def test_hamming_neighbors():
    probes = hamming_neighbors("1010", 1)
    assert probes[0] == "1010" and len(probes) == 5 and len(set(probes)) == 5
    assert all(sum(a != b for a, b in zip(p, "1010")) <= 1 for p in probes)


def test_probe_results_subset_of_bruteforce(spark, sf_dir):
    from quick_and_easy_vectordb_spark.queries.common import QUERY_VEC
    from quick_and_easy_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = vector_literal(QUERY_VEC)
    brute = {
        r.vec_id
        for r in emb.select("vec_id", dot_product("embedding", q).alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(50)
        .collect()
    }
    sig = python_lsh_signature(QUERY_VEC, 4)
    probed = (
        emb.select("vec_id", lsh_signature("embedding", 4, 64).alias("b"),
                   dot_product("embedding", q).alias("s"))
        .filter(F.col("b").isin(hamming_neighbors(sig, 1)))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(5)
        .collect()
    )
    assert len(probed) > 0
    # multi-probe top-5 should be drawn from the true top-50
    assert {r.vec_id for r in probed} <= brute


def test_centroids_exact(spark):
    rows = [(0, [1.0, 3.0]), (0, [3.0, 5.0]), (1, [10.0, 0.0])]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    c = {r.key: r.centroid for r in centroids_by_key(df).collect()}
    assert c[0] == [2.0, 4.0] and c[1] == [10.0, 0.0]


def test_write_lsh_index_partitioned(spark, tmp_path):
    rows = [(j, [float((i * 3 + j) % 7 - 3) for i in range(8)]) for j in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "lsh_index")
    write_lsh_index(df, path, num_planes=3, dim=8)
    back = spark.read.parquet(path)
    assert back.count() == 50
    # partition column survives and matches recomputed signatures
    recomputed = df.select("vec_id", lsh_signature("embedding", 3, 8).alias("sig"))
    joined = back.join(recomputed, "vec_id")
    assert joined.filter(F.col("lsh_bucket") != F.col("sig")).count() == 0
    # probing one bucket prunes the scan to that partition
    some_bucket = back.select("lsh_bucket").first().lsh_bucket
    pruned = spark.read.parquet(path).filter(F.col("lsh_bucket") == some_bucket)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.count() > 0


def test_lsh_index_write_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """End-to-end index lifecycle: materialize the bucket-partitioned
    index, probe via partition pruning (only probed directories read),
    get the SAME top-5 as the scan-everything probe query."""
    import os

    from quick_and_easy_vectordb_spark.functions.vector import (
        dot_product,
        vector_literal,
    )
    from quick_and_easy_vectordb_spark.operators.ann import (
        hamming_neighbors,
        python_lsh_signature,
        write_lsh_index,
    )
    from quick_and_easy_vectordb_spark.plans import formatted_plan
    from quick_and_easy_vectordb_spark.queries import QUERIES
    from quick_and_easy_vectordb_spark.queries.common import DIM, QUERY_VEC
    from quick_and_easy_vectordb_spark.sources.catalog import load_table

    idx = str(tmp_path / "lsh_index")
    emb = load_table(spark, sf_dir, "embeddings")
    write_lsh_index(emb, idx, "embedding", num_planes=4, dim=DIM)
    # one directory per occupied bucket
    assert any(d.startswith("lsh_bucket=") for d in os.listdir(idx))

    probes = hamming_neighbors(python_lsh_signature(QUERY_VEC, 4), 1)
    indexed = spark.read.parquet(idx).filter(F.col("lsh_bucket").isin(probes))
    plan = formatted_plan(indexed)
    assert "PartitionFilters" in plan  # pruning, not a full scan + filter

    got = (
        indexed.select(
            "vec_id",
            dot_product(F.col("embedding"), vector_literal(QUERY_VEC)).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(5)
        .collect()
    )
    want = QUERIES["ann_lsh_probe"].fn(spark, sf_dir).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]


def test_pq_codebook_shape_and_exactness(spark, sf_dir):
    """Codebook: ≤ m·4 codewords × sub_dim positions, every cell mean
    is the decimal-exact mean of its member subvector positions."""
    from quick_and_easy_vectordb_spark.operators.ann import pq_codebook
    from quick_and_easy_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "embedding", 8, 8).collect()
    assert 0 < len(cb) <= 8 * 4 * 8
    for r in cb:
        assert 0 <= r.m < 8 and 0 <= r.k < 4 and 0 <= r.j < 8

    # spot-check one cell against a driver-side exact computation
    import decimal
    rows = emb.select("embedding").collect()
    target = next(r for r in cb if r.m == 0 and r.j == 0)
    members = []
    for r in rows:
        v = r.embedding
        k = 2 * (1 if float(v[0]) >= 0 else 0) + (1 if float(v[4]) >= 0 else 0)
        if k == target.k:
            members.append(decimal.Decimal(repr(round(float(v[0]), 10))))
    # decimal(30,10) truncates to 10 dp the same way
    exact = float(
        sum(decimal.Decimal(f"{float(m):.10f}") for m in members) / len(members)
    )
    assert abs(target.c - exact) < 1e-9


def test_pq_encode_assigns_every_subspace(spark, sf_dir):
    """Every vector gets exactly one code per subspace, codes in range."""
    from quick_and_easy_vectordb_spark.operators.ann import pq_codebook, pq_encode
    from quick_and_easy_vectordb_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "embedding", 8, 8)
    codes = pq_encode(emb, cb, "embedding", "vec_id", 8)
    per_vec = codes.groupBy("id").agg(F.count(F.lit(1)).alias("n")).collect()
    n_vecs = emb.count()
    assert len(per_vec) == n_vecs
    assert all(r.n == 8 for r in per_vec)
    assert codes.filter((F.col("k") < 0) | (F.col("k") > 3)).count() == 0


def test_pq_encode_guard_is_lazy_and_loud(spark, sf_dir):
    """Round-14: the codebook shape guard moved from an eager
    driver-side .first() (one extra Spark job per encoding query) into
    the plan itself — a CASE over the broadcast 1-row codebook shape
    that raise_error()s at execution. It must still fail loudly on a
    mismatched or empty codebook, and building the plan must NOT run a
    job (laziness is the point of the change)."""
    import pytest
    from quick_and_easy_vectordb_spark.operators.ann import (
        pq_codebook,
        pq_encode,
    )
    from quick_and_easy_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "embedding", 8, 8)

    # mismatched shape: plan builds fine, execution raises loudly
    wrong = pq_encode(emb, cb, "embedding", "vec_id", sub_dim=4, num_subs=8)
    with pytest.raises(Exception, match="codebook shape"):
        wrong.collect()

    # empty codebook: same contract
    empty = pq_encode(
        emb, cb.filter(F.lit(False)), "embedding", "vec_id", 8, 8
    )
    with pytest.raises(Exception, match="empty codebook"):
        empty.collect()

    # valid shape still encodes every vector (the lazy guard is free)
    ok = pq_encode(emb, cb, "embedding", "vec_id", 8, 8)
    assert ok.count() == emb.count() * 8
