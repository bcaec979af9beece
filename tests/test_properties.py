"""Property-based tests (SURVEY.md §5.2 item 3) — algebraic laws the
operators must satisfy for ANY input, checked with hypothesis over
small generated corpora. Spark jobs are slow per-example, so each
property runs a reduced example count against one shared session;
the laws themselves are partition-count-independent, which is what
makes them worth pinning."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.vector import (
    dot_product,
    vector_literal,
)
from quick_and_easy_vectordb_spark.operators.dedup import exact_dedup
from quick_and_easy_vectordb_spark.operators.graph import connected_components
from quick_and_easy_vectordb_spark.operators.search import top_k_by_dot

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite = st.floats(
    min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
)


@given(st.lists(finite, min_size=4, max_size=4), st.lists(finite, min_size=4, max_size=4))
@SETTINGS
def test_dot_product_symmetry(spark, a, b):
    """dot(a, b) == dot(b, a) exactly (term-wise products commute)."""
    df = spark.range(1)
    va, vb = vector_literal(a), vector_literal(b)
    row = df.select(
        dot_product(va, vb).alias("ab"), dot_product(vb, va).alias("ba")
    ).first()
    assert row.ab == row.ba


@given(
    st.lists(
        st.lists(finite, min_size=3, max_size=3), min_size=1, max_size=12
    )
)
@SETTINGS
def test_topk_with_k_equals_n_is_full_sort(spark, vecs):
    """top_k(k=N) must equal the fully sorted relation."""
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "chunk_id long, vec array<double>")
    q = [1.0, -2.0, 0.5]
    got = [
        r.chunk_id
        for r in top_k_by_dot(df, q, k=len(rows), vector_col="vec").collect()
    ]
    want = [
        r.chunk_id
        for r in df.select(
            "chunk_id", dot_product("vec", vector_literal(q)).alias("s")
        )
        .orderBy(F.desc("s"), F.asc("chunk_id"))
        .collect()
    ]
    assert got == want


@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=20
    )
)
@SETTINGS
def test_exact_dedup_idempotent_and_count_preserving(spark, texts):
    """Dedup twice == dedup once, and n_copies sums to the input count."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = exact_dedup(df, "text", "doc_id")
    assert once.agg(F.sum("n_copies")).first()[0] == len(rows)
    again = exact_dedup(
        once.select(
            F.col("keep_id").alias("doc_id"), F.col("content_hash").alias("text")
        ),
        "text",
        "doc_id",
    )
    assert again.count() == once.count()


@given(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30))
@SETTINGS
def test_union_count_additivity(spark, n, m):
    """|A union all B| == |A| + |B| (the reference's append law,
    app.py:118)."""
    a = spark.range(n).select(F.col("id").alias("doc_id"))
    b = spark.range(m).select(F.col("id").alias("doc_id"))
    assert a.unionByName(b).count() == n + m


vertex = st.integers(min_value=0, max_value=24)


@st.composite
def edge_lists(draw):
    """Random edges over 25 ids (several components), plus self-loops
    and duplicate or reversed copies of drawn edges."""
    base = draw(st.lists(st.tuples(vertex, vertex), min_size=1, max_size=20))
    loops = [(x, x) for x in draw(st.lists(vertex, max_size=3))]
    again = draw(
        st.lists(st.tuples(st.sampled_from(base), st.booleans()), max_size=8)
    )
    return base + loops + [(b, a) if flip else (a, b) for (a, b), flip in again]


def _min_id_union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@given(edge_lists())
@SETTINGS
def test_connected_components_is_min_id_union_find(spark, edges):
    """Every vertex maps to the least id of its component. A stopping
    rule that ends the star rounds early splits a component."""
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == _min_id_union_find(edges)
