"""Unit tests for functions/vector.py against the hand-computed
FIXTURES.md §A values (reference semantics: raw dot product, not
cosine — /root/reference/app.py:45)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
    parse_vector,
    squared_l2_distance,
    vector_literal,
    vector_literal_sql,
    vector_to_csv,
)
from tests.conftest import QUERY4


def scores(chunks, col):
    rows = chunks.select("chunk_id", col.alias("s")).collect()
    return {r.chunk_id: r.s for r in rows}


def test_dot_product_reference_values(chunks):
    s = scores(chunks, dot_product("vector_embedding", vector_literal(QUERY4)))
    assert s[1] == 1.0 and s[2] == 0.5 and s[3] == 0.75 and s[4] == 1.75
    assert s[5] == 1.0  # tie with chunk 1


def test_dot_is_symmetric(chunks):
    q = vector_literal(QUERY4)
    a = scores(chunks, dot_product("vector_embedding", q))
    b = scores(chunks, dot_product(q, F.col("vector_embedding")))
    assert a == b


def test_l2_norm_and_distance(chunks):
    n = scores(chunks, l2_norm("vector_embedding"))
    assert n[4] == 2.0 and n[1] == 1.0
    d = scores(chunks, l2_distance("vector_embedding", vector_literal([0.0, 0.0, 0.0, 0.0])))
    assert d[4] == 2.0 and d[6] == 4.0


def test_cosine_range_and_nulls(chunks, spark):
    c = scores(chunks, cosine_similarity("vector_embedding", vector_literal(QUERY4)))
    assert all(-1.0 - 1e-12 <= v <= 1.0 + 1e-12 for v in c.values())
    # zero vector → NULL, not div-by-zero
    z = spark.createDataFrame([([0.0, 0.0],)], "v array<double>")
    row = z.select(cosine_similarity("v", vector_literal([1.0, 0.0])).alias("c")).first()
    assert row.c is None


def test_parse_roundtrip_and_malformed(spark):
    df = spark.createDataFrame([("0.1, 0.25 ,3",), ("1,x,3",)], "s string")
    out = [r.v for r in df.select(parse_vector("s").alias("v")).collect()]
    assert out[0] == [0.1, 0.25, 3.0]
    assert out[1] == [1.0, None, 3.0]  # malformed element surfaces as NULL


def test_vector_to_csv_roundtrip(chunks):
    rt = chunks.select(
        "chunk_id",
        parse_vector(vector_to_csv("vector_embedding")).alias("v"),
        "vector_embedding",
    ).collect()
    for r in rt:
        assert r.v == r.vector_embedding


def test_cosine_matches_math(chunks):
    c = scores(chunks, cosine_similarity("vector_embedding", vector_literal(QUERY4)))
    qn = math.sqrt(sum(x * x for x in QUERY4))
    assert abs(c[3] - (0.75 / (math.sqrt(0.5) * qn))) < 1e-12


# Adversarial rows: NULL array, NULL element, empty array, dimension
# mismatch, all-zero vector, NaN and ±inf components, an overflowing
# norm, finite rows whose float32 copies differ from the doubles, and
# signed zeros.
_INF, _NAN = float("inf"), float("nan")
_ADVERSARIAL = [
    (1, None),
    (2, [1.0, None, 2.0, 0.5]),
    (3, []),
    (4, [1.0, 2.0]),
    (5, [0.0, 0.0, 0.0, 0.0]),
    (6, [_NAN, 1.0, 0.0, 2.0]),
    (7, [_INF, 1.0, 0.0, 0.0]),
    (8, [-_INF, _INF, 0.0, 1.0]),
    (9, [1e200, 1e200, 0.0, 0.0]),
    (10, [0.1, 0.2, 0.3, 0.4]),
    (11, [3.0, -4.0, 1e-3, 7.25]),
    (12, [-0.0, 0.0, -0.0, -1e-300]),
]
_QUERIES = [
    [1.0, 0.5, 0.25, 0.0],
    [0.72, 0.93, 0.81, 0.14],  # norm's last bit depends on fold order
    [0.0, 0.0, 0.0, 0.0],  # zero query
    [0.5, _NAN, 1.0, 0.0],
    [_INF, 0.0, -1.0, 0.0],
    [-0.0, 1e-300, -0.0, 1e300],
    [0.1, 0.7, -0.2],  # dimension mismatch against every 4-wide row
]


# The spec: the higher-order-function folds the compiled kernels
# (functions/VectorKernels.java) replaced, as SQL text. Each kernel
# must return exactly what its fold returns on every row.
def _as_double_sql(x: str) -> str:
    return f"transform({x}, x -> CAST(x AS DOUBLE))"


def _spec_dot(a: str, b: str) -> str:
    # the seed is 0.0D: a bare 0.0 parses as DECIMAL(1,1)
    return (
        f"aggregate(zip_with({_as_double_sql(a)}, {_as_double_sql(b)}, "
        "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def _spec_norm(a: str) -> str:
    return f"sqrt(aggregate({_as_double_sql(a)}, 0.0D, (acc, v) -> acc + v * v))"


def _spec_l2sq(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({_as_double_sql(a)}, {_as_double_sql(b)}, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v)"
    )


def _spec_cos(a: str, b: str) -> str:
    denom = f"({_spec_norm(a)} * {_spec_norm(b)})"
    return f"CASE WHEN {denom} != 0.0D THEN {_spec_dot(a, b)} / {denom} END"


def _spec_lsh(a: str, planes) -> str:
    return "CONCAT(" + ", ".join(
        f"(CASE WHEN ({_spec_dot(a, vector_literal_sql(p))}) >= 0 "
        "THEN '1' ELSE '0' END)"
        for p in planes
    ) + ")"


_SPECS = {
    "dot": (dot_product, _spec_dot),
    "l2": (l2_distance, lambda a, b: f"sqrt({_spec_l2sq(a, b)})"),
    "l2sq": (squared_l2_distance, _spec_l2sq),
    "cos": (cosine_similarity, _spec_cos),
}


def _bits(v):
    # float.hex is exact, and every NaN prints as 'nan', so NaN == NaN
    return None if v is None else float.hex(v)


def _assert_all_equal(rows, names):
    for r in rows:
        got = {n: r[n] if isinstance(r[n], str) else _bits(r[n]) for n in names}
        assert len(set(got.values())) == 1, (r["id"], got)


def test_scorer_paths_bitwise_equal(spark):
    """Every kernel, called with a name and a float list, with a list
    and a name, and with Column operands, over ``array<float>`` and
    ``array<double>`` rows, returns bitwise the value of its fold spec
    on adversarial rows; so do ``l2_norm`` and ``lsh_signature``."""
    from quick_and_easy_vectordb_spark.operators.ann import hyperplane, lsh_signature

    df = spark.createDataFrame(_ADVERSARIAL, "id int, vd array<double>").withColumn(
        "vf", F.col("vd").cast("array<float>")
    )
    cols, groups = [], []
    for vec in ("vd", "vf"):
        names = [f"norm_{vec}_{p}" for p in ("name", "col", "spec")]
        cols += [
            l2_norm(vec).alias(names[0]),
            l2_norm(F.col(vec)).alias(names[1]),
            F.expr(_spec_norm(f"`{vec}`")).alias(names[2]),
        ]
        groups.append(names)
        planes = [hyperplane(j, 4) for j in range(6)]
        names = [f"lsh_{vec}_kernel", f"lsh_{vec}_spec"]
        cols += [
            lsh_signature(vec, 6, 4).alias(names[0]),
            F.expr(_spec_lsh(f"`{vec}`", planes)).alias(names[1]),
        ]
        groups.append(names)
    for i, q in enumerate(_QUERIES):
        names = [f"norm_q{i}_{p}" for p in ("list", "spec")]
        cols += [
            l2_norm(q).alias(names[0]),
            F.expr(_spec_norm(vector_literal_sql(q))).alias(names[1]),
        ]
        groups.append(names)
        for vec in ("vd", "vf"):
            for m, (fn, spec) in _SPECS.items():
                names = [f"{m}_{vec}_q{i}_{p}" for p in ("name", "rev", "col", "spec")]
                cols += [
                    fn(vec, q).alias(names[0]),
                    fn(q, vec).alias(names[1]),
                    fn(F.col(vec), vector_literal(q)).alias(names[2]),
                    F.expr(spec(f"`{vec}`", vector_literal_sql(q))).alias(names[3]),
                ]
                groups.append(names)
    rows = df.select("id", *cols).collect()
    for names in groups:
        _assert_all_equal(rows, names)
    # Two column operands: float32 rows against double rows, each row
    # against every query.
    pairs = df.crossJoin(
        spark.createDataFrame([(q,) for q in _QUERIES], "qd array<double>")
    )
    cols, groups = [], []
    for a, b in (("vd", "qd"), ("vf", "qd"), ("vf", "vd")):
        for m, (fn, spec) in _SPECS.items():
            names = [f"{m}_{a}_{b}_{p}" for p in ("name", "col", "spec")]
            cols += [
                fn(a, b).alias(names[0]),
                fn(F.col(a), F.col(b)).alias(names[1]),
                F.expr(spec(f"`{a}`", f"`{b}`")).alias(names[2]),
            ]
            groups.append(names)
    rows = pairs.select("id", *cols).collect()
    assert len(rows) == len(_ADVERSARIAL) * len(_QUERIES)
    for names in groups:
        _assert_all_equal(rows, names)
    # l2_distance is the sqrt of squared_l2_distance, bit for bit
    for r in rows:
        for a, b in (("vd", "qd"), ("vf", "qd"), ("vf", "vd")):
            sq = r[f"l2sq_{a}_{b}_name"]
            want = None if sq is None else math.sqrt(sq)
            assert _bits(r[f"l2_{a}_{b}_name"]) == _bits(want), (r["id"], a, b)


def test_l2_distance_text_is_sqrt_of_squared(spark):
    """l2_distance's single-parse text is ``sqrt(`` around
    squared_l2_distance's, so the two cannot drift apart."""
    for b in ("b", [0.5, -1.0]):
        sq = str(squared_l2_distance("a", b))[len("Column<'"):-len("'>")]
        assert str(l2_distance("a", b)) == f"Column<'sqrt({sq})'>"


def test_invalid_vector_scores_today(spark):
    """Pins today's invalid-vector behaviour: a NULL array, a NULL
    element, an empty array and a dimension mismatch score NULL; a NaN
    component scores NaN; cosine of a zero vector is NULL."""
    df = spark.createDataFrame(_ADVERSARIAL, "id int, vd array<double>")
    q = _QUERIES[0]
    rows = {
        r.id: r
        for r in df.select(
            "id",
            dot_product("vd", q).alias("dot"),
            l2_distance("vd", q).alias("l2"),
            squared_l2_distance("vd", q).alias("l2sq"),
            cosine_similarity("vd", q).alias("cos"),
        ).collect()
    }
    metrics = ("dot", "l2", "l2sq", "cos")
    for i in (1, 2, 3, 4):
        assert all(getattr(rows[i], m) is None for m in metrics)
    assert all(math.isnan(getattr(rows[6], m)) for m in metrics)
    assert rows[5].cos is None and rows[5].dot == 0.0
