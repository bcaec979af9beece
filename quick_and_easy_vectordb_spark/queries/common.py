"""Shared constants/helpers for the query surface."""

from __future__ import annotations

from collections.abc import Sequence

# Deterministic 64-dim query vector (matches the embeddings table's
# dimensionality, FIXTURES.md §B). Two-decimal values so the literal
# parses to the identical double in Spark and DuckDB.
DIM = 64
QUERY_VEC: list[float] = [((i * 37 + 11) % 101 - 50) / 100.0 for i in range(DIM)]

# A second, different query vector for multi-query operators.
QUERY_VEC2: list[float] = [((i * 53 + 29) % 101 - 50) / 100.0 for i in range(DIM)]


def sql_vec(values: Sequence[float]) -> str:
    """Render a vector as a DuckDB DOUBLE[] literal.

    Exponent form ({v:.17e}) is load-bearing: DuckDB parses it as
    DOUBLE directly, while a bare high-precision literal parses as
    DECIMAL(19,18) whose DOUBLE conversion can differ from the
    Spark-side literal by one ulp."""
    return (
        "[" + ", ".join(f"{float(v):.17e}" for v in values) + "]::DOUBLE[]"
    )


# DuckDB SQL fragments mirroring functions/vector.py exactly:
# dot as a sequential double fold == list_dot_product on DOUBLE[];
# cosine written out explicitly (NOT list_cosine_similarity) so the
# operation order matches Spark's dot/(sqrt(dot_aa)*sqrt(dot_bb)).
def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def sql_cosine(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


def sql_l2sq(a: str, b: str) -> str:
    # ‖a−b‖₂² with the same fold shape as
    # functions.vector.squared_l2_distance
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def sql_l2(a: str, b: str) -> str:
    # ‖a−b‖₂ with the same fold shape as functions.vector.l2_distance
    return f"sqrt({sql_l2sq(a, b)})"
