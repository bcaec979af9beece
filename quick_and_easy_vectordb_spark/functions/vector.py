"""Vector algebra as Catalyst higher-order functions.

Re-expresses the reference's numpy kernels as JVM-side expressions:

- raw dot product  — parity with ``np.dot(stored, query)``
  (/root/reference/app.py:45; NOT cosine — the reference never
  normalizes, see SURVEY.md §1.4.2)
- CSV vector parse — parity with ``np.fromstring(x, sep=',')``
  (/root/reference/app.py:56), but strict: malformed elements become
  NULL instead of being silently truncated
- cosine / L2      — the standard variants the reference lacks

This is the only module that writes a vector fold. Every dot product,
norm and (squared) L2 distance in the package is built here: the
scorers, the LSH signature's per-plane terms (:func:`dot_product_sql`),
the LSH kNN's pre-join norms, and the query surface's k-means and
coreset distances. The fold's shape and summation order, which the
DuckDB oracle mirrors bit for bit, is therefore defined once.

All functions operate on ``array<double>`` (or ``array<float>``, which
Spark happily feeds into double arithmetic via the lambda casts) and
compile into whole-stage-codegen'd ``transform``/``zip_with``/
``aggregate`` expressions — no Python in the hot path, no UDF
serialization, fully columnar under Parquet + Tungsten.

Plan-build cost: pass operands as column names and float sequences,
not Column objects. A name or a sequence lets each scorer build its
whole expression from ONE SQL string (one py4j call); a Column operand
makes it compose the tree with Column operators instead, roughly 10
py4j calls per lambda (cosine builds seven to ten lambdas). A literal
sequence is inlined with exact binary64 values, so both forms score
bitwise identically.

Scale note: per-row O(d) arithmetic inside codegen is embarrassingly
parallel and shuffle-free; at 100 TB the only cost that matters is the
scan itself, which is why callers must select only the vector + key
columns they need (column pruning keeps the ~0.5 KB/row vector payload
out of queries that don't score).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "vector_literal",
    "dot_product",
    "l2_norm",
    "squared_l2_distance",
    "l2_distance",
    "cosine_similarity",
    "parse_vector",
    "vector_to_csv",
]


def _double_sql(x: float) -> str:
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def vector_literal_sql(values: Sequence[float]) -> str:
    """The SQL text of a constant ``array<double>``. Literals go
    through CAST('<repr>' AS DOUBLE): repr() is shortest-roundtrip, so
    the parse reproduces the exact binary64 values (a bare SQL decimal
    literal would parse as DECIMAL and re-round)."""
    return "array(" + ", ".join(_double_sql(v) for v in values) + ")"


def dot_product_sql(a: str, b: str) -> str:
    """The SQL text of ⟨a,b⟩ for two operands given as SQL text (a
    quoted column name, :func:`vector_literal_sql`, ...). The one
    definition of the fold: :func:`dot_product` parses it, and
    operators/ann.py lsh_signature concatenates it into CASE terms."""
    return _DOT_SQL.format(a, b)


def decimal_squared_l2_sql(a: str, b: str) -> str:
    """The SQL text of ‖a−b‖₂² summed exactly: each squared difference
    is rounded once to DECIMAL(30,10) and the fold adds in
    DECIMAL(38,10), so the total matches the oracle's
    ``SUM(CAST(diff2 AS DECIMAL(30,10)))`` whatever its order. Spark
    types (38,10)+(30,10) as (38,9); the lossless cast keeps the
    accumulator type fixed at (38,10). operators/ann.py pq_encode
    assigns codewords with it."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(a, b) -> CAST((a - b) * (a - b) AS DECIMAL(30,10))), "
        f"CAST(0 AS DECIMAL(38,10)), "
        f"(acc, x) -> CAST(acc + x AS DECIMAL(38,10)))"
    )


def vector_literal(values: Sequence[float]) -> Column:
    """A constant ``array<double>`` column. Catalyst constant-folds this
    into the projection, which is the distributed analog of broadcasting
    the query vector to every executor (cf. reference app.py:42-45 where
    the query embedding is a Python closure variable). Built by parsing
    ONE SQL string: ``F.array(*[F.lit(v) ...])`` costs dim+1 py4j round
    trips (~2.7 ms each on this class of sandbox, measured round 14)
    for the identical literal array."""
    return F.expr(vector_literal_sql(values))


def _is_literal(x) -> bool:
    return isinstance(x, Sequence) and not isinstance(x, str)


def _sql_operand(x) -> str | None:
    """SQL text for an operand the single-parse fast path can accept:
    a plain column name or a float sequence (inlined literal array).
    Anything else (an arbitrary Column object) returns None and takes
    the Column-composition path."""
    if isinstance(x, str) and x.isidentifier():
        # Backtick-quoted (ADVICE r14): a bare name that collides with
        # a SQL keyword or niladic function (current_date, ...) would
        # resolve differently from F.col(name); quoting pins column
        # semantics while keeping the single-parse path.
        return f"`{x}`"
    if _is_literal(x):
        return vector_literal_sql(x)
    return None


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


_AS_DOUBLE_SQL = "transform({0}, x -> CAST(x AS DOUBLE))"
# the fold seeds are written 0.0D (double literal): a bare SQL 0.0
# parses as DECIMAL(1,1) and would change the accumulator type
_DOT_SQL = (
    "aggregate(zip_with(" + _AS_DOUBLE_SQL.format("{0}") + ", "
    + _AS_DOUBLE_SQL.format("{1}")
    + ", (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
)
_NORM_SQL = (
    "sqrt(aggregate(" + _AS_DOUBLE_SQL.format("{0}")
    + ", 0.0D, (acc, v) -> acc + v * v))"
)
_SQ_L2_SQL = (
    "aggregate(zip_with(" + _AS_DOUBLE_SQL.format("{0}") + ", "
    + _AS_DOUBLE_SQL.format("{1}")
    + ", (x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v)"
)


def _as_column(x: Column | str | Sequence[float]) -> Column:
    if isinstance(x, Column):
        return x
    return F.col(x) if isinstance(x, str) else vector_literal(x)


def _literal_norm(values: Sequence[float]) -> float:
    """‖values‖₂ folded in Python exactly as the SQL fold does it:
    left to right, ``acc + v*v`` from 0.0, then a correctly rounded
    sqrt, so it is bitwise the value Spark would compute per row."""
    acc = 0.0
    for v in values:
        acc = acc + float(v) * float(v)
    return math.sqrt(acc)


def dot_product(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """Raw inner product ⟨a,b⟩ — the reference's similarity
    (reference app.py:45). ``zip_with`` multiplies element-wise,
    ``aggregate`` folds left-to-right with a double accumulator, which
    fixes a deterministic summation order (important for oracle-exact
    comparisons). Pass column names and float sequences: they take the
    single-parse SQL path, one py4j call for the whole expression. A
    Column operand composes the identical expression from Column
    operators, roughly 10 py4j calls per lambda."""
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        return F.expr(dot_product_sql(sa, sb))
    a, b = _as_column(a), _as_column(b)
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str | Sequence[float]) -> Column:
    """Euclidean norm ‖a‖₂: ``sqrt`` of the fold ``acc + v*v`` from
    0.0, bitwise ``sqrt(dot_product(a, a))``."""
    sa = _sql_operand(a)
    if sa is not None:
        return F.expr(_NORM_SQL.format(sa))
    a = _as_column(a)
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def squared_l2_distance(
    a: Column | str | Sequence[float], b: Column | str | Sequence[float]
) -> Column:
    """Squared Euclidean distance ‖a−b‖₂²: ``zip_with`` squares the
    element-wise differences, ``aggregate`` folds them left to right
    from 0.0. :func:`l2_distance` is the ``sqrt`` of this fold."""
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        return F.expr(_SQ_L2_SQL.format(sa, sb))
    a, b = _as_column(a), _as_column(b)
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_distance(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """Euclidean distance ‖a−b‖₂, ``sqrt`` of
    :func:`squared_l2_distance`."""
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:
        return F.expr(f"sqrt({_SQ_L2_SQL.format(sa, sb)})")
    return F.sqrt(squared_l2_distance(a, b))


# Lambda variables binding each operand's sum of squares in the cosine
# finish lambdas; the operands' SQL text sits inside those lambdas, so
# the names must not be ones a column could plausibly carry.
_COS_SUMSQ = ("__qev_cos_a2", "__qev_cos_b2")


def cosine_similarity(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """cos(a,b) = ⟨a,b⟩ / (‖a‖·‖b‖). NULL when ‖a‖·‖b‖ is 0.

    Each norm is computed once per row: the sum of squares is folded
    by ``aggregate`` and the score is that fold's finish lambda,
    ``CASE WHEN ‖a‖·‖b‖ != 0 THEN ⟨a,b⟩ / (‖a‖·‖b‖) END`` (Spark
    shares no subexpression across CASE branches, so writing the norms
    inline would fold each twice). A literal sequence's norm is folded
    once per call, in Python, with the same operations and order, and
    inlined as a constant: a literal query costs two folds per row,
    the dot and the row's norm. Scores are bitwise those of the inline
    formula. Pass column names and float sequences: they take the
    single-parse SQL path, one py4j call for the whole expression. A
    Column operand composes the identical expression from Column
    operators, roughly 10 py4j calls per lambda (seven to ten here)."""
    sa, sb = _sql_operand(a), _sql_operand(b)
    if sa is not None and sb is not None:

        def with_norm_sql(x, sx: str, var: str, finish) -> str:
            if _is_literal(x):
                return finish(_double_sql(_literal_norm(x)))
            return (
                f"aggregate({_AS_DOUBLE_SQL.format(sx)}, 0.0D, "
                f"(acc, v) -> acc + v * v, {var} -> {finish(f'sqrt({var})')})"
            )

        def score_sql(na: str, nb: str) -> str:
            denom = f"({na} * {nb})"
            return (
                f"CASE WHEN {denom} != 0.0D "
                f"THEN {dot_product_sql(sa, sb)} / {denom} END"
            )

        va, vb = _COS_SUMSQ
        expr = with_norm_sql(
            a, sa, va,
            lambda na: with_norm_sql(b, sb, vb, lambda nb: score_sql(na, nb)),
        )
        return F.expr(expr)

    def score(na: Column, nb: Column) -> Column:
        denom = na * nb
        return F.when(denom != 0.0, dot_product(a, b) / denom)

    def with_norm(x, finish):
        """``finish(‖x‖)``, with a column's norm bound by its fold."""
        if _is_literal(x):
            return finish(F.lit(_literal_norm(x)))
        return F.aggregate(
            _as_double(_as_column(x)),
            F.lit(0.0),
            lambda acc, v: acc + v * v,
            lambda s2: finish(F.sqrt(s2)),
        )

    return with_norm(a, lambda na: with_norm(b, lambda nb: score(na, nb)))


def parse_vector(col: Column | str) -> Column:
    """Parse ``"0.1,0.2,0.3"`` → ``array<double>``.

    Parity with the reference CSV loader (/root/reference/app.py:56,
    ``np.fromstring(sep=',')``) with one deliberate fix: where
    ``np.fromstring`` silently truncates on a malformed tail
    (SURVEY.md §1.4.5), a malformed element here becomes NULL so bad
    input is *visible* (callers may filter or assert). ``try_cast``
    (not ``cast``) so ANSI mode yields NULL instead of failing the
    whole job on one bad element."""
    col = F.col(col) if isinstance(col, str) else col
    return F.transform(F.split(col, ","), lambda x: F.trim(x).try_cast("double"))


def vector_to_csv(col: Column | str, precision: int | None = None) -> Column:
    """Serialize ``array<numeric>`` → ``"0.1,0.2,..."`` (inverse of
    :func:`parse_vector`; matches the reference's working quoted-CSV wire
    format, SURVEY.md §1.4.4). ``precision`` rounds each element first
    — via ``F.round``, NOT ``format_number``, whose grouping separators
    ("1,234.57") would corrupt the comma-delimited wire format."""
    col = F.col(col) if isinstance(col, str) else col
    elems = (
        F.transform(
            col, lambda x: F.round(x.cast("double"), precision).cast("string")
        )
        if precision is not None
        else F.transform(col, lambda x: x.cast("double").cast("string"))
    )
    return F.array_join(elems, ",")
