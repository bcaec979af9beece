"""Vector algebra: the engine's only vector folds.

Re-expresses the reference's numpy kernels as Spark SQL functions:

- raw dot product  — parity with ``np.dot(stored, query)``
  (/root/reference/app.py:45; NOT cosine — the reference never
  normalizes, see SURVEY.md §1.4.2)
- CSV vector parse — parity with ``np.fromstring(x, sep=',')``
  (/root/reference/app.py:56), but strict: malformed elements become
  NULL instead of being silently truncated
- cosine / L2      — the standard variants the reference lacks

This is the only module that builds a vector fold. Every dot product,
norm and (squared) L2 distance in the package is a call built here:
the scorers, the LSH signature (:func:`lsh_bits`), the LSH kNN's
pre-join norms, and the query surface's k-means and coreset distances.

Each fold is a compiled Java function (functions/VectorKernels.java,
built and registered at session start by functions/kernels.py), not a
higher-order-function expression: Spark's ``aggregate``/``zip_with``/
``transform`` are interpreted row by row and element by element, with
every element boxed. A kernel is the left-to-right loop of the fold it
replaced: elements cast exactly to double, the sum seeded with 0.0 and
added in index order, NULL for a NULL array, a NULL element or a length
mismatch, and a NULL cosine when ‖a‖·‖b‖ is 0. So scores stay bitwise
those of the fold, which the DuckDB oracle mirrors
(tests/test_vector_functions.py keeps the fold text as the spec every
kernel is compared with). The one exception is
:func:`decimal_squared_l2_sql`, PQ's exact decimal fold, which stays a
SQL ``aggregate``.

Plan-build cost: pass operands as column names and float sequences,
not Column objects. Then each scorer is ONE SQL string (one py4j
call), and a float sequence becomes one binary literal of big-endian
binary64 values, which the kernel decodes once per task (cosine folds
its norm then too). A Column operand costs a few py4j calls more.

Scale note: per-row O(d) arithmetic is embarrassingly parallel and
shuffle-free; at 100 TB the only cost that matters is the scan itself,
which is why callers must select only the vector + key columns they
need (column pruning keeps the ~0.5 KB/row vector payload out of
queries that don't score).
"""

from __future__ import annotations

import struct
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
    "lsh_bits",
    "parse_vector",
    "vector_to_csv",
]


def vector_literal_sql(values: Sequence[float]) -> str:
    """The SQL text of a constant ``array<double>``. Literals go
    through CAST('<repr>' AS DOUBLE): repr() is shortest-roundtrip, so
    the parse reproduces the exact binary64 values (a bare SQL decimal
    literal would parse as DECIMAL and re-round)."""
    return "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values) + ")"


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
    """A constant ``array<double>`` column, for a query that needs the
    vector itself (element-wise arithmetic, a literal column). To score
    against a constant, pass the float sequence to the scorer instead.
    Built by parsing ONE SQL string: ``F.array(*[F.lit(v) ...])`` costs
    dim+1 py4j round trips (~2.7 ms each on this class of sandbox,
    measured round 14) for the identical literal array."""
    return F.expr(vector_literal_sql(values))


def _binary64_sql(values: Sequence[float], header: bytes = b"") -> str:
    """``header`` then ``values`` as big-endian binary64, as one SQL
    binary literal: exact, and one token for the parser however long
    the vector."""
    return "X'" + (header + struct.pack(f">{len(values)}d", *values)).hex() + "'"


def _operand_sql(x) -> str | None:
    """SQL text for an operand given as a plain column name
    (backtick-quoted, so a name that collides with a SQL keyword or
    niladic function such as ``current_date`` still means the column)
    or a float sequence (a binary literal). None for anything else."""
    if isinstance(x, str) and x.isidentifier():
        return f"`{x}`"
    if isinstance(x, Sequence) and not isinstance(x, str):
        return _binary64_sql(x)
    return None


def _call_sql(name: str, *operands) -> str | None:
    """The SQL text of a call of the kernel ``name``, or None when an
    operand is a Column (or a name that is not an identifier)."""
    sql = [_operand_sql(x) for x in operands]
    return None if None in sql else f"{name}({', '.join(sql)})"


def _kernel(name: str, *operands) -> Column:
    """A call of the compiled kernel ``name``: one parsed SQL string
    when every operand is a name or a sequence, else composed from
    Columns."""
    text = _call_sql(name, *operands)
    if text is not None:
        return F.expr(text)

    def column(x) -> Column:
        if isinstance(x, Column):
            return x
        return F.col(x) if isinstance(x, str) else F.expr(_binary64_sql(x))

    return F.call_function(name, *map(column, operands))


def dot_product(
    a: Column | str | Sequence[float], b: Column | str | Sequence[float]
) -> Column:
    """Raw inner product ⟨a,b⟩ — the reference's similarity
    (reference app.py:45), summed left to right from 0.0 (a fixed
    summation order, which oracle-exact comparisons need)."""
    return _kernel("qev_dot", a, b)


def l2_norm(a: Column | str | Sequence[float]) -> Column:
    """Euclidean norm ‖a‖₂: ``sqrt`` of the sum of ``v*v`` from 0.0,
    bitwise ``sqrt(dot_product(a, a))``."""
    return _kernel("qev_norm", a)


def squared_l2_distance(
    a: Column | str | Sequence[float], b: Column | str | Sequence[float]
) -> Column:
    """Squared Euclidean distance ‖a−b‖₂²: the squared element-wise
    differences summed left to right from 0.0. :func:`l2_distance` is
    the ``sqrt`` of it."""
    return _kernel("qev_squared_l2", a, b)


def l2_distance(
    a: Column | str | Sequence[float], b: Column | str | Sequence[float]
) -> Column:
    """Euclidean distance ‖a−b‖₂, ``sqrt`` of
    :func:`squared_l2_distance`."""
    text = _call_sql("qev_squared_l2", a, b)
    if text is not None:
        return F.expr(f"sqrt({text})")
    return F.sqrt(squared_l2_distance(a, b))


def cosine_similarity(
    a: Column | str | Sequence[float], b: Column | str | Sequence[float]
) -> Column:
    """cos(a,b) = ⟨a,b⟩ / (‖a‖·‖b‖), NULL when ‖a‖·‖b‖ is 0. Each
    norm is folded once per row, a literal operand's once per task;
    scores are bitwise those of ``CASE WHEN ‖a‖·‖b‖ != 0 THEN ⟨a,b⟩ /
    (‖a‖·‖b‖) END`` over the folds above."""
    return _kernel("qev_cosine", a, b)


def lsh_bits(vec_col: str, planes: Sequence[Sequence[float]]) -> Column:
    """One ``'0'``/``'1'`` per hyperplane, bit j ``'1'`` iff
    ⟨v, planes[j]⟩ ≥ 0 in SQL order (a NaN dot counts as ≥ 0), every
    plane folded in one pass over the row. A row whose length is not
    the planes' dim, a NULL array or a NULL element gets all ``'0'``.
    ``vec_col`` must be a plain column name (``ValueError``
    otherwise)."""
    if not (isinstance(vec_col, str) and vec_col.isidentifier()):
        raise ValueError(f"lsh_bits needs a plain column name, got {vec_col!r}")
    dim = len(planes[0])
    flat = [float(v) for p in planes for v in p]
    return F.expr(
        f"qev_lsh_bits(`{vec_col}`, {_binary64_sql(flat, struct.pack('>i', dim))})"
    )


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
