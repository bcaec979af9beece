"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``quick_and_easy_vectordb_spark/``; the query
registry (queries/registry.py) is the single source of truth mirrored
here.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from quick_and_easy_vectordb_spark.queries import registry as _registry  # noqa: E402
import quick_and_easy_vectordb_spark.queries  # noqa: F401,E402  (registration)
from quick_and_easy_vectordb_spark.session import adopt  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: reference-parity
    top-5 dot-product vector search over documents ⋈ embeddings."""
    adopt(spark)
    return _registry.QUERIES["vdb_topk_dot"].fn(spark, "/root/testdata/sf0.001")


def _ready(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        adopt(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2/§2b, each
    readying the caller's session first (``session.adopt``: vector
    kernels and confs; already done for a ``session.get_spark``
    session)."""
    return {n: _ready(fn) for n, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for every SQL-expressible query."""
    return _registry.oracle_sql()
