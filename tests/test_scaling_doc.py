"""SCALING.md freshness pin: the growth table measures exactly the scale
tier's queries (``bench.TIER_QUERIES``, in order), each a registered
query, and every ratio follows from the seconds in its own row. The
skew shapes the K-copy tier cannot express are listed with the tests
that pin their bounds; every cited test must exist."""

from __future__ import annotations

import os
import re

import bench
from quick_and_easy_vectordb_spark.queries import QUERIES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _doc() -> str:
    return open(os.path.join(_REPO, "SCALING.md")).read()


def _growth_rows() -> list[list[str]]:
    lines = _doc().splitlines()
    heads = [i for i, ln in enumerate(lines) if ln.startswith("| query |")]
    assert len(heads) == 1, "SCALING.md needs one '| query | ...' table"
    rows = []
    for ln in lines[heads[0] + 2:]:
        if not ln.startswith("|"):
            break
        rows.append([c.strip() for c in ln.strip("|").split("|")])
    return rows


def test_scaling_rows_are_the_tier_queries():
    names = [r[0].strip("`") for r in _growth_rows()]
    assert names == list(bench.TIER_QUERIES), (
        "SCALING.md is stale — regenerate it from two bench.py runs "
        "(SPARK_GRAFT_BENCH_TIER_SCALE=10 and 30)"
    )
    assert all(n in QUERIES for n in names)


def test_scaling_ratios_divide_by_the_same_runs_1x():
    for name, a1, a10, b1, b30, r10, r30 in _growth_rows():
        assert r10 == f"{float(a10) / float(a1):.1f}x", name
        assert r30 == f"{float(b30) / float(b1):.1f}x", name


def test_scaling_skew_shapes_cite_existing_tests():
    cited = re.findall(r"(tests/test_\w+\.py)::(test_\w+)", _doc())
    assert cited
    for path, fn in cited:
        src = open(os.path.join(_REPO, path)).read()
        assert f"def {fn}(" in src, f"{path}::{fn}"
