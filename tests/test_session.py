"""Session start: the compiled vector kernels' build and cache, the
readying of a session built elsewhere, and confs that are set once at
session start rather than while a plan is built."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

from quick_and_easy_vectordb_spark.functions import kernels
from quick_and_easy_vectordb_spark.sources.catalog import load_table
from quick_and_easy_vectordb_spark.streaming.windows import read_events_stream

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "quick_and_easy_vectordb_spark"


def _cold_copy(tmp_path) -> str:
    """A copy of the package with an empty kernel cache."""
    shutil.copytree(
        os.path.join(ROOT, PACKAGE),
        tmp_path / PACKAGE,
        ignore=shutil.ignore_patterns("__pycache__", "__kernelcache__"),
    )
    return str(tmp_path)


def _cache_files(root: str) -> list[str]:
    cache = os.path.join(root, PACKAGE, "functions", "__kernelcache__")
    return sorted(
        os.path.relpath(os.path.join(d, f), cache)
        for d, _, files in os.walk(cache)
        for f in files
    )


def test_plan_build_leaves_session_conf_unchanged(spark, sf_dir, tmp_path):
    """Reading events, batch or streamed, sets no conf: the parquet
    nanos rule is set once at session start."""
    before = dict(spark.conf.getAll)
    assert before["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    load_table(spark, sf_dir, "events").schema  # noqa: B018
    feed = tmp_path / "feed"
    feed.mkdir()
    os.symlink(os.path.join(sf_dir, "events.parquet"), feed / "events.parquet")
    read_events_stream(spark, str(feed)).schema  # noqa: B018
    assert dict(spark.conf.getAll) == before


def test_cold_cache_without_javac_raises(tmp_path):
    root = _cold_copy(tmp_path)
    empty_bin = tmp_path / "bin"
    empty_bin.mkdir()
    env = dict(os.environ, PYTHONPATH=root, PATH=str(empty_bin))
    done = subprocess.run(
        [sys.executable, "-c",
         f"from {PACKAGE}.session import get_spark; get_spark()"],
        cwd=root, env=env, capture_output=True, text=True,
    )
    assert done.returncode != 0
    assert "no javac is on PATH" in done.stderr
    assert _cache_files(root) == []


def test_concurrent_cold_starts_leave_one_jar(tmp_path):
    """Two processes starting sessions at once on a cold cache both
    build the kernels, run one, and leave exactly one jar."""
    root = _cold_copy(tmp_path)
    code = (
        f"from {PACKAGE}.session import get_spark\n"
        "s = get_spark(master='local[1]')\n"
        "print(s.sql(\"SELECT qev_dot(array(2.0D), X'3FF0000000000000')\").first()[0])\n"
    )
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="512m")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code], cwd=root, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=300) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err[-2000:]
        assert out.split()[-1] == "2.0"
    jars = _cache_files(root)
    assert len(jars) == 1 and jars[0].endswith(os.sep + kernels.JAR_NAME), jars


def test_driver_contract_readies_a_foreign_session():
    """``entry(spark)`` on a session built without ``get_spark`` (no
    kernel jar on its class path, no engine confs) adds the kernels
    with ``ADD JAR``, sets the confs and runs."""
    code = (
        "from pyspark.sql import SparkSession\n"
        "s = (SparkSession.builder.master('local[1]')\n"
        "     .config('spark.driver.memory', '512m')\n"
        "     .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "import __spark_entry__ as m\n"
        "rows = m.entry(s).collect()\n"
        "print(len(rows), s.conf.get('spark.sql.legacy.parquet.nanosAsLong'))\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=ROOT), capture_output=True, text=True,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.split()[-2:] == ["5", "true"]
