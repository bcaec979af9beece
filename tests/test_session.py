"""Session start: the engine jar's build and cache, the java.nio
``file://`` FileSystem it binds, the readying of a session built
elsewhere, the shuffle partition count taken from the cluster, and
confs that are set once at session start rather than while a plan is
built."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading

from quick_and_easy_vectordb_spark.functions import kernels
from quick_and_easy_vectordb_spark.queries import QUERIES
from quick_and_easy_vectordb_spark.sources.catalog import load_table
from quick_and_easy_vectordb_spark.streaming.index_maintenance import (
    stream_lsh_index_maintenance,
)
from quick_and_easy_vectordb_spark.streaming.windows import (
    drain,
    read_events_stream,
    stream_tumbling_counts,
)

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


def _modes(root: str) -> dict[str, set[int]]:
    """Permission bits under ``root`` by kind: dir, crc or file."""
    out: dict[str, set[int]] = {}
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            kind = "dir" if n in dirs else "crc" if n.endswith(".crc") else "file"
            out.setdefault(kind, set()).add(os.stat(os.path.join(d, n)).st_mode & 0o7777)
    return out


def _permission_calls(spark) -> tuple[int, int]:
    fs = spark.sparkContext._jvm.qev.fs.NioLocalFileSystem
    return fs.permissionsSet(), fs.permissionsDeferred()


def test_plan_build_leaves_session_conf_unchanged(spark, sf_dir, tmp_path):
    """Reading events, batch or streamed, sets no conf: the parquet
    nanos rule is set once at session start. A query whose staged input
    is a dynamic partition overwrite sets none either."""
    before = dict(spark.conf.getAll)
    assert before["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    load_table(spark, sf_dir, "events").schema  # noqa: B018
    feed = tmp_path / "feed"
    feed.mkdir()
    os.symlink(os.path.join(sf_dir, "events.parquet"), feed / "events.parquet")
    read_events_stream(spark, str(feed)).schema  # noqa: B018
    # a fixture dir of its own, so the staged write runs in this test
    own_sf = tmp_path / "sf"
    os.symlink(sf_dir, own_sf)
    QUERIES["src_copy_on_write_update"].fn(spark, str(own_sf)).collect()
    assert dict(spark.conf.getAll) == before


def test_shuffle_partitions_are_the_cluster_cores(spark):
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        spark.sparkContext.defaultParallelism
    )


def test_extra_conf_shuffle_partitions_win():
    """A count given in ``extra_conf`` is kept (a fresh JVM, so the
    session is built here, not reused)."""
    code = (
        f"from {PACKAGE}.session import get_spark\n"
        "s = get_spark(master='local[2]',"
        " extra_conf={'spark.sql.shuffle.partitions': '3'})\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'),"
        " s.sparkContext.defaultParallelism)\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="512m"),
        capture_output=True, text=True,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.split()[-2:] == ["3", "2"]


def test_stream_state_partitions_are_the_cluster_cores(spark, sf_dir, tmp_path):
    """Streams get no AQE: a stateful stream's state store takes the
    session's shuffle partition count, which is the cluster's cores."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.parts: list[int] = []
            self.ended = threading.Event()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.parts += [so.numShufflePartitions for so in event.progress.stateOperators]

        def onQueryTerminated(self, event) -> None:
            self.ended.set()

    feed = tmp_path / "feed"
    feed.mkdir()
    os.symlink(os.path.join(sf_dir, "events.parquet"), feed / "events.parquet")
    listener = Listener()
    spark.streams.addListener(listener)
    try:
        counts = stream_tumbling_counts(read_events_stream(spark, str(feed)))
        assert drain(counts, "state_partitions_probe", "update").count() > 0
        assert listener.ended.wait(60)
    finally:
        spark.streams.removeListener(listener)
    assert listener.parts
    assert set(listener.parts) == {spark.sparkContext.defaultParallelism}


def test_file_scheme_is_the_engine_file_system(spark):
    """Both local bindings of ``get_spark``'s session, the cached
    FileSystem and FileContext's, are the engine's java.nio classes."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == kernels.FILE_SYSTEM["fs.file.impl"]
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert (fc.getDefaultFileSystem().getClass().getName()
            == kernels.FILE_SYSTEM["fs.AbstractFileSystem.file.impl"])


def test_local_writes_keep_hadoop_modes(spark, sf_dir, tmp_path):
    """A partitioned parquet write and an index-maintenance stream
    (sink, checkpoint, file-sink log) leave 0755 directories and 0644
    data and ``.crc`` files, as Hadoop's chmod-forking class does.
    Every file was written in a task and had its mode set through the
    engine class (local mode runs tasks in the driver JVM, so the
    class's counter sees them)."""
    before, deferred = _permission_calls(spark)
    part = tmp_path / "part"
    spark.range(200).selectExpr("id", "id % 7 AS k").write.partitionBy("k").parquet(
        str(part))
    n_files = sum(len(files) for _, _, files in os.walk(part))
    assert n_files > 14
    assert _permission_calls(spark)[0] - before >= n_files
    assert _modes(str(part)) == {"dir": {0o755}, "file": {0o644}, "crc": {0o644}}

    src = tmp_path / "src"
    src.mkdir()
    os.symlink(os.path.join(sf_dir, "embeddings.parquet"), src / "embeddings.parquet")
    dim = len(spark.read.parquet(str(src)).first().embedding)
    out = tmp_path / "lsh"
    q = stream_lsh_index_maintenance(
        spark, str(src), str(out / "index"), str(out / "checkpoint"), 4, dim)
    q.awaitTermination(120)
    modes = _modes(str(out))
    assert modes == {"dir": {0o755}, "file": {0o644}, "crc": {0o644}}, modes
    assert os.listdir(out / "index" / "_spark_metadata")
    assert _permission_calls(spark)[1] == deferred


def test_set_permission_gives_exact_modes(spark, tmp_path):
    """Modes within 0777 are set through java.nio; a sticky bit goes to
    Hadoop's own code (a forked chmod). Both come out exact."""
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    target = tmp_path / "f"
    target.write_bytes(b"x")
    for mode in (0o600, 0o644, 0o700, 0o755, 0o1777):
        calls, deferred = _permission_calls(spark)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        assert os.stat(target).st_mode & 0o7777 == mode
        assert _permission_calls(spark) == (calls + 1, deferred + (mode > 0o777))


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


def test_session_after_a_foreign_one_keeps_hadoop_file_system(tmp_path):
    """``get_spark`` in a process whose JVM a plain session started (and
    stopped) cannot bind the engine class, which is not on that JVM's
    class path: local writes, streaming checkpoints included, stay on
    Hadoop's classes and work."""
    code = (
        "import sys\n"
        "from pyspark.sql import SparkSession\n"
        "SparkSession.builder.master('local[1]').config('spark.driver.memory', '512m')"
        ".config('spark.ui.enabled', 'false').getOrCreate().stop()\n"
        f"from {PACKAGE}.session import get_spark\n"
        "s = get_spark(master='local[1]')\n"
        "d = sys.argv[1]\n"
        "s.range(10).write.parquet(d + '/p')\n"
        "q = (s.readStream.schema('id long').parquet(d + '/p').writeStream"
        ".format('parquet').option('path', d + '/o')"
        ".option('checkpointLocation', d + '/ck').trigger(availableNow=True).start())\n"
        "q.awaitTermination()\n"
        "print(s.read.parquet(d + '/o').count())\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)], cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="512m"),
        capture_output=True, text=True,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.split()[-1] == "10"
