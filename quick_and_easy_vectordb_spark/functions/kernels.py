"""Build the engine's jar and register its vector kernels.

The jar is compiled from every ``*.java`` source next to this module:

- ``VectorKernels.java``, the vector folds. Spark's higher-order
  functions (``aggregate``, ``zip_with``, ``transform``) have no
  generated code: they run in the expression interpreter, boxing every
  element. The engine's vector folds are therefore Java functions
  instead. functions/vector.py builds every call to them.
- ``NioLocalFileSystem.java``, the ``file://`` FileSystem. Without the
  native libhadoop, which pip's pyspark does not ship, Hadoop forks
  ``chmod`` for every directory, data file and ``.crc`` file it
  writes locally; this class sets the same modes through java.nio.

How the jar is built and used:

- :func:`jar` compiles the sources with ``javac --release 17`` against
  Spark's jars into ``__kernelcache__/<sha256>/`` next to them. The key
  hashes every source and the Spark version, and the jar is moved into
  place atomically, so processes starting together on a cold cache
  each build and one jar is left. A cold cache with no ``javac`` on
  ``PATH`` raises: there is no interpreted fallback.
- ``session.get_spark`` puts the jar on the driver class path and on
  ``spark.jars``, binds the ``file`` scheme to :data:`FILE_SYSTEM`, and
  calls :func:`install`, which registers :data:`KERNELS` as SQL
  functions. A session built elsewhere (``session.adopt``, which the
  driver contract calls) gets the kernels through ``ADD JAR`` first
  and keeps Hadoop's own ``file://`` classes.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import weakref
import zipfile

import pyspark
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession
from pyspark.sql.types import DoubleType, StringType

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = sorted(glob.glob(os.path.join(HERE, "*.java")))
CACHE_DIR = os.path.join(HERE, "__kernelcache__")
JAR_NAME = "qev-engine.jar"

# SQL name -> (class in VectorKernels.java, return type)
KERNELS = {
    "qev_dot": ("Dot", DoubleType()),
    "qev_squared_l2": ("SquaredL2", DoubleType()),
    "qev_norm": ("Norm", DoubleType()),
    "qev_cosine": ("Cosine", DoubleType()),
    "qev_lsh_bits": ("LshBits", StringType()),
}
_CLASS = "qev.kernels.VectorKernels"
# the jars the sources compile against: UDF1/UDF2, scala.Seq, Hadoop's fs
_CLASSPATH_JARS = ("spark-sql-api_*.jar", "scala-library-*.jar", "hadoop-client-api-*.jar")

# Hadoop conf -> class: the file scheme for FileSystem and for FileContext
# (the path streaming checkpoints write through)
FILE_SYSTEM = {
    "fs.file.impl": "qev.fs.NioLocalFileSystem",
    "fs.AbstractFileSystem.file.impl": "qev.fs.NioLocalFileSystem$Fs",
}


def _classpath() -> str:
    jars_dir = os.path.join(_find_spark_home(), "jars")
    found = [sorted(glob.glob(os.path.join(jars_dir, p))) for p in _CLASSPATH_JARS]
    if not all(found):
        raise RuntimeError(f"no {' / '.join(_CLASSPATH_JARS)} in {jars_dir}")
    return os.pathsep.join(f[-1] for f in found)


def jar() -> str:
    """Path of the engine's jar, compiled first if the cache lacks it."""
    digest = hashlib.sha256()
    for src in SOURCES:
        with open(src, "rb") as f:
            digest.update(os.path.basename(src).encode() + b"\0" + f.read() + b"\0")
    digest.update(pyspark.__version__.encode())
    key = digest.hexdigest()
    path = os.path.join(CACHE_DIR, key, JAR_NAME)
    if os.path.isfile(path):
        return path
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            f"the engine's jar is not built for these sources and Spark "
            f"{pyspark.__version__}, and no javac is on PATH to build them: "
            f"install a JDK (17 or later) and start the session again"
        )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    work = tempfile.mkdtemp(prefix=".build-", dir=os.path.dirname(path))
    try:
        classes = os.path.join(work, "classes")
        done = subprocess.run(
            # C1 only: javac's run is too short for C2 to pay off
            [javac, "-J-XX:TieredStopAtLevel=1", "--release", "17",
             "-cp", _classpath(), "-d", classes, *SOURCES],
            capture_output=True, text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {SOURCES}:\n{done.stderr}")
        tmp_jar = os.path.join(work, JAR_NAME)
        with zipfile.ZipFile(tmp_jar, "w") as z:
            for root, _, files in os.walk(classes):
                for name in sorted(files):
                    full = os.path.join(root, name)
                    z.write(full, os.path.relpath(full, classes))
        os.replace(tmp_jar, path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return path


_INSTALLED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def install(spark: SparkSession) -> None:
    """Register :data:`KERNELS` as SQL functions of ``spark``, once per
    session. If the JVM cannot load them (the session was not built
    with the jar on ``spark.jars``), ``ADD JAR`` the jar first."""
    if spark in _INSTALLED:
        return
    utils = spark.sparkContext._jvm.org.apache.spark.util.Utils
    if not utils.classIsLoadable(f"{_CLASS}$Dot"):
        spark.sql(f"ADD JAR '{jar()}'")
    for name, (cls, return_type) in KERNELS.items():
        spark.udf.registerJavaFunction(name, f"{_CLASS}${cls}", return_type)
    _INSTALLED.add(spark)
