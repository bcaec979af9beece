"""The benchmark workloads: ``search`` and ``build``.

Each workload is a closed loop with one client: the next operation is
sent only after the previous one returned. A workload object owns its
inputs and its checks; ``run.py`` owns the clock, the loop and the
metrics. Every operation is checked, and a wrong answer counts as a
failed operation.

Methods, in the order ``run.py`` calls them:

* ``generate()`` writes the seeded inputs (not timed as set-up);
* ``prepare_checks()`` computes reference answers that need no Spark
  (not timed as set-up);
* ``setup(spark)`` loads table metadata and warms up at the workload's
  own scale (timed as set-up);
* ``op(spark, i)`` runs one timed operation and returns an ``Op``.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOL = 1e-9  # float tolerance when comparing scores with NumPy


@dataclass
class Op:
    ok: bool
    rows: int  # input rows this operation processed
    latency_s: float  # engine calls only; answer checks are not timed
    kind: str  # what the operation ran: a scorer or a job
    layers: dict[str, float] = field(default_factory=dict)  # traced counters
    error: str = ""


def _load_check_module():
    """``tools/check.py`` of the checkout, for its ``canonical``."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("qev_tools_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _numpy_scores(mat: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    if metric == "dot":
        return mat @ q
    if metric == "cosine":
        return (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    return np.linalg.norm(mat - q, axis=1)


def check_top_k(got: list[tuple[int, float]], ids: np.ndarray, mat: np.ndarray,
                q: np.ndarray, metric: str, k: int) -> str:
    """Compare a top-k answer with a NumPy brute force. Ties may come
    back in either order: each returned score must match NumPy's score
    for that id, and the k scores must equal NumPy's k best scores,
    both within ``TOL``. Returns an error text, empty when right."""
    scores = _numpy_scores(mat, q, metric)
    desc = metric != "l2"
    want = np.sort(scores)[::-1][:k] if desc else np.sort(scores)[:k]
    if len(got) != min(k, len(ids)):
        return f"{len(got)} rows, expected {min(k, len(ids))}"
    pos = {int(i): n for n, i in enumerate(ids)}
    if len({g[0] for g in got}) != len(got):
        return "duplicate ids"
    for (gid, gs), ws in zip(got, want):
        if gid not in pos:
            return f"unknown id {gid}"
        if abs(gs - scores[pos[gid]]) > TOL or abs(gs - ws) > TOL:
            return f"id {gid} score {gs!r}, expected {ws!r}"
    return ""


class Search:
    """Repeated exact top-5 requests over the 2,000 x 64 embeddings,
    each through ``operators.search.top_k_by_dot`` on a fresh
    ``catalog.load_table`` scan. Plan build, py4j, Catalyst and task
    launch dominate; executor compute is small."""

    name = "search"
    K = 5
    WARMUP = 100
    MAX_OPS = 5_000

    def __init__(self, seed: int, tmp: str, tracer) -> None:
        self.seed, self.dir, self.tracer = seed, os.path.join(tmp, "data"), tracer

    def generate(self) -> dict:
        sizes = inputs.write_base(self.seed, self.dir)
        self.ids, vecs, _ = inputs.embeddings_arrays(self.seed)
        self.mat = vecs.astype(np.float64)
        self.queries, self.metrics = inputs.search_requests(self.seed, self.MAX_OPS)
        return {"rows": {"embeddings": inputs.N_VECS},
                "bytes": {"embeddings": sizes["embeddings"]}}

    def prepare_checks(self) -> None:
        pass

    def setup(self, spark) -> None:
        from quick_and_easy_vectordb_spark.sources.catalog import load_table

        load_table(spark, self.dir, "embeddings").schema  # noqa: B018
        for i in range(self.WARMUP):
            op = self.request(spark, self.queries[-1 - i], self.metrics[-1 - i])
            if not op.ok:
                raise RuntimeError(f"search warm-up answer wrong: {op.error}")

    def request(self, spark, q: np.ndarray, metric: str) -> Op:
        from quick_and_easy_vectordb_spark.operators.search import top_k_by_dot
        from quick_and_easy_vectordb_spark.sources.catalog import load_table

        t0 = time.perf_counter()
        tr = self.tracer
        with tr.span("sources.load_table"):
            emb = load_table(spark, self.dir, "embeddings")
        with tr.span("queries.plan_build"):
            df = top_k_by_dot(emb, q.tolist(), k=self.K, vector_col="embedding",
                              id_col="vec_id", metric=metric)
        tr.plan(df)
        with tr.span("spark.action"):
            rows = df.select("vec_id", "similarity").collect()
        latency_s = time.perf_counter() - t0
        err = check_top_k([(r[0], r[1]) for r in rows], self.ids, self.mat, q,
                          metric, self.K)
        return Op(ok=not err, rows=inputs.N_VECS, latency_s=latency_s, kind=metric,
                  error=err)

    def op(self, spark, i: int) -> Op:
        return self.request(spark, self.queries[i % self.MAX_OPS],
                            self.metrics[i % self.MAX_OPS])


# Registered LLM-pipeline jobs of a build pass, with the tables each reads.
BUILD_QUERIES = (
    ("dedup_minhash_lsh", ("documents",)),
    ("ann_ivf_pq_search", ("embeddings",)),
    ("mm_pdf_extract_chunks", ("documents",)),
)
# The pass's last job: a batch build of the bucket-partitioned LSH index
# over the corpus' embeddings, through the streaming index maintenance
# (one availableNow run into a fresh index).
INDEX_JOB = "lsh_index_build"
BUILD_JOBS = tuple(name for name, _ in BUILD_QUERIES) + (INDEX_JOB,)
LSH_PLANES = 8  # stream_lsh_index_maintenance's default


def lsh_buckets(vecs: np.ndarray, planes: np.ndarray) -> list[str]:
    """LSH bucket strings as ``operators.ann.lsh_signature`` computes
    them: bit j is 1 iff the left-to-right double fold of v * H_j is
    >= 0. ``np.add.accumulate`` sums strictly in order, so the signs
    agree with Spark's to the last bit."""
    folds = np.add.accumulate(vecs[:, None, :] * planes[None, :, :], axis=2)[:, :, -1]
    return ["".join("1" if b else "0" for b in row) for row in folds >= 0]


class Build:
    """Repeated passes of the LLM-pipeline batch jobs over a K-copy
    corpus: MinHash-LSH dedup, IVF-PQ search, PDF extraction and
    chunking, and the LSH index build. Compute, shuffle, the
    Python/Arrow boundary and file writes dominate; plan build is a
    small share. Each job is one operation; the timed loop runs whole
    passes, so every run sees the same job mix."""

    name = "build"
    COPIES = 2

    def __init__(self, seed: int, tmp: str, tracer) -> None:
        self.seed, self.tmp, self.tracer = seed, tmp, tracer
        self.dir = os.path.join(tmp, f"x{self.COPIES}")
        self.stream_src = os.path.join(tmp, "stream-src")

    def generate(self) -> dict:
        base = os.path.join(self.tmp, "base")
        inputs.write_base(self.seed, base)
        sizes = inputs.write_copies(base, self.dir, self.COPIES)
        # the index build streams the embeddings file alone
        os.makedirs(self.stream_src)
        os.link(os.path.join(self.dir, "embeddings.parquet"),
                os.path.join(self.stream_src, "embeddings.parquet"))
        self.rows = {"documents": inputs.N_DOCS * self.COPIES,
                     "embeddings": inputs.N_VECS * self.COPIES}
        return {"rows": self.rows, "bytes": sizes, "copies": self.COPIES}

    def prepare_checks(self) -> None:
        """Each query's DuckDB oracle over the same generated directory,
        and the index's expected (vec_id, bucket) rows from NumPy."""
        import duckdb

        from quick_and_easy_vectordb_spark.operators.ann import hyperplane
        from quick_and_easy_vectordb_spark.queries import QUERIES

        self.check = _load_check_module()
        self.expected = {}
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.dir, f"{t}.parquet").replace("'", "''")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name, _ in BUILD_QUERIES:
                n, cols, h, _rows = self.check.canonical(con.sql(QUERIES[name].oracle).df())
                self.expected[name] = (n, cols, h)
        finally:
            con.close()
        emb = pq.read_table(os.path.join(self.dir, "embeddings.parquet"))
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        planes = np.array([hyperplane(j, inputs.DIM) for j in range(LSH_PLANES)])
        self.expected[INDEX_JOB] = sorted(zip(
            emb.column("vec_id").to_pylist(), lsh_buckets(vecs.astype(np.float64), planes)))

    def query_job(self, spark, name: str, tables: tuple[str, ...]) -> Op:
        from quick_and_easy_vectordb_spark.queries import QUERIES

        # Persisted intermediates of one job must not serve the next
        # pass: every pass is a full batch build.
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        tr = self.tracer
        with tr.span("queries.plan_build"):
            df = QUERIES[name].fn(spark, self.dir)
        tr.plan(df)
        with tr.span("spark.action"):
            result = df.toPandas()
        latency_s = time.perf_counter() - t0
        n, cols, h, _rows = self.check.canonical(result)
        want = self.expected[name]
        err = "" if (n, cols, h) == want else (
            f"{name}: {n} rows [{h}] vs oracle {want[0]} rows [{want[2]}]")
        return Op(ok=not err, rows=sum(self.rows[t] for t in tables),
                  latency_s=latency_s, kind=name, error=err,
                  layers={f"job.{name}_s": latency_s})

    def index_job(self, spark, i: int) -> Op:
        from quick_and_easy_vectordb_spark.streaming.index_maintenance import (
            read_lsh_index,
            stream_lsh_index_maintenance,
        )

        out = os.path.join(self.tmp, f"index-{i}")
        index = os.path.join(out, "index")
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("streaming.start"):
            q = stream_lsh_index_maintenance(spark, self.stream_src, index,
                                             os.path.join(out, "checkpoint"),
                                             LSH_PLANES, inputs.DIM)
        tr.stream_started(q)
        with tr.span("streaming.await"):
            q.awaitTermination()
        latency_s = time.perf_counter() - t0
        layers = {f"job.{INDEX_JOB}_s": latency_s}
        if tr.enabled:
            for p in q.recentProgress:
                d = p["durationMs"]
                for key, parts in (("streaming.trigger_s", ("triggerExecution",)),
                                   ("streaming.add_batch_s", ("addBatch",)),
                                   ("streaming.commit_s", ("walCommit", "commitOffsets"))):
                    layers[key] = layers.get(key, 0.0) + sum(d.get(n, 0) for n in parts) / 1e3
            layers["sources.index_files"], layers["sources.index_bytes"] = dir_usage(index)
        got = sorted(read_lsh_index(spark, index).select("vec_id", "lsh_bucket")
                     .toPandas().itertuples(index=False, name=None))
        shutil.rmtree(out)
        err = "" if got == self.expected[INDEX_JOB] else (
            f"{INDEX_JOB}: {len(got)} rows differ from the expected "
            f"{len(self.expected[INDEX_JOB])} (vec_id, bucket) rows")
        return Op(ok=not err, rows=self.rows["embeddings"], latency_s=latency_s,
                  kind=INDEX_JOB, error=err, layers=layers)

    def op(self, spark, i: int) -> Op:
        j = i % len(BUILD_JOBS)
        if j < len(BUILD_QUERIES):
            return self.query_job(spark, *BUILD_QUERIES[j])
        return self.index_job(spark, i)

    def setup(self, spark) -> None:
        for i in range(len(BUILD_JOBS)):  # one warm pass at full scale
            op = self.op(spark, i)
            if not op.ok:
                raise RuntimeError(f"build warm-up answer wrong: {op.error}")


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under a directory."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


WORKLOADS = {w.name: w for w in (Search, Build)}
