"""UDF/UDAF/UDTF surface queries — the Python extension points, each
Arrow-batched (never row-at-a-time):

- scalar pandas UDF     → vdb_topk_cosine_arrow (queries/vector.py)
- grouped-AGG pandas UDF (the UDAF surface) → udf_grouped_agg_median
- grouped-MAP applyInPandas                 → udf_grouped_map_gaps
- mapInPandas (stream of batches)           → mm_binary_features
  (queries/multimodal.py)
- approximate sketch (HLL++ / GK)           → udf_approx_distinct,
  udf_approx_quantiles (oracle checks the exact column + a tolerance
  flag; raw sketch estimates are engine-specific by design)

The reference's only "UDF" is its embed function + two pandas .apply
lambdas (reference app.py:27-37, :45, :56); this module is the
generalized, oracle-checked version of that extension surface.
Exactness discipline: every oracle-checked UDF here computes in
integer space (epoch micros, char counts), so Python/numpy results
are bit-identical to the SQL oracle — float reductions in numpy do
NOT match engine fold order and are only safe rows-only or rank-only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from quick_and_easy_vectordb_spark.operators.util import ensure_parallelism
from quick_and_easy_vectordb_spark.queries.registry import query
from quick_and_easy_vectordb_spark.sources.catalog import load_table
from quick_and_easy_vectordb_spark.sources.scratch import fresh, staged


@query(
    "udf_grouped_agg_median",
    oracle="""
SELECT lang, median(n_chars) AS median_chars, COUNT(*) AS n_docs
FROM documents GROUP BY lang
""",
    tags=("udf", "udaf", "agg"),
)
def udf_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Spark's UDAF surface): exact
    per-language median of an integer column. Arrow ships each group's
    column to one numpy call; n_chars is int so np.median's half-sum
    is exact and matches DuckDB's interpolated median bit-for-bit."""

    @pandas_udf("double")
    def int_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    @pandas_udf("long")
    def group_size(v: pd.Series) -> int:
        # pandas UDAFs can't mix with JVM aggregates in one agg(), so
        # the row count is a (trivial) second pandas UDAF
        return len(v)

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        int_median("n_chars").alias("median_chars"),
        group_size("n_chars").alias("n_docs"),
    )


@query(
    "udf_grouped_map_gaps",
    oracle="""
WITH g AS (
  SELECT user_id,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                   ts) AS gap
  FROM events
)
SELECT user_id, COUNT(*) AS n_events, CAST(MAX(gap) AS BIGINT) AS max_gap_us
FROM g GROUP BY user_id
""",
    tags=("udf", "grouped-map", "applyInPandas"),
)
def udf_grouped_map_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user max inter-event gap. The
    whole per-user slice lands in one pandas frame (the operator class
    for per-entity imperative logic that window functions can't
    express); all math in integer micros → exact oracle parity.
    Single-event users yield a null gap, matching SQL MAX over an
    empty lag set."""

    def gaps(pdf: pd.DataFrame) -> pd.DataFrame:
        us = np.sort(pdf["us"].to_numpy())
        mg = int(np.diff(us).max()) if len(us) > 1 else None
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(us)],
                "max_gap_us": [mg],
            }
        )

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("user_id", F.unix_micros("ts").alias("us"))
        .groupBy("user_id")
        .applyInPandas(gaps, "user_id long, n_events long, max_gap_us long")
    )


@query(
    "udf_approx_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS estimate_within_4rsd
FROM events GROUP BY event_type
""",
    tags=("udf", "sketch", "agg"),
)
def udf_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user sketch per event type. At 100 TB the
    sketch is mergeable across partitions in fixed memory — the exact
    distinct shuffles every key. The raw HLL estimate is engine-specific
    (deterministic per engine, not across engines), so the oracle checks
    the exact column plus a BOUND on the estimate: with rsd=0.02 the
    estimate must land within 4·rsd = 8% of the exact count, which the
    Spark side verifies and reports as a flag the oracle expects to be
    TRUE. A sketch-parameter regression flips the flag and fails the
    hash compare — this is the oracle-checkable form round 2's
    `no_oracle` row could not provide.

    Bound calibration (round-4 ADVICE): the estimator is ~Gaussian with
    σ≈rsd, so 4σ puts the false-failure probability ≈6e-5 per group vs
    ~1.3e-3 at the previous 3σ; measured worst relative error on the
    driver fixtures is 0.0% (sf0.001/0.01) and 0.4% (sf0.1) — 20×
    inside the bound — so a flag flip means a real sketch-parameter
    regression, not estimator tail behavior."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.08 * F.col("exact_users")
        ).alias("estimate_within_4rsd"),
    )


@query(
    "udf_approx_quantiles",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       TRUE AS p50_within_tol, TRUE AS p90_within_tol, TRUE AS p99_within_tol
FROM orders GROUP BY o_orderpriority
""",
    tags=("udf", "sketch", "quantile"),
)
def udf_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch) of order value
    per priority. The sketch is mergeable in fixed memory per partition —
    at 100 TB this is THE way to get quantiles (exact percentile_cont
    needs a per-group global sort); rel_median_by_priority shows the
    exact construction where oracle-bit-parity matters more than scale.
    Sketch values are engine-specific, so (as with udf_approx_distinct)
    the oracle checks the exact group count plus per-quantile tolerance
    flags: each GK estimate must land within 5% of Spark's exact
    interpolated percentile. The array output that crashed the round-2
    canonicalizer is projected into scalar flag columns (the same
    scalarization fix as vdb_vector_arith/dedup_clusters).

    Bound calibration (round-4 ADVICE): GK with accuracy=10000 bounds
    RANK error at n/10000, but the induced VALUE error is data-
    dependent — at tiny groups (sf0.001: ~180 orders/priority) the
    exact side interpolates between order statistics while GK returns
    an actual sample, so measured worst relative error is 1.1% at
    sf0.001 (vs 0.06% at sf0.01, 0.02% at sf0.1). The previous 2%
    bound left only 1.8× headroom at the smallest sf; 5% keeps ≥4.5×
    headroom at every fixture scale while still catching any
    accuracy-parameter regression (accuracy=100 misses p99 by far
    more than 5% on these groups)."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000).alias("ap"),
        F.expr(
            "percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))"
        ).alias("ex"),
        F.count(F.lit(1)).alias("n_orders"),
    )

    def within(i: int):
        return (
            F.abs(F.col("ap")[i] - F.col("ex")[i]) <= 0.05 * F.col("ex")[i]
        )

    return agg.select(
        "o_orderpriority",
        "n_orders",
        within(0).alias("p50_within_tol"),
        within(1).alias("p90_within_tol"),
        within(2).alias("p99_within_tol"),
    )


@query(
    "udf_count_min_topk",
    oracle="""
WITH seeds AS (SELECT unnest(range(4)) AS j),
cells AS (
  SELECT j,
         ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 64 AS b,
         COUNT(*) AS cnt
  FROM events CROSS JOIN seeds GROUP BY 1, 2
),
top AS (
  SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY 1
  ORDER BY exact_n DESC, user_id LIMIT 20
)
SELECT t.user_id, t.exact_n, MIN(c.cnt) AS cms_estimate
FROM top t CROSS JOIN seeds s
JOIN cells c
  ON c.j = s.j
 AND c.b = ('0x' || substr(md5(CAST(s.j AS VARCHAR) || ':' || CAST(t.user_id AS VARCHAR)), 1, 12))::BIGINT % 64
GROUP BY 1, 2
""",
    tags=("udf", "sketch", "heavy-hitters"),
)
def udf_count_min_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows × w=64 buckets) heavy-hitter
    estimation, audited against exact counts for the top-20 users.

    Unlike HLL/GK (whose estimates are engine-private), CMS built from
    an EXPLICIT md5 hash family is bit-identical across engines, so the
    estimate itself is oracle-checked — no tolerance flags. The
    estimate is provably ≥ the exact count (only over-counts from
    collisions), and with 256 counters for ~events-many increments the
    driver fixtures land close to exact.

    Plan shape at 100 TB: the sketch build is ONE map-side-combined
    aggregation into d·w = 256 cells regardless of input volume — the
    shuffle carries ≤256 partials per partition (this is why CMS exists:
    fixed-memory mergeable state). The probe side broadcasts the tiny
    cell table to the top-k list. The exact top-20 comparison column is
    the audit path; a production rollout keeps only the sketch."""
    D, W = 4, 64
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def bucket(j_col, uid_col):
        h = F.md5(F.concat(j_col.cast("string"), F.lit(":"), uid_col.cast("string")))
        return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % W

    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            bucket(F.lit(j), F.col("user_id")).alias("b"),
                        )
                        for j in range(D)
                    ]
                )
            ).alias("c")
        )
        .groupBy(F.col("c.j").alias("j"), F.col("c.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(20)
    )
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        bucket(F.lit(j), F.col("user_id")).alias("b"),
                    )
                    for j in range(D)
                ]
            )
        ).alias("p"),
    )
    return (
        probes.join(
            F.broadcast(cells),
            (F.col("p.j") == F.col("j")) & (F.col("p.b") == F.col("b")),
        )
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_estimate"))
    )


@query(
    "src_python_datasource",
    oracle="""
WITH synth AS (
  SELECT i AS event_id,
         (i * 37 + 11) % 97 AS user_id,
         ['view', 'click', 'cart', 'purchase'][(i * 13 + 7) % 4 + 1] AS event_type,
         CAST((i * 31 + 3) % 1000 AS DOUBLE) / 10.0 AS value
  FROM (SELECT unnest(range(5000)) AS i)
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM synth GROUP BY event_type
""",
    tags=("source", "datasource-api", "connector"),
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom CONNECTOR surface: Spark 4's Python DataSource API
    (sources/pydatasource.py) registered as format ``qev_synth`` and
    read like any table — the executors materialize their partitions
    from a closed-form formula with no input I/O and nothing routed
    through the driver. The oracle regenerates the identical stream
    from ``range()``, so the connector's partition planning +
    per-partition reads are value-checked end-to-end (5000 rows across
    8 partitions; the aggregate proves every partition delivered its
    exact slice — a dropped or duplicated split changes the hash)."""
    from quick_and_easy_vectordb_spark.functions.numeric import dsum
    from quick_and_easy_vectordb_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("qev_synth")
        .option("rows", 5000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        dsum("value").alias("total_value"),
    )


@query(
    "udf_map_in_arrow",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_arrow,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
FROM documents
""",
    tags=("udf", "arrow", "mapInArrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the LOWEST-overhead Python extension surface:
    batches arrive as raw ``pyarrow.RecordBatch`` and are transformed
    with Arrow compute kernels (C++ SIMD under the hood), skipping even
    the pandas conversion that mapInPandas pays. The transform here
    (codepoint length + space count per document) is integer-exact, so
    the Arrow kernel semantics are hash-checked against SQL
    length/replace — pinning that ``utf8_length`` counts CODEPOINTS
    (matching SQL length), not bytes. Zero shuffle, one batch stream."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from collections.abc import Iterator

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            text = batch.column(1)
            n_chars = pc.utf8_length(text)
            n_spaces = pc.count_substring(text, " ")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(n_chars, pa.int64()),
                    pc.cast(n_spaces, pa.int64()),
                ],
                names=["doc_id", "n_chars_arrow", "n_spaces"],
            )

    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return docs.mapInArrow(
        run, "doc_id long, n_chars_arrow long, n_spaces long"
    )


@query(
    "src_python_datasource_streamed",
    oracle="""
WITH synth AS (
  SELECT i AS event_id,
         (i * 37 + 11) % 97 AS user_id,
         ['view', 'click', 'cart', 'purchase'][(i * 13 + 7) % 4 + 1] AS event_type,
         CAST((i * 31 + 3) % 1000 AS DOUBLE) / 10.0 AS value
  FROM (SELECT unnest(range(2000)) AS i)
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM synth GROUP BY event_type
""",
    tags=("source", "datasource-api", "streaming", "connector"),
)
def src_python_datasource_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom connector's STREAMING side under the oracle gate:
    ``qev_synth`` read through readStream (SimpleDataSourceStreamReader
    — position offsets, bounded replay via readBetweenOffsets), drained
    micro-batch by micro-batch (250 rows each) into an append-mode
    sink until the source's 2000 rows are exhausted, then aggregated
    and hash-compared against the closed-form oracle. A lost or
    replayed micro-batch changes the counts — this is the
    exactly-once-offsets contract check for a custom streaming
    connector (the same (offset-log, deterministic-replay) pair Kafka
    sources rely on)."""
    import time

    from quick_and_easy_vectordb_spark.functions.numeric import dsum
    from quick_and_easy_vectordb_spark.sources.pydatasource import register

    register(spark)
    sink = "src_python_datasource_streamed_sink"
    spark.catalog.dropTempView(sink)
    total_rows = 2000
    stream = (
        spark.readStream.format("qev_synth")
        .option("rows", total_rows)
        .option("batch_size", 250)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.table(sink).count() >= total_rows:
            break
        time.sleep(0.4)
    q.stop()
    q.awaitTermination(30)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
    )


@query(
    "udf_udtf_chunk",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
  FROM documents
  WHERE trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) <> ''
),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ') AS chunk,
         len(w[i * 10 + 1 : i * 10 + 10]) AS n_words
  FROM toks CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
  WHERE i * 10 < len(w)
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(n_words AS BIGINT) AS n_words, chunk
FROM chunks
""",
    tags=("udf", "udtf", "lateral", "chunking"),
)
def udf_udtf_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 table function): a @udtf class
    registered in the SQL catalog and invoked with LATERAL — one input
    document row expands to a variable number of chunk rows (the
    reference's chunking step, app.py:45, as a TABLE function rather
    than an array explode; text_chunking is the native-expression twin).
    Arrow-optimized (useArrow=True) so rows batch through the Python
    worker. The oracle replicates the fixed 10-word grouping with array
    slices; range(0,32) bounds documents at 320 words (fixture max is
    ~110) — the WHERE keeps it exact for every shorter document."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx long, n_words long, chunk string", useArrow=True)
    class ChunkWords:
        def eval(self, text: str):
            if text is None:
                return
            words = " ".join(text.lower().split()).split()
            if not words:
                return
            for i in range(0, len(words), 10):
                part = words[i : i + 10]
                yield i // 10, len(part), " ".join(part)

    spark.udtf.register("qev_chunk_words", ChunkWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.n_words, c.chunk "
        "FROM __udtf_docs d, LATERAL qev_chunk_words(d.text) c"
    )


@query(
    "udf_grouped_apply_in_arrow",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
""",
    tags=("udf", "arrow", "grouped-map", "applyInArrow"),
)
def udf_grouped_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInArrow — the zero-pandas grouped-map surface: each
    language's slice arrives as ONE pyarrow.Table and is reduced with
    Arrow compute kernels (C++ aggregates, no pandas materialization —
    the lighter sibling of udf_grouped_map_gaps' applyInPandas). All
    outputs are integer min/max/sum/count, so the kernel semantics are
    hash-checked exactly. The operator class: per-entity logic too
    imperative for SQL but columnar enough to stay out of Python object
    space."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(table: "pa.Table") -> "pa.Table":
        n = table.column("n_chars")
        return pa.Table.from_pydict(
            {
                "lang": [table.column("lang")[0].as_py()],
                "n_docs": [table.num_rows],
                "min_chars": [pc.min(n).as_py()],
                "max_chars": [pc.max(n).as_py()],
                "total_chars": [pc.sum(n).as_py()],
            }
        )

    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return docs.groupBy("lang").applyInArrow(
        stats,
        "lang string, n_docs long, min_chars long, max_chars long, total_chars long",
    )


@query(
    "udf_arrow_scalar",
    oracle="""
SELECT doc_id,
       ('0x' || substr(md5(text), 1, 8))::BIGINT AS fp,
       ('0x' || substr(md5(text), 1, 8))::BIGINT % 1024 AS shard
FROM documents
""",
    tags=("udf", "arrow", "scalar"),
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Python UDF on the ARROW transport (@udf(useArrow=True)) —
    the 'imperative per-row escape hatch done right': rows cross the
    JVM/Python boundary as Arrow record batches instead of pickled
    rows (the 10-100x transport difference the brief warns about),
    while the function body stays arbitrary Python (here hashlib,
    standing in for any native library Spark lacks). Computes a 32-bit
    content fingerprint + a 1024-way shard assignment — the routing
    key a content-addressed store derives at ingest. The md5 semantics
    are mirrored exactly by the oracle, so the whole Python path is
    hash-checked.

    Plan shape at 100 TB: per-row, zero shuffle, pipelined into the
    scan; Arrow batching keeps Python call overhead amortized across
    ~10k-row batches. (When the function IS expressible in SQL — as
    this fingerprint deliberately is — functions/text.py's native
    column expressions remain the first choice; this query pins the
    API contract for when it is not.)"""
    import hashlib

    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def fp32(text: str) -> int:
        return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fp32("text").alias("fp"),
        (fp32("text") % 1024).alias("shard"),
    )


@query(
    "src_python_datasource_sink",
    oracle="""
WITH synth AS (
  SELECT i AS event_id,
         (i * 37 + 11) % 97 AS user_id,
         ['view', 'click', 'cart', 'purchase'][(i * 13 + 7) % 4 + 1] AS event_type,
         CAST((i * 31 + 3) % 1000 AS DOUBLE) / 10.0 AS value
  FROM (SELECT unnest(range(800)) AS i)
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM synth GROUP BY event_type
""",
    tags=("sink", "datasource-api", "connector", "two-phase-commit"),
)
def src_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE side of the custom Python DataSource — a full sink
    ROUNDTRIP under the oracle gate: 800 connector-generated rows are
    written through the qev_synth sink (per-task private jsonl files →
    task commit messages → driver-atomic manifest; the two-phase
    protocol every exactly-once Spark sink implements), read back from
    exactly the manifest's committed files, and aggregated. The row
    only matches if no write was lost, duplicated, or read before
    commit — the sink's exactly-once property AS a correctness row,
    completing the connector triangle (batch read, streaming read,
    transactional write).

    Values survive the text roundtrip bit-exactly because json.dumps
    emits the shortest-roundtrip repr and Spark's JSON reader parses
    it back to the identical double.

    Plan shape at 100 TB: writes are per-partition, embarrassingly
    parallel, nothing through the driver but O(tasks) commit
    messages; the manifest read costs one small file."""
    import json as _json
    import os as _os

    from quick_and_easy_vectordb_spark.sources.pydatasource import register

    register(spark)
    out = fresh("pydatasource_sink", sf_dir)
    (
        spark.read.format("qev_synth")
        .option("rows", 800)
        .option("partitions", 4)
        .load()
        .write.format("qev_synth")
        .option("path", out)
        .mode("append")
        .save()
    )
    with open(_os.path.join(out, "_manifest.json")) as f:
        manifest = _json.load(f)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(manifest["files"])
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "udf_pandas_iterator",
    oracle="""
SELECT doc_id,
       CAST((n_chars * 2 + 7) * 10 + 1 AS BIGINT) AS transformed
FROM documents
""",
    tags=("udf", "arrow", "iterator", "pandas"),
)
def udf_pandas_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form pandas UDF (Iterator[pd.Series] → Iterator[pd.Series])
    — the API whose point is EXPENSIVE PER-WORKER INITIALIZATION: the
    body runs once per Python worker, pays its setup (here a stand-in
    'model load'; in production a tokenizer, an ONNX session, a GPU
    context) before the loop, then streams every Arrow batch through
    the already-initialized state. The scalar form re-enters per
    batch and cannot amortize setup. The oracle checks both the
    transform (an affine map whose integer arithmetic is exact) and
    the CONTRACT itself: the init counter is a process-global that
    increments on every ENTRY into the UDF body, not a local constant
    — in the iterator form the body is entered once per worker, so
    every row sees counter value 1; if the runtime ever re-entered
    the body per batch (the scalar form's pattern), the second batch
    in a worker would see 2, shift its rows' last digit, and break
    the hash. Each Spark worker process deserializes its own copy of
    the counter starting at 0, so "1" genuinely means
    first-entry-in-this-worker.

    The counter is folded into the output's last digit
    (value = (n·2+7)·10 + entries).

    Plan shape at 100 TB: identical to any scalar UDF (per-row, zero
    shuffle, Arrow-batched); the iterator form just moves the
    constant factor of model setup out of the per-batch path, which
    at a thousand executors is the difference between loading a
    model 1000 times and 1000·batches times."""
    from pyspark.sql.functions import pandas_udf

    entry_counter = {"entries": 0}  # pickled at 0 into each worker

    @pandas_udf("long")
    def affine_with_init(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # Expensive init happens HERE, once per worker. The counter
        # increments on every body ENTRY, so a per-batch re-entry
        # pattern would emit 2, 3, ... and break the oracle hash.
        entry_counter["entries"] += 1
        loads = entry_counter["entries"]
        weight, bias = 2, 7
        for s in batches:
            yield (s * weight + bias) * 10 + loads

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return docs.select(
        "doc_id", affine_with_init("n_chars").alias("transformed")
    )


@query(
    "src_partitioned_parquet_prune",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
GROUP BY 1
""",
    tags=("sink", "source", "partition-pruning", "parquet"),
)
def src_partitioned_parquet_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-PRUNED read of a date-partitioned parquet layout —
    THE 100 TB access pattern (hive-style `event_date=.../` dirs; a
    one-week dashboard query must read 7 directories, not 365): the
    events table is written once per process through
    sources/writers.py:write_corpus partitioned by event_date, read
    back with a date-range predicate, and aggregated. The oracle runs
    the same week over the ORIGINAL single-file table, so the row
    matches only if partitioning lost/duplicated/misfiled no rows AND
    every non-partition column survived the roundtrip bit-exactly
    (value doubles, event ids, user ids).

    The pruning itself is pinned by tests/test_round6_sources.py:
    the scan's `PartitionFilters` carry the date bounds and
    `partitionValues` read is 7 of ~30 — Catalyst never opens the
    out-of-range directories.

    Plan shape at 100 TB: the write is one shuffle-free pass (
    partitionBy fans files out per task); the read scans only
    matching directories — I/O scales with the QUERY's date range,
    not the corpus. ts is carried as epoch micros (BIGINT) so the
    partition column, not a timestamp physical encoding, is the only
    date representation in the layout."""
    import os

    def write(d: str) -> None:
        path = os.path.join(d, "events_by_date")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "value",
            F.unix_micros("ts").alias("us"),
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        )
        from quick_and_easy_vectordb_spark.sources.writers import write_corpus

        write_corpus(ev, path, partition_by="event_date")

    path = os.path.join(staged("part_prune", sf_dir, write), "events_by_date")
    back = spark.read.parquet(path).filter(
        F.col("event_date").cast("string").between("2024-01-08", "2024-01-14")
    )
    return back.groupBy(F.col("event_date").cast("string").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("user_id")).cast("long").alias("n_users"),
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "src_json_lines_roundtrip",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(user_id) AS BIGINT) AS sum_users,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
GROUP BY event_type
""",
    tags=("sink", "source", "json", "roundtrip"),
)
def src_json_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in JSON-LINES sink → source ROUNDTRIP as a correctness
    row: events are written once per process with df.write.json (one
    JSON object per line — the interchange format every ingest
    pipeline meets), read back with an EXPLICIT schema (schema
    inference on a 100 TB lake is a full extra pass — never default
    to it), and aggregated per type against the parquet-direct
    oracle. Doubles survive because Spark's JSON writer emits the
    shortest round-trip representation and the reader parses it to
    the identical bits; timestamps are carried as epoch-micro BIGINTs
    (a textual timestamp roundtrip would re-enter parser/formatter
    territory where engines disagree — integer micros never do).

    Plan shape at 100 TB: write and read are both embarrassingly
    parallel per-file passes; the explicit schema keeps the read a
    single pass with full predicate/column pruning available to the
    scan (json scans prune columns at parse time)."""
    import os

    def write(d: str) -> None:
        path = os.path.join(d, "events_jsonl")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "value",
        )
        ev.write.mode("overwrite").json(path)

    path = os.path.join(staged("jsonl", sf_dir, write), "events_jsonl")
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, us long, value double"
    ).json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").cast("long").alias("sum_users"),
        F.min("us").cast("long").alias("first_us"),
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "src_parquet_schema_merge",
    oracle="""
WITH v1 AS (
  SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value
  FROM events WHERE event_id % 97 = 0
),
v2 AS (
  SELECT event_id, user_id, value
  FROM events WHERE event_id % 101 = 0
),
u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(value) AS BIGINT) AS n_with_value,
       CAST(COUNT(*) - COUNT(value) AS BIGINT) AS n_without_value,
       CAST(SUM(user_id) AS BIGINT) AS sum_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM u
""",
    tags=("source", "schema-evolution", "parquet", "mergeSchema"),
)
def src_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION read: two parquet generations of the same
    table — v1 written before a `value` column existed, v2 after —
    live side by side in one dataset directory; a single read with
    ``mergeSchema=true`` reconciles the footers into the union
    schema and fills v1 rows with NULLs, exactly the
    column-ADD evolution path every long-lived lake table goes
    through. The aggregate separates inherited-NULL rows from real
    values so a silent column drop (read resolving to v1's schema
    only) cannot pass the oracle, which rebuilds the union from the
    source table.

    Plan shape at 100 TB: schema merge is a FOOTER-only operation
    (no data read) and is priced accordingly — Spark samples footers
    at planning time; per-file projection maps old files' missing
    columns to nulls at scan time with zero rewrite of historical
    data. Explicitly setting mergeSchema per-read (not globally)
    keeps the common non-evolving read on the cheap single-footer
    path."""
    import os

    def write(d: str) -> None:
        root = os.path.join(d, "events_evolving")
        ev = load_table(spark, sf_dir, "events")
        ev.filter(F.col("event_id") % 97 == 0).select(
            "event_id", "user_id"
        ).write.mode("overwrite").parquet(os.path.join(root, "gen=1"))
        ev.filter(F.col("event_id") % 101 == 0).select(
            "event_id", "user_id", "value"
        ).write.mode("overwrite").parquet(os.path.join(root, "gen=2"))

    root = os.path.join(staged("schema_merge", sf_dir, write), "events_evolving")
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen=1"), os.path.join(root, "gen=2")
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("value").cast("long").alias("n_with_value"),
        (F.count(F.lit(1)) - F.count("value")).cast("long").alias("n_without_value"),
        F.sum("user_id").cast("long").alias("sum_users"),
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "udf_udtf_analyze",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
  FROM documents
  WHERE trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) <> ''
)
SELECT doc_id, CAST(i AS BIGINT) AS pos,
       w[i + 1] AS g1, w[i + 2] AS g2, w[i + 3] AS g3
FROM toks CROSS JOIN (SELECT unnest(range(0, 4096)) AS i)
WHERE i + 3 <= len(w)
""",
    tags=("udf", "udtf", "analyze", "dynamic-schema"),
)
def udf_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a static ``analyze`` method — the Spark 4
    polymorphic-table-function surface: the OUTPUT SCHEMA is computed
    at plan time from a literal argument (n-gram width -> columns
    g1..gn), which a fixed returnType cannot express. Called with
    n=3 here, so the catalog resolves LATERAL qev_ngrams(text, 3) to
    (pos, g1, g2, g3) before any data moves; calling it with n=2
    elsewhere would resolve a two-column shape from the SAME
    registration. The oracle replicates the window of consecutive
    tokens with array indexing.

    Plan shape at 100 TB: same LATERAL expansion as udf_udtf_chunk —
    embarrassingly parallel per row, no shuffle; analyze() runs ONCE
    on the driver at resolution (cost O(1)), so the dynamic schema
    adds nothing at execution time."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructType

    try:
        from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult  # noqa: F401
    except ImportError:  # pragma: no cover - pyspark < 3.5
        raise

    class NGramsDynamic:
        @staticmethod
        def analyze(text, n):
            schema = StructType().add("pos", LongType())
            for i in range(int(n.value)):
                schema = schema.add(f"g{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            if text is None:
                return
            words = " ".join(text.lower().split()).split()
            for i in range(len(words) - n + 1):
                yield (i, *words[i : i + n])

    spark.udtf.register("qev_ngrams", udtf(NGramsDynamic))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__udtf_docs_ngram"
    )
    return spark.sql(
        "SELECT d.doc_id, g.pos, g.g1, g.g2, g.g3 "
        "FROM __udtf_docs_ngram d, LATERAL qev_ngrams(d.text, 3) g"
    )


@query(
    "src_orc_roundtrip",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(user_id) AS BIGINT) AS sum_users,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
GROUP BY event_type
""",
    tags=("sink", "source", "orc", "roundtrip"),
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source roundtrip — the second columnar lake format
    (Hive-lineage estates are ORC-heavy; an engine claiming lake
    coverage must read and write it): events written once per process
    with df.write.orc, read back with an explicit schema, aggregated
    per type against the parquet-direct oracle. Doubles and longs are
    stored binary in ORC, so the roundtrip is bit-exact by format
    design; timestamps travel as epoch-micro BIGINTs (same rationale
    as src_json_lines_roundtrip).

    Plan shape at 100 TB: identical to the parquet path — per-file
    parallel write/read, predicate pushdown and column pruning reach
    the ORC reader exactly as they do parquet (both are
    FileFormat-based scans under the same planner)."""
    import os

    def write(d: str) -> None:
        path = os.path.join(d, "events_orc")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "value",
        )
        ev.write.mode("overwrite").orc(path)

    path = os.path.join(staged("orc", sf_dir, write), "events_orc")
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, us long, value double"
    ).orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").cast("long").alias("sum_users"),
        F.min("us").cast("long").alias("first_us"),
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "src_csv_quoted_roundtrip",
    oracle="""
WITH t AS (
  SELECT event_id, event_type,
         event_type || ',"' || CAST(user_id AS VARCHAR) || '",' AS tricky
  FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT tricky) AS BIGINT) AS n_distinct,
       MIN(tricky) AS min_tricky,
       CAST(SUM(len(tricky)) AS BIGINT) AS total_len
FROM t GROUP BY event_type
""",
    tags=("sink", "source", "csv", "quoting", "roundtrip"),
)
def src_csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → source roundtrip with ADVERSARIAL field content:
    every row carries a string containing the delimiter AND quote
    characters (`type,"123",`), so the writer must quote-and-escape
    and the reader must undo both exactly — the failure mode that
    silently shears columns in naive split-on-comma ingest. Written
    once per process with explicit quote/escape options, read back
    with an explicit schema (never inference), and fingerprinted
    per type (count, distinct, min, total length) against an oracle
    that rebuilds the strings from the source table — a single
    mis-parsed row changes the distinct count or length sum.

    Plan shape at 100 TB: CSV scan/write are per-file parallel; the
    explicit schema keeps the read single-pass. CSV is the ingest
    interchange floor — the engine reads it, fingerprints it, and
    the curation pipeline moves it to parquet."""
    import os

    def write(d: str) -> None:
        path = os.path.join(d, "events_csv")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.concat(
                F.col("event_type"),
                F.lit(',"'),
                F.col("user_id").cast("string"),
                F.lit('",'),
            ).alias("tricky"),
        )
        (
            ev.write.mode("overwrite")
            .option("quote", '"')
            .option("escape", '"')
            .option("header", "false")
            .csv(path)
        )

    path = os.path.join(staged("csv_quoted", sf_dir, write), "events_csv")
    back = (
        spark.read.schema("event_id long, event_type string, tricky string")
        .option("quote", '"')
        .option("escape", '"')
        .option("header", "false")
        .csv(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("tricky").cast("long").alias("n_distinct"),
        F.min("tricky").alias("min_tricky"),
        F.sum(F.length("tricky")).cast("long").alias("total_len"),
    )


@query(
    "udf_cogroup_apply",
    oracle="""
WITH e AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_event_us
  FROM events GROUP BY user_id
),
o AS (
  SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
         CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS last_order_us
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(e.user_id, o.user_id) AS user_id,
       CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
       CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(e.first_event_us, -1) AS BIGINT) AS first_event_us,
       CAST(COALESCE(o.last_order_us, -1) AS BIGINT) AS last_order_us
FROM e FULL OUTER JOIN o ON o.user_id = e.user_id
""",
    tags=("udf", "cogroup", "applyInPandas", "grouped-map"),
)
def udf_cogroup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED applyInPandas — the two-sided grouped-map surface
    (df.groupBy().cogroup(other.groupBy()).applyInPandas): each key's
    slices from BOTH relations arrive together as two pandas frames,
    the API for per-entity logic that needs both sides at once
    (pandas merge_asof reconciliation, custom outer-join semantics,
    per-user feature assembly from activity + transactions). Here
    each user's events and orders are reduced to integer profile
    fields, so the cogroup path is hash-checked exactly against a
    FULL OUTER JOIN of plain aggregates — including keys present on
    only one side (one of the two frames arrives EMPTY, the edge
    every cogroup consumer must handle).

    Plan shape at 100 TB: both sides shuffle once on the key into
    co-partitioned slices (the same layout a sort-merge join uses);
    Python sees each pair exactly once via Arrow. State is one
    key's slices at a time."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros("o_orderdate").alias("od_us"),
    )

    def profile(key, epdf: pd.DataFrame, opdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [len(epdf)],
                "n_orders": [len(opdf)],
                "first_event_us": [
                    int(epdf["us"].min()) if len(epdf) else -1
                ],
                "last_order_us": [
                    int(opdf["od_us"].max()) if len(opdf) else -1
                ],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            profile,
            "user_id long, n_events long, n_orders long, "
            "first_event_us long, last_order_us long",
        )
    )


@query(
    "src_small_file_compaction",
    oracle="""
SELECT CAST(64 AS BIGINT) AS n_files_small,
       CAST(4 AS BIGINT) AS n_files_compacted,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(user_id) AS BIGINT) AS sum_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
""",
    tags=("sink", "compaction", "small-files", "maintenance"),
)
def src_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION — the table-maintenance job every lake
    runs: a fragmented table (repartition(64) simulates streaming
    ingest's per-trigger files) is rewritten as 4 right-sized files
    with a round-robin repartition, and the compacted copy must hold
    the BIT-IDENTICAL dataset (row count, key sum, decimal-exact
    value total — the oracle checks all three against the source
    table, so a dropped or duplicated file fails the hash). The file
    counts are part of the contract: both are deterministic
    (repartition(n) writes exactly n non-empty parts here) and
    verified against the directory listing by the unit test.

    Plan shape at 100 TB: compaction is one round-robin shuffle
    sized by target file size (repartition(bytes/target)); real
    deployments do it per partition-directory so the rewrite
    parallelizes across dates and never touches cold partitions.
    Small files are a 100 TB KILLER (per-file open cost dominates
    scans; footer metadata bloats the driver) — this job is why the
    engine's scans stay O(data) instead of O(files)."""
    import os

    def write(d: str) -> None:
        frag = os.path.join(d, "events_fragmented")
        compact = os.path.join(d, "events_compacted")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        ev.repartition(64).write.mode("overwrite").parquet(frag)
        spark.read.parquet(frag).repartition(4).write.mode(
            "overwrite"
        ).parquet(compact)

    d = staged("compaction", sf_dir, write)
    frag = os.path.join(d, "events_fragmented")
    compact = os.path.join(d, "events_compacted")
    back = spark.read.parquet(compact)
    n_small = len(
        [f for f in os.listdir(frag) if f.endswith(".parquet")]
    )
    n_compacted = len(
        [f for f in os.listdir(compact) if f.endswith(".parquet")]
    )
    return back.agg(
        F.lit(n_small).cast("long").alias("n_files_small"),
        F.lit(n_compacted).cast("long").alias("n_files_compacted"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("user_id").cast("long").alias("sum_users"),
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "src_xml_roundtrip",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(user_id) AS BIGINT) AS sum_users,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
GROUP BY event_type
""",
    tags=("sink", "source", "xml", "roundtrip"),
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → source roundtrip — the format Spark 4 folded into
    core (spark-xml graduated from a package; enterprise feeds and
    document corpora still arrive as XML): events written once per
    process with rowTag elements, read back with an explicit schema
    (XML inference is a full extra pass AND type-lossy), aggregated
    per type against the parquet-direct oracle. Doubles survive
    because the XML writer emits shortest-roundtrip decimal text and
    the reader parses it back to identical bits; timestamps travel
    as epoch-micro BIGINTs (same rationale as the JSONL/ORC twins —
    textual timestamps re-enter formatter territory where engines
    disagree).

    Plan shape at 100 TB: per-file parallel write/read like every
    FileFormat; XML parse cost is the highest of the roundtrip trio
    (tag-soup tokenizing vs ORC's binary columns), which is exactly
    why the curation pipeline's first move is XML -> parquet."""
    import os

    def write(d: str) -> None:
        path = os.path.join(d, "events_xml")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
            "value",
        )
        ev.write.mode("overwrite").format("xml").option("rowTag", "event").save(
            path
        )

    path = os.path.join(staged("xml", sf_dir, write), "events_xml")
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema(
            "event_id long, user_id long, event_type string, us long, value double"
        )
        .load(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").cast("long").alias("sum_users"),
        F.min("us").cast("long").alias("first_us"),
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "udf_pandas_window_agg",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(round(value) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS rolling3
FROM events
WHERE user_id % 50 = 0
""",
    tags=("udf", "pandas-udaf", "window", "bounded-frame"),
)
def udf_pandas_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pandas GROUPED_AGG UDAF evaluated as a WINDOW function over a
    bounded ROWS frame — the third execution context of the pandas
    UDAF surface (after groupBy aggregation, udf_grouped_agg_median,
    and SQL registration): Spark re-evaluates the UDAF once per row
    over that row's frame slice, shipping each slice to Python via
    Arrow. Integer rolling sum so the hash check is exact; the
    oracle is the equivalent native windowed SUM — proving the
    UDAF-over-window path computes the standard semantics, frame
    slicing included.

    Plan shape at 100 TB: same user-keyed window shuffle as any lag;
    cost model differs — O(frame) Python work per ROW (vs native
    sliding-sum's O(1) update), which is the documented price of
    custom window logic and why the frame is bounded (an unbounded
    pandas frame re-aggregates the whole partition per row)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def int_sum(v: pd.Series) -> int:
        return int(v.sum())

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        int_sum(F.round("value").cast("long")).over(w).alias("rolling3"),
    )


@query(
    "udf_sql_scalar_function",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(
         l_extendedprice * (1 - l_discount) * (1 + l_tax)
         AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS charged
FROM lineitem
WHERE l_quantity < 25
GROUP BY l_returnflag
""",
    tags=("udf", "sql-udf", "engine-surface"),
)
def udf_sql_scalar_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language scalar UDF (Spark 4 `CREATE TEMPORARY FUNCTION …
    RETURNS … RETURN expr`) — the zero-overhead UDF tier: the body is
    SQL, so Catalyst INLINES it into the caller's plan and the whole
    expression stays inside WholeStageCodegen (no Python worker, no
    serialization boundary — contrast udf_arrow_scalar, which
    measures the Arrow-transport tier). The function computes TPC-H's
    charged amount and the query proves inlining by aggregating
    through it decimal-exactly; the oracle is the inlined expression,
    which only matches if the UDF truly expanded in place.

    Plan shape at 100 TB: identical to writing the expression by hand
    — one map-side-combined grouped aggregate over a pushed-filter
    scan. That IS the feature."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qev_charged("
        "price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS DOUBLE "
        "RETURN price * (1 - disc) * (1 + tax)"
    )
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("qev_li_sqludf")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(qev_charged(l_extendedprice, l_discount, l_tax)
                             AS DECIMAL(30,10))) AS DOUBLE) AS charged
        FROM qev_li_sqludf
        WHERE l_quantity < 25
        GROUP BY l_returnflag
        """
    )


@query(
    "src_binaryfile_ingest",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id < 50
""",
    tags=("source", "binaryfile", "multimodal", "ingest"),
)
def src_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` SOURCE — the ingestion path every multimodal
    corpus actually starts from: a directory of raw files (images,
    audio, documents) read as (path, length, content BINARY) rows
    with NO parsing, which is how 100 TB of JPEGs enters Spark before
    any decode UDF runs. Fifty documents are staged as real .txt
    files on disk, read back through the binaryFile format, keyed by
    filename regexp, and fingerprinted (md5 + byte length) against
    the parquet-direct oracle — proving the file boundary is
    byte-transparent end to end.

    Plan shape at 100 TB: one file = one row = one task unit;
    `pathGlobFilter`/`recursiveFileLookup` prune at LISTING time
    (before any read), and the scan parallelizes over the file
    listing exactly like parquet does over row groups. The content
    column streams straight into mapInPandas decoders
    (operators/multimodal.py) without re-shuffling."""
    import os

    def write(d: str) -> None:
        files = os.path.join(d, "docs")
        os.makedirs(files, exist_ok=True)
        # Fixture staging, not the operator: 50 rows materialize once
        # per process to create the on-disk file corpus the binaryFile
        # SOURCE (the thing under test) then reads distributed.
        rows = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(files, f"doc_{r.doc_id:05d}.txt"), "wb") as f:
                f.write(r.text.encode("utf-8"))

    files = os.path.join(staged("binfiles", sf_dir, write), "docs")
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(files)
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "src_dynamic_partition_overwrite",
    oracle="""
WITH staged AS (
  SELECT CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS yr,
         CASE WHEN CAST(strftime(o_orderdate, '%Y') AS INTEGER) = 1997
              THEN o_totalprice * 0.9 ELSE o_totalprice END AS price
  FROM orders
)
SELECT CAST(yr AS BIGINT) AS yr,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(price AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_price
FROM staged GROUP BY yr
""",
    tags=("sink", "source", "partition-overwrite", "lakehouse"),
)
def src_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the lakehouse UPSERT-by-partition
    primitive (Hive's INSERT OVERWRITE ... PARTITION, Delta's
    replaceWhere): orders land partitioned by year; a restatement job
    then rewrites ONLY the 1997 partition (a 10% price adjustment)
    by writing a 1997-only DataFrame in overwrite mode with
    partitionOverwriteMode=dynamic — every other year's files are
    untouched (STATIC mode would have deleted them; the oracle's
    full-history totals prove they survived). This is how a 100 TB
    fact table takes a one-partition correction without a 100 TB
    rewrite.

    Plan shape at 100 TB: the initial write shuffles once on the
    partition column; the restatement reads/writes one partition
    (partition pruning at the scan, dynamic commit protocol at the
    sink); the verification aggregate prunes per-partition files in
    parallel."""
    import os

    def write(d: str) -> None:
        path = os.path.join(d, "orders_by_year")
        o = load_table(spark, sf_dir, "orders").select(
            F.year("o_orderdate").alias("yr"),
            F.col("o_totalprice").alias("price"),
        )
        o.write.mode("overwrite").partitionBy("yr").parquet(path)
        # Restate ONLY 1997: dynamic mode replaces just the partitions
        # present in this DataFrame.
        restated = (
            spark.read.parquet(path)
            .filter(F.col("yr") == 1997)
            .select((F.col("price") * 0.9).alias("price"), "yr")
        )
        restated.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("yr").parquet(path)

    path = os.path.join(staged("dynpart", sf_dir, write), "orders_by_year")
    back = spark.read.parquet(path)
    return back.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_price"),
    ).select(F.col("yr").cast("long").alias("yr"), "n", "total_price")


# ---------------------------------------------------------------------------
# Round 8: sequential per-entity state (token bucket) via applyInPandas.
# ---------------------------------------------------------------------------

_TB_CAP_MICRO = 5 * 1_000_000   # bucket capacity: 5 tokens (micro-tokens)
_TB_REFILL_DIV = 60             # 1 token / 60 s == dt_us // 60 micro-tokens


@query(
    "udf_token_bucket_ratelimit",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT user_id, epoch_us(ts) AS us,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
walk(user_id, rn, us, tokens_after, n_allowed, n_rejected) AS (
  SELECT user_id, rn, us,
         {_TB_CAP_MICRO} - 1000000, 1::BIGINT, 0::BIGINT
  FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.us,
         CASE WHEN least({_TB_CAP_MICRO},
                         w.tokens_after + (e.us - w.us) // {_TB_REFILL_DIV})
                   >= 1000000
              THEN least({_TB_CAP_MICRO},
                         w.tokens_after + (e.us - w.us) // {_TB_REFILL_DIV})
                   - 1000000
              ELSE least({_TB_CAP_MICRO},
                         w.tokens_after + (e.us - w.us) // {_TB_REFILL_DIV})
         END,
         w.n_allowed + CASE WHEN least({_TB_CAP_MICRO},
                w.tokens_after + (e.us - w.us) // {_TB_REFILL_DIV})
                >= 1000000 THEN 1 ELSE 0 END,
         w.n_rejected + CASE WHEN least({_TB_CAP_MICRO},
                w.tokens_after + (e.us - w.us) // {_TB_REFILL_DIV})
                >= 1000000 THEN 0 ELSE 1 END
  FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT user_id,
       CAST(n_allowed AS BIGINT) AS n_allowed,
       CAST(n_rejected AS BIGINT) AS n_rejected,
       CAST(tokens_after AS BIGINT) AS final_tokens_micro
FROM walk w
WHERE rn = (SELECT MAX(rn) FROM e e2 WHERE e2.user_id = w.user_id)
""",
    tags=("udf", "applyInPandas", "stateful", "token-bucket"),
)
def udf_token_bucket_ratelimit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUCKET RATE LIMITING replayed over each user's event
    history — the canonical NONLINEAR per-entity recurrence
    (tokens = min(cap, tokens + refill·Δt) − consume) that no window
    function expresses: the min-with-cap breaks the associativity
    prefix sums rely on, so the sanctioned Spark shape is grouped
    applyInPandas — one Arrow batch per user, a tight integer loop
    inside, per-user summaries out. Bucket: capacity 5 tokens, refill
    1 token/60 s, start full; all state in integer MICRO-tokens
    (refill = Δt_us // 60), so the replay is bit-exact and the DuckDB
    oracle walks the identical recurrence as a recursive CTE.

    This is the admission-control twin of the streaming state ops:
    the same code runs under applyInPandasWithState on a live stream
    (streaming/ holds that surface); here the batch replay audits a
    proposed limit against history — 'how many of last month's
    requests would this limiter have rejected, per user?'.

    100 TB shape: one user-keyed shuffle; state is O(1) per user;
    the Python loop touches each row once inside Arrow batches —
    and the sequential dependency is intrinsic to the semantics, not
    an implementation shortcut."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"])
        tokens = _TB_CAP_MICRO
        prev_us = None
        allowed = rejected = 0
        for us in pdf["us"].to_numpy():
            us = int(us)
            if prev_us is not None:
                tokens = min(
                    _TB_CAP_MICRO, tokens + (us - prev_us) // _TB_REFILL_DIV
                )
            if tokens >= 1_000_000:
                tokens -= 1_000_000
                allowed += 1
            else:
                rejected += 1
            prev_us = us
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_allowed": [allowed],
                "n_rejected": [rejected],
                "final_tokens_micro": [tokens],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        run,
        "user_id long, n_allowed long, n_rejected long,"
        " final_tokens_micro long",
    )


_TF_BUCKETS = 8


@query(
    "udf_sql_table_function",
    oracle=f"""
WITH seg AS (
  SELECT c_mktsegment AS segment,
         MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
  FROM customer GROUP BY c_mktsegment
),
b AS (
  SELECT segment, CAST(i AS INT) AS bucket,
         lo + i * (hi - lo) / {_TF_BUCKETS} AS b_lo,
         lo + (i + 1) * (hi - lo) / {_TF_BUCKETS} AS b_hi
  FROM seg, (SELECT unnest(range({_TF_BUCKETS})) AS i)
),
assigned AS (
  SELECT c.c_mktsegment AS segment,
         LEAST({_TF_BUCKETS} - 1,
               CAST(floor((c.c_acctbal - s.lo) * {_TF_BUCKETS}
                          / (s.hi - s.lo)) AS INT)) AS bucket
  FROM customer c JOIN seg s ON s.segment = c.c_mktsegment
),
cnt AS (
  SELECT segment, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM assigned GROUP BY segment, bucket
)
SELECT b.segment, CAST(b.bucket AS BIGINT) AS bucket, b.b_lo, b.b_hi,
       COALESCE(cnt.n, 0) AS n
FROM b LEFT JOIN cnt ON cnt.segment = b.segment AND cnt.bucket = b.bucket
""",
    tags=("udf", "sql-table-function", "lateral", "histogram"),
)
def udf_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE FUNCTION (CREATE FUNCTION … RETURNS TABLE … RETURN
    SELECT — the SQL-macro surface added in Spark 3.5, the set-valued
    sibling of udf_sql_scalar_function): ``seg_buckets(lo, hi, k)``
    expands k equal-width histogram buckets and is invoked with a
    correlated LATERAL join — each segment's min/max flows INTO the
    function as arguments, the planner inlines the body (it is a
    macro, not a black box: Catalyst sees the sequence/explode and
    keeps folding/pruning through it), and the per-segment histogram
    is assembled from an ARITHMETIC bucket assignment (floor of the
    identical (bal−lo)·k/(hi−lo) tree, clamped so the max lands in
    the top bucket) — map-side against the broadcast seg stats, no
    range join over data rows — LEFT-joined back to the macro's grid
    so empty buckets survive with n = 0.

    100 TB shape: the bucket table is O(segments · k) — broadcast to
    the customer scan; the macro expansion costs nothing at runtime
    precisely because table functions inline (the reason to prefer
    them over a Python UDTF for relational-expressible expansions,
    cf. udf_udtf_chunk for the opaque-Python case)."""
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("tf_customer")
    spark.sql(f"""
CREATE OR REPLACE TEMPORARY FUNCTION seg_buckets(lo DOUBLE, hi DOUBLE, k INT)
RETURNS TABLE(bucket INT, b_lo DOUBLE, b_hi DOUBLE)
RETURN SELECT CAST(i AS INT) AS bucket,
       lo + i * (hi - lo) / k AS b_lo,
       lo + (i + 1) * (hi - lo) / k AS b_hi
FROM (SELECT explode(sequence(0, k - 1)) AS i)
""")
    return spark.sql(f"""
WITH seg AS (
  SELECT c_mktsegment AS segment,
         MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
  FROM tf_customer GROUP BY c_mktsegment
),
b AS (
  SELECT seg.segment, t.bucket, t.b_lo, t.b_hi
  FROM seg, LATERAL seg_buckets(seg.lo, seg.hi, {_TF_BUCKETS}) t
),
assigned AS (
  SELECT /*+ BROADCAST(s) */
         c.c_mktsegment AS segment,
         LEAST({_TF_BUCKETS} - 1,
               CAST(floor((c.c_acctbal - s.lo) * {_TF_BUCKETS}
                          / (s.hi - s.lo)) AS INT)) AS bucket
  FROM tf_customer c JOIN seg s ON s.segment = c.c_mktsegment
),
cnt AS (
  SELECT segment, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM assigned GROUP BY segment, bucket
)
SELECT b.segment, CAST(b.bucket AS BIGINT) AS bucket, b.b_lo, b.b_hi,
       COALESCE(cnt.n, CAST(0 AS BIGINT)) AS n
FROM b LEFT JOIN cnt ON cnt.segment = b.segment AND cnt.bucket = b.bucket
""")


@query(
    "src_dynamic_partition_pruning",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
WHERE strftime(ts, '%w') IN ('0', '6')
  AND strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-01' AND '2024-02-29'
GROUP BY 1
""",
    tags=("source", "dynamic-partition-pruning", "parquet", "join"),
)
def src_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the join-driven twin of
    src_partitioned_parquet_prune's static range prune, and the
    Catalyst feature star-schema dashboards live on at 100 TB: the
    filter that selects fact partitions lives on a DIMENSION
    ('weekend days'), not on the partition column itself, so no
    static PartitionFilter exists at plan time. Spark's DPP instead
    plants a dynamicpruningexpression subquery in the fact scan that
    REUSES the dimension's broadcast exchange to enumerate surviving
    partition values at RUNTIME — the fact side reads ~9/30 date
    directories without the query ever naming them. The date
    dimension is built from spark.range (60 days spanning the
    fixture's Jan 2024 window), flagged by dayofweek, and filtered to
    weekends; the oracle applies the equivalent weekday predicate
    directly. Plan pinned in tests/test_round9_plans.py
    (dynamicpruningexpression present in the scan's PartitionFilters;
    no full-table static scan).

    Plan shape at 100 TB: one broadcast of the O(days) dim, fact I/O
    proportional to MATCHING partitions only, then the usual
    partial+final aggregate. Without DPP this plan reads the whole
    fact table and throws 71%% of it away post-join."""
    import os

    def write(d: str) -> None:
        path = os.path.join(d, "events_by_date")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "value",
            F.unix_micros("ts").alias("us"),
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        )
        from quick_and_easy_vectordb_spark.sources.writers import write_corpus

        write_corpus(ev, path, partition_by="event_date")

    path = os.path.join(staged("dpp", sf_dir, write), "events_by_date")
    fact = spark.read.parquet(path)
    dim = spark.range(60).select(
        F.date_format(
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")),
            "yyyy-MM-dd",
        ).alias("d"),
        F.dayofweek(
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
        ).alias("dow"),
    )
    weekend = dim.filter(F.col("dow").isin(1, 7))
    joined = fact.join(
        F.broadcast(weekend),
        fact["event_date"].cast("string") == weekend["d"],
    )
    return joined.groupBy(
        F.col("event_date").cast("string").alias("event_date")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("user_id")).cast("long").alias("n_users"),
        F.sum(F.col("value").cast("decimal(30,10)"))
        .cast("double")
        .alias("total_value"),
    )


@query(
    "udf_grouped_ols",
    oracle="""
WITH d AS (
  SELECT source,
         len(string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ',
                                              'g')), ' ')) AS x,
         n_chars AS y
  FROM documents
  WHERE trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) <> ''
),
s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM d GROUP BY source
)
SELECT source, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (n * sxx - sx * sx) AS slope,
       (sy - (CAST(n * sxy - sx * sy AS DOUBLE)
              / (n * sxx - sx * sx)) * sx) / n AS intercept,
       (CAST(n * sxy - sx * sy AS DOUBLE)
        * CAST(n * sxy - sx * sy AS DOUBLE))
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
FROM s
""",
    tags=("udf", "grouped-map", "applyInPandas", "ml", "ols"),
)
def udf_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP MODEL FITTING through applyInPandas — the
    train-one-model-per-key pattern (per-store demand curves,
    per-segment elasticities) that grouped-map pandas UDFs exist for:
    each source's docs fit OLS of n_chars on token count inside one
    pandas batch. The determinism trick that makes a FLOAT model fit
    hash-verifiable across engines: the pandas side reduces each
    group to INTEGER sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²
    — int64-exact, order-independent) and derives slope/intercept/R²
    with the same closed-form expression shape the oracle uses —
    division of BIGINTs, never a float accumulation (the
    geo_moran_autocorrelation rationalization applied to regression;
    naive pdf.cov() would differ in the last ulp per row order).

    Plan shape at 100 TB: one shuffle groups rows by source; each
    group reduces Arrow-batched in pandas to 6 integers — model state
    is O(1) per key, so this scales to millions of per-key models
    (the applyInPandas contract: a group must fit one executor, and a
    6-integer reduction trivially does)."""
    import pandas as pd

    from quick_and_easy_vectordb_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(tokens("text")).cast("long").alias("x"),
        F.col("n_chars").cast("long").alias("y"),
    ).filter(F.col("x") > 0)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].astype("int64")
        y = pdf["y"].astype("int64")
        n = int(len(pdf))
        sx, sy = int(x.sum()), int(y.sum())
        sxy, sxx, syy = int((x * y).sum()), int((x * x).sum()), int(
            (y * y).sum())
        cov_n = n * sxy - sx * sy           # python ints: exact
        var_x = n * sxx - sx * sx
        var_y = n * syy - sy * sy
        slope = float(cov_n) / var_x
        intercept = (sy - slope * sx) / n
        # squares/products as DOUBLES: the BIGINT forms overflow 2^63
        # at large groups (cov_n^2 ~ 1e19), and the oracle must share
        # the exact same rounding point
        r2 = (float(cov_n) * float(cov_n)) / (float(var_x) * float(var_y))
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n": [n],
                "slope": [slope],
                "intercept": [intercept],
                "r2": [r2],
            }
        )

    return d.groupBy("source").applyInPandas(
        fit, "source string, n long, slope double, intercept double, r2 double"
    )


@query(
    "udf_grouped_ewma",
    oracle="""
WITH o AS (
  SELECT user_id, event_id % 97 AS x,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS i
  FROM events
),
b AS (
  SELECT user_id, x, i // 24 AS block, i % 24 AS j FROM o
),
v AS (
  SELECT user_id, block, j,
         CASE WHEN j = 0 THEN CAST(x AS DOUBLE)
              ELSE x * pow(2.0, j - 1) END AS v
  FROM b
),
s AS (
  SELECT user_id, block, j,
         pow(0.5, j) * SUM(v) OVER (PARTITION BY user_id, block
                                    ORDER BY j) AS s,
         COUNT(*) OVER (PARTITION BY user_id, block) AS n
  FROM v
)
SELECT user_id, CAST(block AS BIGINT) AS block,
       CAST(n AS BIGINT) AS n_rows, s AS ewma_last
FROM s WHERE j = n - 1
""",
    tags=("udf", "grouped-map", "applyInPandas", "stateful", "ewma"),
)
def udf_grouped_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL-STATE grouped-map UDF — recursive EWMA
    (s_t = a*x_t + (1-a)*s_{t-1}), the feature-engineering recurrence
    (decayed engagement scores, per-entity smoothed counters) that
    LOOKS non-relational: each output depends on the entire ordered
    prefix, so there is no fixed-frame window that computes it. The
    pandas side runs the literal recursion per user in arrival order,
    resetting every 24 rows (bounded-state blocks — the practical form:
    an unbounded 0.5-decay underflows doubles past ~1100 steps anyway).
    The correctness trick that makes a RECURSIVE float computation
    hash-verifiable across engines: with a = 0.5 and integer inputs
    (event_id % 97 < 2^7), every intermediate s_t is a dyadic rational
    with < 53 mantissa bits — the recursion is EXACT in IEEE double,
    and equals the closed form s_j = 0.5^j * (v_0 + .. + v_j) with
    v_0 = x_0, v_m = x_m * 2^(m-1), which IS window-expressible: the
    oracle computes it as one prefix-sum window, pinning the recursion
    against an independent algebraic derivation bit-for-bit (the
    udf_grouped_ols integer-sufficient-statistics discipline applied
    to a recurrence; block length 24 keeps all prefix sums < 2^34).

    Plan shape at 100 TB: one shuffle groups events by user; each
    group sorts locally by (ts, event_id) inside the Arrow batch and
    reduces to O(blocks) rows — state is one double per group, and
    groups stream through applyInPandas independently. The same
    recurrence under Structured Streaming is
    applyInPandasWithState with s as the state value
    (streaming/windows.py discipline)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        (F.col("event_id") % 97).cast("long").alias("x"),
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        uid = int(pdf["user_id"].iloc[0])
        out_u, out_b, out_n, out_s = [], [], [], []
        s = 0.0
        xs = pdf["x"].tolist()
        for i, x in enumerate(xs):
            j = i % 24
            s = float(x) if j == 0 else 0.5 * float(x) + 0.5 * s
            if j == 23 or i == len(xs) - 1:
                out_u.append(uid)
                out_b.append(i // 24)
                out_n.append(j + 1)
                out_s.append(s)
        return pd.DataFrame(
            {"user_id": out_u, "block": out_b, "n_rows": out_n,
             "ewma_last": out_s}
        )

    return ev.groupBy("user_id").applyInPandas(
        ewma, "user_id long, block long, n_rows long, ewma_last double"
    )


@query(
    "udf_udtf_table_argument",
    oracle="""
WITH m AS (
  SELECT lang, doc_id, n_chars,
         CASE WHEN lag(n_chars) OVER w IS NULL
                OR n_chars <= lag(n_chars) OVER w
              THEN 1 ELSE 0 END AS brk
  FROM documents
  WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
),
g AS (
  SELECT lang, n_chars,
         SUM(brk) OVER (PARTITION BY lang ORDER BY doc_id) AS grp
  FROM m
),
runs AS (SELECT lang, grp, COUNT(*) AS len FROM g GROUP BY lang, grp)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST((SELECT MAX(len) FROM runs r WHERE r.lang = d.lang)
            AS BIGINT) AS longest_run,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents d GROUP BY d.lang
""",
    tags=("udf", "udtf", "table-argument", "partition-by",
          "sequential-state"),
)
def udf_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF over a TABLE ARGUMENT (round-14 — the last
    uncovered Spark-4 UDTF surface after udf_udtf_chunk's LATERAL and
    udf_udtf_analyze's dynamic schema): the function is invoked as
    ``qev_lang_runs(TABLE(v) PARTITION BY lang ORDER BY doc_id)``, so
    the ENGINE routes each lang's rows — in doc_id order — through a
    fresh UDTF instance whose eval() carries sequential state
    (longest strictly-increasing n_chars run, a computation that
    needs ordered iteration) and whose terminate() emits one summary
    row per partition. The oracle reproduces the run length with the
    gaps-and-islands idiom.

    Plan shape at 100 TB: PARTITION BY lang is ONE hash shuffle +
    in-partition sort — exactly the applyInPandas distribution — but
    rows stream through eval() one at a time with O(1) state, so a
    partition larger than memory is fine (unlike grouped-map pandas,
    which materializes each group); output is O(partitions) rows."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="lang string, n_docs bigint, longest_run bigint, "
        "total_chars bigint"
    )
    class LangRuns:
        def __init__(self) -> None:
            self._lang = None
            self._n = 0
            self._chars = 0
            self._prev = None
            self._run = 0
            self._best = 0

        def eval(self, row) -> None:
            self._lang = row["lang"]
            self._n += 1
            self._chars += int(row["n_chars"])
            if self._prev is not None and row["n_chars"] > self._prev:
                self._run += 1
            else:
                self._run = 1
            self._best = max(self._best, self._run)
            self._prev = row["n_chars"]

        def terminate(self):
            if self._n:
                yield (self._lang, self._n, self._best, self._chars)

    spark.udtf.register("qev_lang_runs", LangRuns)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__udtf_table_arg_docs"
    )
    return spark.sql(
        "SELECT * FROM qev_lang_runs(TABLE(__udtf_table_arg_docs) "
        "PARTITION BY lang ORDER BY doc_id)"
    )


# ---------------------------------------------------------------------------
# Round 14: mergeable-sketch UDAFs — HyperLogLog register merge and a
# bitwise Bloom-filter build. Both follow the module's exactness
# discipline: the hash family is an explicit md5 formula (identical in
# Spark and DuckDB), the mergeable state is INTEGER (register maxima /
# bitmap words), and the only float step (the HLL harmonic mean) is a
# sum of dyadic rationals 2^-M (M <= 43), which is EXACT in binary64
# regardless of summation order — so even the estimate hash-matches.
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers (p = 6 index bits out of the 48-bit md5 prefix)
_HLL_W = 42  # width of the rho field (48 - 6)


@query(
    "udf_hll_register_merge",
    oracle=f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM events
),
r AS (
  SELECT event_type, h % {_HLL_M} AS idx,
         CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W + 1}
              ELSE {_HLL_W + 1} - length(bin(h // {_HLL_M})) END AS rho
  FROM h
),
grid AS (
  SELECT t.event_type, g.idx
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range({_HLL_M})) AS idx) g
),
regs AS (
  SELECT grid.event_type, grid.idx, COALESCE(MAX(r.rho), 0) AS m
  FROM grid LEFT JOIN r ON r.event_type = grid.event_type AND r.idx = grid.idx
  GROUP BY 1, 2
),
est AS (
  SELECT event_type,
         (7.213e-1 / (1.0e0 + 1.079e0 / 6.4e1)) * 4.096e3
           / SUM(power(2e0, -m)) AS hll_estimate,
         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_registers
  FROM regs GROUP BY 1
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT e.event_type, ex.exact_distinct, e.hll_estimate, e.n_zero_registers
FROM est e JOIN ex USING (event_type)
""",
    tags=("udf", "udaf", "sketch", "distinct"),
)
def udf_hll_register_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (m=64, explicit md5 hash family) distinct-user
    estimate per event_type, with the register merge exposed as the
    UDAF surface: registers are built JVM-side as a map-side-combinable
    ``groupBy(type, idx).agg(max(rho))`` (the HLL merge IS max — the
    canonical mergeable-sketch aggregation), then the harmonic-mean
    estimate runs as an applyInPandas over each group's 64-row register
    set, so Arrow ships O(m) integers per group — never the raw stream.

    Exactness: rho comes from ``bin()`` string length (integer space,
    identical in both engines); the estimate's SUM(2^-M) is a sum of
    <= 64 dyadic rationals with exponents in [-43, 0], exact in binary64
    in ANY order, so the float estimate hash-matches the oracle without
    tolerance flags. The alpha_m constant is spelled as the same IEEE
    expression tree on both sides.

    Plan shape at 100 TB: the only data-sized operation is the register
    aggregation — partial max per (type, idx) combines map-side into
    <= G*64 cells regardless of input volume (this fixed-memory merge
    is why HLL is THE production distinct-count sketch); the pandas
    estimate stage sees G*64 rows. The exact COUNT(DISTINCT) column is
    the small-scale audit path, as in udf_count_min_topk
    (reference app.py:189-190 counts rows; this is the sketch-backed
    generalization for counts that don't fit a scan)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    hashed = ev.select(
        "event_type",
        (h % _HLL_M).alias("idx"),
        F.when(F.floor(h / _HLL_M) == 0, F.lit(_HLL_W + 1))
        .otherwise(F.lit(_HLL_W + 1) - F.length(F.bin(F.floor(h / _HLL_M))))
        .cast("int")
        .alias("rho"),
    )
    maxes = hashed.groupBy("event_type", "idx").agg(F.max("rho").alias("m"))
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(spark.range(_HLL_M).select(F.col("id").alias("idx")))
    )
    regs = (
        grid.join(maxes, ["event_type", "idx"], "left")
        .select("event_type", "idx", F.coalesce("m", F.lit(0)).alias("m"))
    )

    def estimate(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["m"].to_numpy(dtype=np.int64)
        alpha = 0.7213 / (1.0 + 1.079 / 64.0)
        est = alpha * 4096.0 / float(np.sum(np.power(2.0, -m.astype(np.float64))))
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "hll_estimate": [est],
                "n_zero_registers": [int(np.sum(m == 0))],
            }
        )

    ests = regs.groupBy("event_type").applyInPandas(
        estimate, "event_type string, hll_estimate double, n_zero_registers long"
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return exact.join(ests, "event_type").select(
        "event_type", "exact_distinct", "hll_estimate", "n_zero_registers"
    )


_BLOOM_BITS = 128  # 4 words x 32 bits; sized so sf0.01's 25-doc sources
_BLOOM_WORDS = 4   # fill ~44% and the cross-source FPR is actually visible
_BLOOM_K = 3


def _bloom_pos(i: int, fp) -> "F.Column":
    """Bit position i of the k=3 explicit md5 hash family (same
    hex-prefix construction as udf_count_min_topk, so Spark and DuckDB
    derive identical positions)."""
    h = F.md5(F.concat(F.lit(str(i)), F.lit(":"), fp))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % _BLOOM_BITS


def _sql_bloom_pos(i: int, fp: str) -> str:
    return (
        f"('0x' || substr(md5('{i}:' || {fp}), 1, 12))::BIGINT % {_BLOOM_BITS}"
    )


@query(
    "udf_bloom_bitwise_udaf",
    oracle=f"""
WITH d AS (
  SELECT source, doc_id, md5(text) AS fp FROM documents
),
pos AS (
  SELECT source, doc_id, fp, k.i AS i,
         CASE k.i {' '.join(f"WHEN {i} THEN {_sql_bloom_pos(i, 'fp')}" for i in range(_BLOOM_K))} END AS p
  FROM d CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS i) k
),
masks AS (
  SELECT source, doc_id, p // 32 AS word, (1::BIGINT << (p % 32)) AS mask
  FROM pos
),
bloom AS (
  SELECT g.source, g.word, COALESCE(bit_or(m.mask), 0) AS bits
  FROM (SELECT s.source, w.word
        FROM (SELECT DISTINCT source FROM d) s
        CROSS JOIN (SELECT unnest(range({_BLOOM_WORDS})) AS word) w) g
  LEFT JOIN masks m ON m.source = g.source AND m.word = g.word
  GROUP BY 1, 2
),
probe AS (
  SELECT m.source AS src_a, b.source AS src_b, m.doc_id,
         MIN(CASE WHEN (b.bits & m.mask) = m.mask THEN 1 ELSE 0 END) AS all_set
  FROM masks m JOIN bloom b ON b.word = m.word AND b.source <> m.source
  GROUP BY 1, 2, 3
),
flagged AS (
  SELECT src_a, src_b,
         CAST(COUNT(*) AS BIGINT) AS n_docs_a,
         CAST(SUM(all_set) AS BIGINT) AS n_flagged
  FROM probe GROUP BY 1, 2
),
dups AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_true_dup
  FROM d a JOIN (SELECT DISTINCT source, fp FROM d) b
    ON b.fp = a.fp AND b.source <> a.source
  GROUP BY 1, 2
),
fill AS (
  SELECT source, CAST(SUM(bit_count(bits)) AS BIGINT) AS bloom_bits_set
  FROM bloom GROUP BY 1
)
SELECT f.src_a, f.src_b, f.n_docs_a, f.n_flagged,
       COALESCE(u.n_true_dup, 0) AS n_true_dup,
       fl.bloom_bits_set AS bits_set_b
FROM flagged f
LEFT JOIN dups u ON u.src_a = f.src_a AND u.src_b = f.src_b
JOIN fill fl ON fl.source = f.src_b
""",
    tags=("udf", "udaf", "sketch", "bloom", "dedup"),
)
def udf_bloom_bitwise_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Bloom filters (m=128 bits as 4x32-bit bitmap words,
    k=3 explicit md5 hashes) built by a BITWISE-OR pandas UDAF, then an
    all-pairs cross-source membership probe with a false-positive audit.

    The UDAF surface under test is numpy's bitwise_or.reduce as a
    grouped-aggregate pandas UDF over int64 words — the mergeable-state
    shape (OR is HLL's max for bitmaps) that Spark's built-in bit_or
    would hide. The oracle runs DuckDB's native bit_or; two's-complement
    semantics agree because bit positions stay below 32 per word.

    Audit columns: n_flagged (doc's k=3 positions all set in the OTHER
    source's bloom) vs n_true_dup (exact md5(text) match, 0 in the
    driver fixture by construction) — so n_flagged IS the measured
    false-positive count; m=128 is deliberately small so the ~44% fill
    makes FPR nonzero and the audit non-trivial.

    Plan shape at 100 TB: the bloom table is O(sources x 4 words)
    regardless of corpus size (the whole point of the sketch) — it
    broadcasts; the probe is a map-side broadcast join on word plus a
    combinable per-(pair, doc) min and per-pair sum; no data-sized
    shuffle carries text (fingerprints only), matching the dedup
    family's discipline (operators/dedup.py)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.md5("text").alias("fp")
    )
    masks = d.select(
        "source",
        "doc_id",
        F.explode(
            F.array(*[_bloom_pos(i, F.col("fp")) for i in range(_BLOOM_K)])
        ).alias("p"),
    ).select(
        "source",
        "doc_id",
        F.floor(F.col("p") / 32).alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("mask"),
    )

    @pandas_udf("long")
    def bor(v: pd.Series) -> int:
        return int(np.bitwise_or.reduce(v.to_numpy(dtype=np.int64)))

    grid = (
        d.select("source")
        .distinct()
        .crossJoin(spark.range(_BLOOM_WORDS).select(F.col("id").alias("word")))
    )
    bloom = (
        grid.join(
            masks.groupBy("source", "word").agg(bor("mask").alias("raw_bits")),
            ["source", "word"],
            "left",
        )
        .select("source", "word", F.coalesce("raw_bits", F.lit(0)).alias("bits"))
    )
    b = bloom.select(
        F.col("source").alias("src_b"), F.col("word").alias("bword"), "bits"
    )
    probe = (
        masks.join(
            F.broadcast(b),
            (F.col("bword") == F.col("word")) & (F.col("src_b") != F.col("source")),
        )
        .groupBy(F.col("source").alias("src_a"), "src_b", "doc_id")
        .agg(
            F.min(
                F.when(
                    F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"), 1
                ).otherwise(0)
            ).alias("all_set")
        )
    )
    flagged = probe.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_docs_a"),
        F.sum("all_set").cast("long").alias("n_flagged"),
    )
    dups = (
        d.alias("a")
        .join(
            d.select("source", "fp").distinct().alias("bd"),
            (F.col("bd.fp") == F.col("a.fp"))
            & (F.col("bd.source") != F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("bd.source").alias("src_b")
        )
        .agg(F.countDistinct("a.doc_id").alias("n_true_dup"))
    )
    fill = bloom.groupBy(F.col("source").alias("fsrc")).agg(
        F.sum(F.bit_count("bits")).cast("long").alias("bloom_bits_set")
    )
    return (
        flagged.join(dups, ["src_a", "src_b"], "left")
        .join(F.broadcast(fill), F.col("fsrc") == F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            "n_docs_a",
            "n_flagged",
            F.coalesce("n_true_dup", F.lit(0)).alias("n_true_dup"),
            F.col("bloom_bits_set").alias("bits_set_b"),
        )
    )


@query(
    "udf_cogroup_apply_in_arrow",
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t FROM events
),
o AS (
  SELECT o_custkey AS user_id, CAST(epoch_us(o_orderdate) AS BIGINT) AS t
  FROM orders
),
m AS (
  SELECT o.user_id, o.t AS ot,
         (SELECT MAX(e.t) FROM ev e
          WHERE e.user_id = o.user_id AND e.t <= o.t) AS et
  FROM o
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN et IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(COALESCE(MAX(ot - et), -1) AS BIGINT) AS max_gap_us
FROM m GROUP BY user_id
""",
    tags=("udf", "cogroup", "applyInArrow", "asof"),
)
def udf_cogroup_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED applyInArrow — the pyarrow-native twin of the pandas
    cogroup surface (udf_cogroup_apply), and the last Arrow extension
    point the registry lacked (grouped applyInArrow landed as
    udf_grouped_apply_in_arrow). The per-key computation is DIFFERENT
    from the pandas twin on purpose: an as-of reconciliation — for
    each of a user's orders, the most recent event at or before it via
    one numpy searchsorted over the sorted per-user timelines (the
    vectorized merge a pandas row loop can't match). Everything stays
    int64 epoch micros, so the Arrow path is hash-checked exactly
    against the oracle's correlated MAX-subquery formulation.

    Plan shape at 100 TB: both relations shuffle ONCE on the user key
    into co-partitioned slices (FlatMapCoGroupsInArrow — the
    sort-merge-join layout); Arrow hands Python zero-copy columns per
    key, state is one user's slices. Output is one row per user with
    orders; users with only events yield no row (pinned by the
    oracle's FROM-orders grouping)."""
    import numpy as np
    import pyarrow as pa

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros("o_orderdate").alias("od_us"),
    )

    def reconcile(key, etab: pa.Table, otab: pa.Table) -> pa.Table:
        empty = {
            "user_id": pa.array([], pa.int64()),
            "n_orders": pa.array([], pa.int64()),
            "n_matched": pa.array([], pa.int64()),
            "max_gap_us": pa.array([], pa.int64()),
        }
        if otab.num_rows == 0:
            return pa.table(empty)
        ot = np.sort(otab.column("od_us").to_numpy(zero_copy_only=False))
        et = (
            np.sort(etab.column("us").to_numpy(zero_copy_only=False))
            if etab.num_rows
            else np.empty(0, dtype=np.int64)
        )
        idx = np.searchsorted(et, ot, side="right") - 1
        matched = idx >= 0
        gaps = ot[matched] - et[idx[matched]]
        uid = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
        return pa.table(
            {
                "user_id": pa.array([int(uid)], pa.int64()),
                "n_orders": pa.array([int(len(ot))], pa.int64()),
                "n_matched": pa.array([int(matched.sum())], pa.int64()),
                "max_gap_us": pa.array(
                    [int(gaps.max()) if len(gaps) else -1], pa.int64()
                ),
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInArrow(
            reconcile,
            "user_id long, n_orders long, n_matched long, max_gap_us long",
        )
    )
