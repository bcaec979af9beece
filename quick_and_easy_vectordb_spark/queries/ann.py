"""ANN / index-build query surface (SURVEY.md §7 M6 — the scale path).

The LSH hyperplanes are a fixed integer formula, so Spark, the Python
driver, and the DuckDB oracle all derive identical signatures — the
entire approximate path is still hash-checked exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.numeric import dsum
from quick_and_easy_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
    squared_l2_distance,
    vector_literal,
)
from quick_and_easy_vectordb_spark.operators.ann import (
    centroids_by_key,
    hamming_neighbors,
    hyperplane,
    lsh_signature,
    python_lsh_signature,
)
from quick_and_easy_vectordb_spark.queries.common import (
    DIM,
    QUERY_VEC,
    sql_cosine,
    sql_dot,
    sql_l2,
    sql_l2sq,
    sql_vec,
)
from quick_and_easy_vectordb_spark.queries.registry import query
from quick_and_easy_vectordb_spark.sources.catalog import load_table
from quick_and_easy_vectordb_spark.sources.scratch import fresh

_EMB = "embedding::DOUBLE[]"
HIST_PLANES = 16
PROBE_PLANES = 4


def _sql_signature(num_planes: int) -> str:
    terms = [
        f"(CASE WHEN {sql_dot(_EMB, sql_vec(hyperplane(j, DIM)))} >= 0 "
        f"THEN '1' ELSE '0' END)"
        for j in range(num_planes)
    ]
    return " || ".join(terms)


@query(
    "ann_lsh_bucket_histogram",
    oracle=f"""
SELECT {_sql_signature(HIST_PLANES)} AS bucket, COUNT(*) AS n
FROM embeddings GROUP BY 1
""",
    tags=("ann", "lsh", "agg"),
)
def ann_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index-build statistics: 16-plane bucket histogram — the
    skew/occupancy profile you inspect before materializing the
    partitioned index (operators/ann.py:write_lsh_index)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(lsh_signature("embedding", HIST_PLANES, DIM).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _probe_list_sql() -> str:
    sig = python_lsh_signature(QUERY_VEC, PROBE_PLANES)
    return ", ".join(f"'{s}'" for s in hamming_neighbors(sig, 1))


@query(
    "ann_lsh_probe",
    oracle=f"""
WITH sig AS (
  SELECT vec_id, {_sql_signature(PROBE_PLANES)} AS bucket,
         {sql_dot(_EMB, sql_vec(QUERY_VEC))} AS similarity
  FROM embeddings
)
SELECT vec_id, bucket, similarity FROM sig
WHERE bucket IN ({_probe_list_sql()})
ORDER BY similarity DESC, vec_id LIMIT 5
""",
    tags=("ann", "lsh", "topk"),
    bench=True,
)
def ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH search: compute the query's 4-bit signature
    driver-side, probe its bucket + all Hamming-1 neighbors (5 of 16
    buckets ⇒ ~31% of the corpus scored instead of 100%), exact re-rank
    inside the probed set. With the partitioned index on disk this
    filter is partition pruning — the other buckets are never read."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = python_lsh_signature(QUERY_VEC, PROBE_PLANES)
    probes = hamming_neighbors(sig, 1)
    scored = emb.select(
        "vec_id",
        lsh_signature("embedding", PROBE_PLANES, DIM).alias("bucket"),
        dot_product("embedding", QUERY_VEC).alias("similarity"),
    )
    return (
        scored.filter(F.col("bucket").isin(probes))
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "ann_ivf_search",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
el AS (
  SELECT label, pos.pos AS pos, CAST(embedding[pos.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
cent AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM el GROUP BY label, pos
),
q AS (
  SELECT pos.pos AS pos, CAST(v[pos.pos] AS DOUBLE) AS qv
  FROM (SELECT {sql_vec(QUERY_VEC)} AS v) CROSS JOIN pos
),
d AS (
  SELECT cent.label,
         CAST(CAST(SUM(CAST((cent.c - q.qv) * (cent.c - q.qv)
              AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS dist2
  FROM cent JOIN q ON q.pos = cent.pos
  GROUP BY cent.label
),
best AS (SELECT label FROM d ORDER BY dist2, label LIMIT 1)
SELECT e.label, e.vec_id, {sql_l2(_EMB, sql_vec(QUERY_VEC))} AS l2_dist
FROM embeddings e JOIN best b ON e.label = b.label
ORDER BY l2_dist, e.vec_id LIMIT 5
""",
    tags=("ann", "ivf", "topk", "agg"),
)
def ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style two-stage search: coarse quantizer = decimal-exact
    per-label centroids (the batch 'train' step, operators/ann.py:
    centroids_by_key), assign the query to its nearest centroid, exact
    L2 top-5 inside that one cell — the corpus outside the cell is
    never scored (and with label-partitioned storage, never read)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = vector_literal(QUERY_VEC)
    cent = centroids_by_key(emb, "embedding", "label")
    qv = F.element_at(q, F.col("pos") + 1)
    dist2 = (
        cent.select("key", F.posexplode("centroid").alias("pos", "c"))
        .withColumn("diff2", (F.col("c") - qv) * (F.col("c") - qv))
        .groupBy("key")
        .agg(F.sum(F.col("diff2").cast("decimal(30,10)")).cast("double").alias("dist2"))
    )
    best = dist2.orderBy("dist2", "key").limit(1).select(F.col("key").alias("blabel"))
    return (
        emb.join(F.broadcast(best), emb.label == F.col("blabel"))
        .select(
            "label", "vec_id", l2_distance("embedding", QUERY_VEC).alias("l2_dist")
        )
        .orderBy("l2_dist", "vec_id")
        .limit(5)
    )


RECALL_K = 20


@query(
    "ann_recall_at_k",
    oracle=f"""
WITH scored AS (
  SELECT vec_id, {_sql_signature(PROBE_PLANES)} AS bucket,
         {sql_dot(_EMB, sql_vec(QUERY_VEC))} AS similarity
  FROM embeddings
),
approx AS (
  SELECT vec_id FROM scored WHERE bucket IN ({_probe_list_sql()})
  ORDER BY similarity DESC, vec_id LIMIT {RECALL_K}
),
exact AS (
  SELECT vec_id FROM scored ORDER BY similarity DESC, vec_id LIMIT {RECALL_K}
)
SELECT CAST({RECALL_K} AS BIGINT) AS k,
       (SELECT COUNT(*) FROM approx JOIN exact USING (vec_id)) AS n_hits,
       CAST((SELECT COUNT(*) FROM approx JOIN exact USING (vec_id)) AS DOUBLE)
         / {RECALL_K} AS recall
""",
    tags=("ann", "lsh", "metric"),
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index QUALITY as a first-class query: recall@20 of the
    multi-probe LSH search against the exact brute-force top-20 —
    the accept/reject metric for any ANN index build (probe more
    buckets → higher recall, more scan; this quantifies the trade).
    Both sides are deterministic, so even the quality metric is
    oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = python_lsh_signature(QUERY_VEC, PROBE_PLANES)
    probes = hamming_neighbors(sig, 1)
    scored = emb.select(
        "vec_id",
        lsh_signature("embedding", PROBE_PLANES, DIM).alias("bucket"),
        dot_product("embedding", QUERY_VEC).alias("similarity"),
    ).persist()
    approx = (
        scored.filter(F.col("bucket").isin(probes))
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(RECALL_K)
        .select("vec_id")
    )
    exact = (
        scored.orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(RECALL_K)
        .select("vec_id")
    )
    return approx.join(exact, "vec_id").agg(
        F.lit(RECALL_K).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)).cast("double") / RECALL_K).alias("recall"),
    )


NPROBE = 2


@query(
    "ann_ivf_multiprobe",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
el AS (
  SELECT label, pos.pos AS pos, CAST(embedding[pos.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
cent AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM el GROUP BY label, pos
),
q AS (
  SELECT pos.pos AS pos, CAST(v[pos.pos] AS DOUBLE) AS qv
  FROM (SELECT {sql_vec(QUERY_VEC)} AS v) CROSS JOIN pos
),
d AS (
  SELECT cent.label,
         CAST(CAST(SUM(CAST((cent.c - q.qv) * (cent.c - q.qv)
              AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS dist2
  FROM cent JOIN q ON q.pos = cent.pos
  GROUP BY cent.label
),
best AS (SELECT label FROM d ORDER BY dist2, label LIMIT {NPROBE})
SELECT e.label, e.vec_id, {sql_l2(_EMB, sql_vec(QUERY_VEC))} AS l2_dist
FROM embeddings e JOIN best b ON e.label = b.label
ORDER BY l2_dist, e.vec_id LIMIT 5
""",
    tags=("ann", "ivf", "multiprobe", "topk"),
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2: probe the TWO nearest centroid cells instead
    of one — the standard recall lever when the true neighbor falls
    just across a cell boundary. Cost scales linearly with nprobe
    (2/n_cells of the corpus scored); the probed-cell join stays a
    broadcast of the tiny centroid winner set."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = vector_literal(QUERY_VEC)
    cent = centroids_by_key(emb, "embedding", "label")
    qv = F.element_at(q, F.col("pos") + 1)
    dist2 = (
        cent.select("key", F.posexplode("centroid").alias("pos", "c"))
        .withColumn("diff2", (F.col("c") - qv) * (F.col("c") - qv))
        .groupBy("key")
        .agg(F.sum(F.col("diff2").cast("decimal(30,10)")).cast("double").alias("dist2"))
    )
    best = (
        dist2.orderBy("dist2", "key").limit(NPROBE).select(F.col("key").alias("blabel"))
    )
    return (
        emb.join(F.broadcast(best), emb.label == F.col("blabel"))
        .select(
            "label", "vec_id", l2_distance("embedding", QUERY_VEC).alias("l2_dist")
        )
        .orderBy("l2_dist", "vec_id")
        .limit(5)
    )


_KM_K = 4


def _km_assign_sql() -> str:
    ds = [f"{sql_l2(_EMB, sql_vec(hyperplane(k, DIM)))}" for k in range(_KM_K)]
    return f"""
  SELECT vec_id, embedding,
         CASE WHEN {ds[0]} <= {ds[1]} AND {ds[0]} <= {ds[2]} AND {ds[0]} <= {ds[3]} THEN 0
              WHEN {ds[1]} <= {ds[2]} AND {ds[1]} <= {ds[3]} THEN 1
              WHEN {ds[2]} <= {ds[3]} THEN 2
              ELSE 3 END AS cluster
  FROM embeddings"""


@query(
    "ann_kmeans_one_iter",
    oracle=f"""
WITH a AS ({_km_assign_sql()}),
pos AS (SELECT unnest(range(1, {DIM} + 1)) AS p)
SELECT CAST(a.cluster AS BIGINT) AS cluster,
       CAST(pos.p - 1 AS BIGINT) AS pos,
       CAST(CAST(SUM(CAST(floor(CAST(a.embedding[pos.p] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 1073741824.0 / COUNT(*) AS c,
       COUNT(*) AS n
FROM a CROSS JOIN pos
GROUP BY 1, 2
""",
    tags=("ann", "kmeans", "iterative", "agg"),
)
def ann_kmeans_one_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means (k=4) as pure DataFrame algebra —
    the inner loop of distributed clustering / IVF training: assign
    every vector to its nearest deterministic seed centroid
    (hyperplane(k) seeds, explicit <=-chain argmin so the tiebreak is
    the same CASE order on both engines), then recompute centroids
    decimal-exact per (cluster, position) with map-side partial sums.
    The full algorithm is this query iterated with the output fed back
    as seeds — each iteration is one scan + one shuffle of
    O(clusters·dim) aggregate rows, never the corpus; a driver loop
    with localCheckpoint between rounds (operators/graph.py pattern)
    runs it to convergence."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    d = [l2_distance("embedding", hyperplane(k, DIM)) for k in range(_KM_K)]
    cluster = (
        F.when((d[0] <= d[1]) & (d[0] <= d[2]) & (d[0] <= d[3]), 0)
        .when((d[1] <= d[2]) & (d[1] <= d[3]), 1)
        .when(d[2] <= d[3], 2)
        .otherwise(3)
    )
    assigned = emb.select(cluster.cast("long").alias("cluster"), e.alias("e"))
    el = assigned.select("cluster", F.posexplode("e").alias("pos", "v"))
    return (
        el.groupBy("cluster", F.col("pos").cast("long").alias("pos"))
        .agg(
            (
                F.sum(F.floor(F.col("v") * F.lit(1073741824.0)).cast("long"))
                .cast("double")
                / F.lit(1073741824.0)
                / F.count(F.lit(1))
            ).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
    )


PQ_SUBS, PQ_SUBDIM, PQ_CAND = 8, 8, 50

# Shared PQ CTE chain (codebook -> codes -> per-vector ADC distance):
# used by ann_pq_adc_search (search) and ann_pq_recall (quality metric).
SQL_PQ_ADC = f"""WITH pos AS (SELECT unnest(range(0, {DIM})) AS pos),
el AS (
  SELECT vec_id, pos.pos // {PQ_SUBDIM} AS m, pos.pos % {PQ_SUBDIM} AS j,
         CAST(embedding[pos.pos + 1] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
seed AS (
  SELECT vec_id, mm.m AS m,
         2 * (CASE WHEN CAST(embedding[mm.m * {PQ_SUBDIM} + 1] AS DOUBLE) >= 0
                   THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(embedding[mm.m * {PQ_SUBDIM} + {PQ_SUBDIM // 2} + 1] AS DOUBLE) >= 0
                   THEN 1 ELSE 0 END) AS k
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, {PQ_SUBS})) AS m) mm
),
cb AS (
  SELECT el.m, seed.k, el.j,
         CAST(CAST(SUM(CAST(el.val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(el.val) AS c
  FROM el JOIN seed ON seed.vec_id = el.vec_id AND seed.m = el.m
  GROUP BY 1, 2, 3
),
enc0 AS (
  SELECT el.vec_id AS id, el.m, cb.k,
         SUM(CAST((el.val - cb.c) * (el.val - cb.c) AS DECIMAL(30,10))) AS dist2
  FROM el JOIN cb ON cb.m = el.m AND cb.j = el.j
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT id, m, k FROM (
    SELECT id, m, k,
           ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist2, k) AS rn
    FROM enc0) WHERE rn = 1
),
qd AS (
  SELECT m, k, SUM(CAST((qv - c) * (qv - c) AS DECIMAL(30,10))) AS qdist2
  FROM (SELECT cb.m, cb.k, cb.c,
               CAST(({sql_vec(QUERY_VEC)})[cb.m * {PQ_SUBDIM} + cb.j + 1] AS DOUBLE) AS qv
        FROM cb)
  GROUP BY 1, 2
),
adc AS (
  SELECT enc.id, CAST(CAST(SUM(qdist2) AS VARCHAR) AS DOUBLE) AS adc_dist2
  FROM enc JOIN qd ON qd.m = enc.m AND qd.k = enc.k
  GROUP BY 1
)"""


@query(
    "ann_pq_adc_search",
    oracle=f"""
{SQL_PQ_ADC},
cand AS (SELECT id, adc_dist2 FROM adc ORDER BY adc_dist2, id LIMIT {PQ_CAND})
SELECT e.vec_id, c.adc_dist2, {sql_l2(_EMB, sql_vec(QUERY_VEC))} AS l2_dist
FROM embeddings e JOIN cand c ON c.id = e.vec_id
ORDER BY l2_dist, e.vec_id LIMIT 10
""",
    tags=("ann", "pq", "quantization", "topk"),
)
def ann_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization search with asymmetric distance computation
    (ADC), Jégou et al. 2011 — THE memory-bound large-corpus ANN
    representation: each 64-dim vector compresses to 8 one-byte codes
    (8 subspaces × 4 codewords here), the query scans only the code
    table against a 32-entry precomputed distance lookup, and exact L2
    reranks the top-{PQ_CAND} shortlist.

    Training is deterministic (operators/ann.py:pq_codebook): each
    subspace's cells are seeded by a 2-sign-bit split of the data and
    one decimal-exact mean step — no RNG, so the Spark codebook, code
    assignments, ADC scores, and the DuckDB oracle agree bit-for-bit
    (all distance sums are DECIMAL until the final double).

    Plan shape at 100 TB: the codebook (256 rows) and the query's ADC
    table (32 rows) broadcast; encoding is a map-side broadcast join +
    one agg keyed (id, m, k); the search scan touches ONLY the code
    table — the full vectors are read again just for the {PQ_CAND}-row
    rerank (with the codes stored columnar, the scan:rerank byte ratio
    is ~64:1)."""
    from quick_and_easy_vectordb_spark.operators.ann import pq_codebook, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "embedding", PQ_SUBS, PQ_SUBDIM).persist()
    codes = pq_encode(emb, cb, "embedding", "vec_id", PQ_SUBDIM, PQ_SUBS)
    qlit = vector_literal(QUERY_VEC)
    qd = (
        cb.withColumn(
            "qv",
            F.element_at(qlit, (F.col("m") * PQ_SUBDIM + F.col("j") + 1).cast("int")),
        )
        .withColumn("qdiff2", (F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c")))
        .groupBy("m", "k")
        .agg(F.sum(F.col("qdiff2").cast("decimal(30,10)")).alias("qdist2"))
    )
    adc = (
        codes.join(F.broadcast(qd), ["m", "k"])
        .groupBy("id")
        .agg(F.sum("qdist2").cast("double").alias("adc_dist2"))
    )
    cand = adc.orderBy("adc_dist2", "id").limit(PQ_CAND)
    return (
        emb.join(F.broadcast(cand), emb.vec_id == F.col("id"))
        .select(
            "vec_id",
            "adc_dist2",
            l2_distance("embedding", QUERY_VEC).alias("l2_dist"),
        )
        .orderBy("l2_dist", "vec_id")
        .limit(10)
    )


@query(
    "ann_pq_recall",
    oracle=f"""
{SQL_PQ_ADC},
approx AS (SELECT id FROM adc ORDER BY adc_dist2, id LIMIT 10),
exact AS (
  SELECT vec_id AS id FROM embeddings
  ORDER BY {sql_l2(_EMB, sql_vec(QUERY_VEC))}, vec_id LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       (SELECT COUNT(*) FROM approx JOIN exact USING (id)) AS n_hits,
       CAST((SELECT COUNT(*) FROM approx JOIN exact USING (id)) AS DOUBLE)
         / 10 AS recall
""",
    tags=("ann", "pq", "metric"),
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of RAW ADC ranking (no exact rerank) against the
    brute-force L2 top-10 — quantifies what the 64:1 compression of
    ann_pq_adc_search costs in ranking quality BEFORE the rerank
    repairs it (the pair of numbers that justifies the shortlist+rerank
    architecture: scan cheap, rerank exact). Deterministic codebooks
    make even this quality metric hash-checkable, mirroring
    ann_recall_at_k for the LSH family."""
    from quick_and_easy_vectordb_spark.operators.ann import pq_codebook, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "embedding", PQ_SUBS, PQ_SUBDIM).persist()
    codes = pq_encode(emb, cb, "embedding", "vec_id", PQ_SUBDIM, PQ_SUBS)
    qlit = vector_literal(QUERY_VEC)
    qd = (
        cb.withColumn(
            "qv",
            F.element_at(qlit, (F.col("m") * PQ_SUBDIM + F.col("j") + 1).cast("int")),
        )
        .withColumn("qdiff2", (F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c")))
        .groupBy("m", "k")
        .agg(F.sum(F.col("qdiff2").cast("decimal(30,10)")).alias("qdist2"))
    )
    approx = (
        codes.join(F.broadcast(qd), ["m", "k"])
        .groupBy("id")
        .agg(F.sum("qdist2").cast("double").alias("adc_dist2"))
        .orderBy("adc_dist2", "id")
        .limit(10)
        .select("id")
    )
    exact = (
        emb.select("vec_id", l2_distance("embedding", QUERY_VEC).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select(F.col("vec_id").alias("id"))
    )
    return approx.join(exact, "id").agg(
        F.lit(10).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall"),
    )


IVFPQ_NPROBE, IVFPQ_CAND = 2, 50


@query(
    "ann_ivf_pq_search",
    bench=True,
    oracle=f"""
{SQL_PQ_ADC},
posc AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
elc AS (
  SELECT label, posc.pos AS pos, CAST(embedding[posc.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN posc
),
centc AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM elc GROUP BY label, pos
),
qc AS (
  SELECT posc.pos AS pos, CAST(v[posc.pos] AS DOUBLE) AS qv
  FROM (SELECT {sql_vec(QUERY_VEC)} AS v) CROSS JOIN posc
),
dc AS (
  SELECT centc.label,
         CAST(CAST(SUM(CAST((centc.c - qc.qv) * (centc.c - qc.qv)
              AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS dist2
  FROM centc JOIN qc ON qc.pos = centc.pos
  GROUP BY centc.label
),
probed AS (SELECT label FROM dc ORDER BY dist2, label LIMIT {IVFPQ_NPROBE}),
cand AS (
  SELECT e.vec_id, a.adc_dist2
  FROM embeddings e
  JOIN probed p ON e.label = p.label
  JOIN adc a ON a.id = e.vec_id
  ORDER BY a.adc_dist2, e.vec_id LIMIT {IVFPQ_CAND}
)
SELECT e.vec_id, c.adc_dist2, {sql_l2(_EMB, sql_vec(QUERY_VEC))} AS l2_dist
FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id
ORDER BY l2_dist, e.vec_id LIMIT 10
""",
    tags=("ann", "ivf", "pq", "quantization", "topk"),
)
def ann_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite index search — the Faiss `IVFx,PQy` default for
    billion-vector corpora, here as a pure DataFrame composition of the
    two oracle-checked stages: the IVF coarse quantizer prunes the scan
    to the {IVFPQ_NPROBE} nearest cells (per-label decimal-exact
    centroids; with label-partitioned storage the other cells are
    partition-pruned, never read), PQ ADC ranks ONLY the probed cells'
    code rows against the 32-entry broadcast lookup table, and exact L2
    reranks the top-{IVFPQ_CAND} shortlist.

    The codebook trains on the FULL corpus (matching a production flow
    where training is a one-off batch job independent of per-query
    probing), so per-vector ADC distances are identical whether or not
    a cell is probed — which is what lets the oracle compute ADC
    globally and intersect, while Spark encodes only the probed
    fraction. Scan cost per query: |corpus|·nprobe/cells code bytes +
    {IVFPQ_CAND} full vectors — the multiplicative combination of the
    two prunings, vs either alone."""
    from quick_and_easy_vectordb_spark.operators.ann import pq_codebook, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    qlit = vector_literal(QUERY_VEC)

    # Coarse stage: top-nprobe cells by centroid distance.
    cent = centroids_by_key(emb, "embedding", "label")
    qv = F.element_at(qlit, F.col("pos") + 1)
    dist2 = (
        cent.select("key", F.posexplode("centroid").alias("pos", "c"))
        .withColumn("diff2", (F.col("c") - qv) * (F.col("c") - qv))
        .groupBy("key")
        .agg(
            F.sum(F.col("diff2").cast("decimal(30,10)")).cast("double").alias("dist2")
        )
    )
    probed = (
        dist2.orderBy("dist2", "key")
        .limit(IVFPQ_NPROBE)
        .select(F.col("key").alias("plabel"))
    )
    cell = emb.join(F.broadcast(probed), emb.label == F.col("plabel")).drop("plabel")

    # Fine stage: ADC over the probed cells only, codebook from the
    # full corpus (training is probe-independent).
    cb = pq_codebook(emb, "embedding", PQ_SUBS, PQ_SUBDIM).persist()
    codes = pq_encode(cell, cb, "embedding", "vec_id", PQ_SUBDIM, PQ_SUBS)
    qd = (
        cb.withColumn(
            "qv",
            F.element_at(qlit, (F.col("m") * PQ_SUBDIM + F.col("j") + 1).cast("int")),
        )
        .withColumn("qdiff2", (F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c")))
        .groupBy("m", "k")
        .agg(F.sum(F.col("qdiff2").cast("decimal(30,10)")).alias("qdist2"))
    )
    cand = (
        codes.join(F.broadcast(qd), ["m", "k"])
        .groupBy("id")
        .agg(F.sum("qdist2").cast("double").alias("adc_dist2"))
        .orderBy("adc_dist2", "id")
        .limit(IVFPQ_CAND)
    )
    return (
        emb.join(F.broadcast(cand), emb.vec_id == F.col("id"))
        .select(
            "vec_id",
            "adc_dist2",
            l2_distance("embedding", QUERY_VEC).alias("l2_dist"),
        )
        .orderBy("l2_dist", "vec_id")
        .limit(10)
    )


# Shared SQ8 CTE chain: per-dim [min, max] -> 8-bit bin -> bin-midpoint
# reconstruction, used by ann_sq8_search (serving) and ann_sq8_recall
# (index-quality metric).
SQL_SQ8_DQ = f"""el AS (
  SELECT vec_id, pos.p AS p, CAST(embedding[pos.p] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS p) pos
),
stats AS (
  SELECT list(mn ORDER BY p) AS mns, list(mx - mn ORDER BY p) AS spans
  FROM (SELECT p, MIN(v) AS mn, MAX(v) AS mx FROM el GROUP BY p)
),
dq AS (
  SELECT e.vec_id,
         list_transform({_EMB}, (x, i) ->
           CASE WHEN s.spans[i] > 0
                THEN s.mns[i]
                     + (LEAST(255.0, FLOOR((x - s.mns[i]) * 256.0 / s.spans[i]))
                        + 0.5) * s.spans[i] / 256.0
                ELSE s.mns[i] END) AS e8
  FROM embeddings e CROSS JOIN stats s
)"""


def _sq8_scored(emb: DataFrame) -> DataFrame:
    """(vec_id, sq8_score): train per-dim [min, max] from the corpus in
    one map-side-combined groupBy(pos), broadcast the 1-row stats onto
    an unshuffled corpus scan, score the bin-midpoint reconstruction
    against QUERY_VEC with the shared fold."""
    el = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    per_dim = el.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    stats = per_dim.agg(
        F.sort_array(F.collect_list(F.struct("pos", "mn", "mx"))).alias("arr")
    ).select(
        F.transform("arr", lambda s: s.mn).alias("mns"),
        F.transform("arr", lambda s: s.mx - s.mn).alias("spans"),
    )
    dq = emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(
                F.element_at("spans", i + 1) > 0,
                F.element_at("mns", i + 1)
                + (
                    F.least(
                        F.lit(255.0),
                        F.floor(
                            (x - F.element_at("mns", i + 1))
                            * F.lit(256.0)
                            / F.element_at("spans", i + 1)
                        ),
                    )
                    + F.lit(0.5)
                )
                * F.element_at("spans", i + 1)
                / F.lit(256.0),
            ).otherwise(F.element_at("mns", i + 1)),
        ).alias("e8"),
    )
    return dq.select("vec_id", dot_product("e8", QUERY_VEC).alias("sq8_score"))


@query(
    "ann_sq8_search",
    oracle=f"""
WITH {SQL_SQ8_DQ}
SELECT vec_id, {sql_dot('e8', sql_vec(QUERY_VEC))} AS sq8_score
FROM dq
ORDER BY sq8_score DESC, vec_id
LIMIT 5
""",
    tags=("ann", "quantization", "sq8", "topk"),
    bench=True,
)
def ann_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization (SQ8) search — the remaining classic ANN
    compression family next to the engine's LSH / IVF / PQ / binary
    paths: per-dimension [min, max] is learned from the corpus, each
    component is stored as an 8-bit bin index (4x smaller than
    float32), and search scores the bin-midpoint reconstruction.
    Faiss's ScalarQuantizer / Milvus SQ8 are this operator; here the
    train-quantize-score cycle is pure DataFrame algebra, scored in
    one pass to keep the whole chain oracle-checkable.

    Determinism: min/max are order-independent; quantize/dequantize is
    a per-element IEEE chain written in the same op order in both
    engines (floor/least on exact doubles), and the final dot is the
    shared fold shape (functions/vector.py ≡ list_dot_product).

    Plan shape at 100 TB: training is ONE map-side-combined
    groupBy(pos) over exploded components — shuffle carries 2·dim
    partials per task; the 1-row [mns, spans] result broadcasts onto
    an unshuffled corpus scan (BroadcastNestedLoopJoin of one row),
    and top-k is TakeOrderedAndProject. In production the codes are
    written once (write-side transform) and the scan reads 1/4 the
    bytes; scoring then uses the same broadcast stats."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _sq8_scored(emb)
        .orderBy(F.desc("sq8_score"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "ann_sq8_recall",
    oracle=f"""
WITH {SQL_SQ8_DQ},
approx AS (
  SELECT vec_id, {sql_dot('e8', sql_vec(QUERY_VEC))} AS s
  FROM dq ORDER BY s DESC, vec_id LIMIT {RECALL_K}
),
exact AS (
  SELECT vec_id, {sql_dot(_EMB, sql_vec(QUERY_VEC))} AS s
  FROM embeddings ORDER BY s DESC, vec_id LIMIT {RECALL_K}
)
SELECT CAST({RECALL_K} AS BIGINT) AS k,
       (SELECT COUNT(*) FROM approx JOIN exact USING (vec_id)) AS n_hits,
       CAST((SELECT COUNT(*) FROM approx JOIN exact USING (vec_id)) AS DOUBLE)
         / {RECALL_K} AS recall
""",
    tags=("ann", "quantization", "sq8", "metric"),
)
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of SQ8 bin-midpoint scoring against the exact
    brute-force ranking — the accept/reject metric for the 4x
    compression: how many of the true top-20 survive quantized
    scoring. Completes the quality-metric trio (LSH multi-probe
    recall, PQ-ADC recall, SQ8 recall) so every compression family in
    the engine carries its own oracle-checked quality number — at
    100 TB the metric query IS how the codec choice gets made, run on
    a sample before committing the write-side transform.

    Plan shape: both rankings are narrow-scan TakeOrderedAndProject
    top-k (the dequantization reuses the broadcast [mns, spans]
    stats); the overlap join is k rows against k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = (
        _sq8_scored(emb)
        .orderBy(F.desc("sq8_score"), F.asc("vec_id"))
        .limit(RECALL_K)
        .select("vec_id")
    )
    exact = (
        emb.select("vec_id", dot_product("embedding", QUERY_VEC).alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(RECALL_K)
        .select("vec_id")
    )
    return approx.join(exact, "vec_id").agg(
        F.lit(RECALL_K).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        (F.count(F.lit(1)).cast("double") / RECALL_K).alias("recall"),
    )


@query(
    "ann_centroid_drift",
    oracle=f"""
WITH el AS (
  SELECT vec_id % 2 AS half, label, pos.p - 1 AS pos,
         CAST(embedding[pos.p] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS p) pos
),
cent AS (
  SELECT half, label, pos,
         CAST(SUM(CAST(floor(v * 1073741824.0) AS BIGINT)) AS DOUBLE)
           / 1073741824.0 / COUNT(*) AS c,
         COUNT(*) AS n
  FROM el GROUP BY 1, 2, 3
),
paired AS (
  SELECT a.label, a.pos, a.c AS c0, b.c AS c1, a.n AS n0, b.n AS n1
  FROM cent a JOIN cent b
    ON b.label = a.label AND b.pos = a.pos AND a.half = 0 AND b.half = 1
)
SELECT CAST(label AS BIGINT) AS label,
       sqrt(CAST(CAST(SUM(CAST((c1 - c0) * (c1 - c0) AS DECIMAL(30,10)))
                 AS VARCHAR) AS DOUBLE)) AS drift,
       CAST(MAX(n0) AS BIGINT) AS n_old,
       CAST(MAX(n1) AS BIGINT) AS n_new
FROM paired
GROUP BY label
ORDER BY drift DESC, label
""",
    tags=("ann", "centroid", "drift", "index-maintenance"),
)
def ann_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index STALENESS metric: per-cell centroid drift between the
    index-time corpus half (even vec_ids) and the newly-ingested half
    (odd vec_ids) — the number that decides when an IVF coarse
    quantizer must be retrained: cells whose data moved far from the
    trained centroid degrade recall silently, and a monitoring job
    runs exactly this comparison on a schedule. Drift = L2 distance
    between each half's fixed-point-exact per-label centroid, ranked
    worst-first.

    Determinism: both centroids use the floor(v·2³⁰) integer-sum mean
    (exact at any partitioning); the 64-term squared-diff sum is
    decimal-exact; sqrt is one correctly-rounded IEEE op.

    Plan shape at 100 TB: one corpus scan → posexplode → a single
    map-side-combined groupBy(half, label, pos) whose shuffle carries
    O(2·labels·dim) partials; the pairing join and final rollup touch
    O(labels·dim) rows. Same build shape as vdb_centroid_routing,
    doubled by the half key."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = el.groupBy("half", "label", "pos").agg(
        (
            F.sum(F.floor(F.col("v") * F.lit(1073741824.0)).cast("long"))
            .cast("double")
            / F.lit(1073741824.0)
            / F.count(F.lit(1))
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("c0"), F.col("n").alias("n0")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("c1"), F.col("n").alias("n1")
    )
    paired = a.join(b, ["label", "pos"])
    return (
        paired.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.sqrt(
                F.sum(
                    ((F.col("c1") - F.col("c0")) * (F.col("c1") - F.col("c0"))).cast(
                        "decimal(30,10)"
                    )
                ).cast("double")
            ).alias("drift"),
            F.max("n0").cast("long").alias("n_old"),
            F.max("n1").cast("long").alias("n_new"),
        )
        .orderBy(F.desc("drift"), F.asc("label"))
    )


SQL_INT4_DQ = f"""el4 AS (
  SELECT vec_id, pos.p AS p, CAST(embedding[pos.p] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS p) pos
),
stats4 AS (
  SELECT list(mn ORDER BY p) AS mns, list(mx - mn ORDER BY p) AS spans
  FROM (SELECT p, MIN(v) AS mn, MAX(v) AS mx FROM el4 GROUP BY p)
),
dq4 AS (
  SELECT e.vec_id,
         list_transform({_EMB}, (x, i) ->
           CASE WHEN s.spans[i] > 0
                THEN s.mns[i]
                     + (LEAST(15.0, FLOOR((x - s.mns[i]) * 16.0 / s.spans[i]))
                        + 0.5) * s.spans[i] / 16.0
                ELSE s.mns[i] END) AS e4
  FROM embeddings e CROSS JOIN stats4 s
)"""


@query(
    "ann_int4_search",
    oracle=f"""
WITH {SQL_INT4_DQ}
SELECT vec_id, {sql_dot('e4', sql_vec(QUERY_VEC))} AS int4_score
FROM dq4
ORDER BY int4_score DESC, vec_id
LIMIT 5
""",
    tags=("ann", "quantization", "int4", "topk"),
)
def ann_int4_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT4 scalar quantization top-k — the 8x-compression point on
    the SQ ladder (64 dims -> 32 bytes; two codes per byte on disk):
    per-dim [min, max] trained from the corpus in one
    map-side-combined groupBy, 16 uniform bins, bin-MIDPOINT
    reconstruction scored against the query. The 4-bit codebook is
    where modern vector stores land for memory-resident search
    (recall loss vs SQ8 is the measured trade); the code path is
    ann_sq8_search's with 16 levels, so the two share audit
    structure and their recall gap is directly comparable.

    Plan shape at 100 TB: train = one O(dim)-row aggregate
    broadcast back onto an unshuffled corpus scan; score = JVM
    transform + the shared sequential-fold dot; top-k =
    TakeOrderedAndProject. No shuffle touches vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    per_dim = el.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    stats = per_dim.agg(
        F.sort_array(F.collect_list(F.struct("pos", "mn", "mx"))).alias("arr")
    ).select(
        F.transform("arr", lambda s: s.mn).alias("mns"),
        F.transform("arr", lambda s: s.mx - s.mn).alias("spans"),
    )
    dq = emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(
                F.element_at("spans", i + 1) > 0,
                F.element_at("mns", i + 1)
                + (
                    F.least(
                        F.lit(15.0),
                        F.floor(
                            (x - F.element_at("mns", i + 1))
                            * F.lit(16.0)
                            / F.element_at("spans", i + 1)
                        ),
                    )
                    + F.lit(0.5)
                )
                * F.element_at("spans", i + 1)
                / F.lit(16.0),
            ).otherwise(F.element_at("mns", i + 1)),
        ).alias("e4"),
    )
    return (
        dq.select("vec_id", dot_product("e4", QUERY_VEC).alias("int4_score"))
        .orderBy(F.desc("int4_score"), F.asc("vec_id"))
        .limit(5)
    )


def _km_iter_oracle(rounds: int = 3) -> str:
    """Generate the SQL oracle for `ann_kmeans_iterated`: `rounds`
    assign/update cycles with Lloyd's algorithm, seeds = the same
    hyperplanes as the Spark side, fixed-point (floor * 2^30) centroid
    means so every round's centroids are bit-identical across engines,
    and empty clusters retaining their previous centroid."""
    seeds = " UNION ALL ".join(
        f"SELECT {k} AS cluster, {sql_vec(hyperplane(k, DIM))} AS carr"
        for k in range(_KM_K)
    )
    parts = [f"pos AS (SELECT unnest(range(1, {DIM} + 1)) AS p)",
             f"c0arr AS ({seeds})"]
    dist = (
        "sqrt(list_sum(list_transform(list_zip({e}, c.carr),"
        " q -> (q[1] - q[2]) * (q[1] - q[2]))))"
    ).format(e=_EMB)
    for r in range(1, rounds + 1):
        prev = f"c{r-1}arr"
        parts.append(f"""x{r} AS (
  SELECT v.vec_id,
         MAX(CASE WHEN c.cluster = 0 THEN {dist} END) AS d0,
         MAX(CASE WHEN c.cluster = 1 THEN {dist} END) AS d1,
         MAX(CASE WHEN c.cluster = 2 THEN {dist} END) AS d2,
         MAX(CASE WHEN c.cluster = 3 THEN {dist} END) AS d3
  FROM embeddings v CROSS JOIN {prev} c GROUP BY v.vec_id
)""")
        parts.append(f"""a{r} AS (
  SELECT vec_id,
         CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
              WHEN d1 <= d2 AND d1 <= d3 THEN 1
              WHEN d2 <= d3 THEN 2
              ELSE 3 END AS cluster
  FROM x{r}
)""")
        parts.append(f"""m{r} AS (
  SELECT a.cluster, pos.p - 1 AS pos,
         CAST(CAST(SUM(CAST(floor(CAST(v.embedding[pos.p] AS DOUBLE)
                                  * 1073741824.0) AS BIGINT)) AS BIGINT)
              AS DOUBLE) / 1073741824.0 / COUNT(*) AS c,
         COUNT(*) AS n
  FROM embeddings v JOIN a{r} a ON a.vec_id = v.vec_id CROSS JOIN pos
  GROUP BY 1, 2
)""")
        if r < rounds:
            parts.append(f"""c{r}arr AS (
  SELECT p.cluster, COALESCE(m.carr, p.carr) AS carr
  FROM {prev} p LEFT JOIN (
    SELECT cluster, list(c ORDER BY pos) AS carr FROM m{r} GROUP BY cluster
  ) m ON m.cluster = p.cluster
)""")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT CAST(cluster AS BIGINT) AS cluster, CAST(pos AS BIGINT) AS pos,
       c, CAST(n AS BIGINT) AS n
FROM m{rounds}"""
    )


@query(
    "ann_kmeans_iterated",
    oracle=_km_iter_oracle(3),
    tags=("ann", "kmeans", "iterative", "lloyd", "agg"),
)
def ann_kmeans_iterated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE Lloyd's k-means (3 assign/update rounds) — the
    representative of the iterative-algorithm class on Spark: each
    round assigns vectors to their nearest centroid in a pure scan
    (centroids enter as LITERALS — the driver collects the O(k*dim)
    centroid table between rounds and re-broadcasts it, exactly
    MLlib's model-update loop; 256 doubles, the documented
    constant-cost exception, never data), then recomputes fixed-point
    centroid means (floor * 2^30 before summing, so the means — and
    therefore every subsequent round's assignments — are bit-identical
    across engines; a naive double mean would drift by summation
    order and de-synchronize round 2). Argmin ties break toward the
    lower cluster index; empty clusters keep their previous centroid
    (standard Lloyd). The oracle replays all three rounds in SQL from
    the same hyperplane seeds.

    Plan shape at 100 TB: per round, one embarrassingly-parallel
    assignment scan + one map-side-combined groupBy(cluster, pos)
    whose shuffle carries O(k*dim) partials per task — the classic
    'train with a DataFrame job' loop; rounds are sequential by
    nature, everything inside a round is one pass."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent: dict[int, list[float]] = {k: hyperplane(k, DIM) for k in range(_KM_K)}
    rounds = 3
    m = None
    for r in range(1, rounds + 1):
        d = [l2_distance("e", cent[k]) for k in range(_KM_K)]
        cluster = (
            F.when((d[0] <= d[1]) & (d[0] <= d[2]) & (d[0] <= d[3]), 0)
            .when((d[1] <= d[2]) & (d[1] <= d[3]), 1)
            .when(d[2] <= d[3], 2)
            .otherwise(3)
        )
        a = emb.select("vec_id", "e", cluster.alias("cluster"))
        el = a.select("cluster", F.posexplode("e").alias("pos", "v"))
        m = el.groupBy("cluster", "pos").agg(
            (
                F.sum(F.floor(F.col("v") * F.lit(1073741824.0)).cast("long"))
                .cast("double")
                / F.lit(1073741824.0)
                / F.count(F.lit(1))
            ).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        if r < rounds:
            # model-update collect: O(k*dim) centroid rows, never data
            rows = m.collect()
            new = {}
            for k in range(_KM_K):
                vals = sorted(
                    ((row["pos"], row["c"]) for row in rows if row["cluster"] == k)
                )
                if vals:
                    new[k] = [v for _, v in vals]
                else:
                    new[k] = cent[k]
            cent = new
    return m.select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("pos").cast("long").alias("pos"),
        "c",
        F.col("n").cast("long").alias("n"),
    )


@query(
    "ann_hnsw_substrate",
    oracle=f"""
WITH lv AS (
  SELECT vec_id, label, {_EMB} AS e,
         len(regexp_extract(md5('hnsw-v1:' || CAST(vec_id AS VARCHAR)),
                            '^0*')) AS level
  FROM embeddings
),
hist AS (
  SELECT level, COUNT(*) AS n_nodes FROM lv GROUP BY level
),
upper AS (SELECT * FROM lv WHERE level >= 1),
edges AS (
  SELECT level FROM (
    SELECT a.level, a.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.level, a.vec_id
             ORDER BY {sql_cosine('a.e', 'b.e')} DESC, b.vec_id) AS rn
    FROM upper a JOIN upper b
      ON b.level = a.level AND b.label = a.label AND b.vec_id <> a.vec_id
  ) WHERE rn <= 2
),
ec AS (SELECT level, COUNT(*) AS n_edges FROM edges GROUP BY level)
SELECT CAST(h.level AS BIGINT) AS level,
       CAST(h.n_nodes AS BIGINT) AS n_nodes,
       CAST(COALESCE(ec.n_edges, 0) AS BIGINT) AS n_edges
FROM hist h LEFT JOIN ec ON ec.level = h.level
""",
    tags=("ann", "hnsw", "graph", "levels"),
)
def ann_hnsw_substrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW CONSTRUCTION SUBSTRATE: the two data structures a
    hierarchical small-world index is built from — (1) geometric
    LEVEL assignment (level = count of leading zero hex digits of a
    keyed md5: P(level >= L) = 16^-L, the deterministic stand-in for
    HNSW's floor(-ln(U)*mL) that no cross-engine ln() could
    hash-verify), and (2) per-level neighbor edges for the sparse
    upper layers (top-2 by cosine within label blocks — the same
    blocked self-join discipline as vdb_knn_graph; level 0 is the
    dense base layer and IS vdb_knn_graph). Output: nodes and edges
    per level — the skeleton a navigable-small-world search descends.

    Plan shape at 100 TB: the level column is a scan-side expression;
    upper layers shrink geometrically (1/16 per level), so the
    upper-level edge joins touch vanishing fractions of the corpus —
    the property that makes HNSW construction tractable as a
    sequence of DataFrame jobs."""
    emb = load_table(spark, sf_dir, "embeddings")
    lv = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
        F.length(
            F.regexp_extract(
                F.md5(F.concat(F.lit("hnsw-v1:"), F.col("vec_id").cast("string"))),
                "^0*",
                0,
            )
        ).alias("level"),
    ).persist()  # histogram + upper-layer self-join both read it
    hist = lv.groupBy("level").agg(F.count(F.lit(1)).alias("n_nodes"))
    upper = lv.filter(F.col("level") >= 1)
    a = upper.select(
        F.col("level"), F.col("label"), F.col("vec_id").alias("src"), F.col("e").alias("ea")
    )
    b = upper.select(
        F.col("level"), F.col("label"), F.col("vec_id").alias("nbr"), F.col("e").alias("eb")
    )
    w = Window.partitionBy("level", "src").orderBy(
        F.desc(cosine_similarity("ea", "eb")), F.asc("nbr")
    )
    edges = (
        a.join(b, ["level", "label"])
        .filter(F.col("nbr") != F.col("src"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    return hist.join(edges, "level", "left").select(
        F.col("level").cast("long").alias("level"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.coalesce(F.col("n_edges"), F.lit(0)).cast("long").alias("n_edges"),
    )


# Shared IVF coarse-quantizer CTE prefix (decimal-exact per-label
# centroids + query-to-centroid distances), reused by the filtered
# search and the nprobe tuning curve below.
_IVF_CTE = f"""
WITH pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
el AS (
  SELECT label, pos.pos AS pos, CAST(embedding[pos.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
cent AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM el GROUP BY label, pos
),
q AS (
  SELECT pos.pos AS pos, CAST(v[pos.pos] AS DOUBLE) AS qv
  FROM (SELECT {sql_vec(QUERY_VEC)} AS v) CROSS JOIN pos
),
d AS (
  SELECT cent.label,
         CAST(CAST(SUM(CAST((cent.c - q.qv) * (cent.c - q.qv)
              AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS dist2
  FROM cent JOIN q ON q.pos = cent.pos
  GROUP BY cent.label
)"""

_FILT_NPROBE = 2


@query(
    "ann_ivf_filtered_search",
    oracle=f"""{_IVF_CTE},
best AS (SELECT label FROM d ORDER BY dist2, label LIMIT {_FILT_NPROBE})
SELECT e.label, e.vec_id, {sql_l2(_EMB, sql_vec(QUERY_VEC))} AS l2_dist
FROM embeddings e JOIN best b ON e.label = b.label
WHERE e.vec_id % 3 = 0
ORDER BY l2_dist, e.vec_id LIMIT 5
""",
    tags=("ann", "ivf", "filtered-search", "topk"),
)
def ann_ivf_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN search — top-k under a metadata predicate
    (tenant id, language, date range; here the stand-in
    vec_id % 3 = 0), the workload behind filtered-DiskANN / ACORN:
    the filter is applied INSIDE the probed IVF cells BEFORE
    distance scoring, so selectivity reduces scoring work instead of
    post-hoc truncating the result (contrast vdb_postfilter_search,
    which scores first and filters after — the recall-losing naive
    order). nprobe=2 compensates for candidates removed by the
    predicate.

    Plan shape at 100 TB: centroid ranking is O(cells); the
    candidate scan is predicate-first (Catalyst pushes the filter to
    the probed-cell scan — with label-partitioned storage, partition
    pruning + row-group filter), then exact L2 top-5 over the
    filtered cells only. The filter never touches un-probed cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = vector_literal(QUERY_VEC)
    cent = centroids_by_key(emb, "embedding", "label")
    qv = F.element_at(q, F.col("pos") + 1)
    dist2 = (
        cent.select("key", F.posexplode("centroid").alias("pos", "c"))
        .withColumn("diff2", (F.col("c") - qv) * (F.col("c") - qv))
        .groupBy("key")
        .agg(
            F.sum(F.col("diff2").cast("decimal(30,10)"))
            .cast("double")
            .alias("dist2")
        )
    )
    best = (
        dist2.orderBy("dist2", "key")
        .limit(_FILT_NPROBE)
        .select(F.col("key").alias("blabel"))
    )
    return (
        emb.filter(F.col("vec_id") % 3 == 0)
        .join(F.broadcast(best), emb.label == F.col("blabel"))
        .select(
            "label", "vec_id", l2_distance("embedding", QUERY_VEC).alias("l2_dist")
        )
        .orderBy("l2_dist", "vec_id")
        .limit(5)
    )


@query(
    "ann_ivf_balance_stats",
    oracle="""
WITH sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings GROUP BY label
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lists,
       CAST(MIN(n) AS BIGINT) AS min_size,
       CAST(MAX(n) AS BIGINT) AS max_size,
       CAST(SUM(n) AS BIGINT) AS n_vectors,
       CAST(MAX(n) * COUNT(*) AS DOUBLE) / SUM(n) AS imbalance_factor
FROM sizes
""",
    tags=("ann", "ivf", "index-stats", "skew"),
)
def ann_ivf_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index BALANCE report — the health check run after every
    (re)clustering: posting-list size min/max and the imbalance
    factor max_size · n_lists / n_vectors (1.0 = perfectly even;
    large values mean one hot cell dominates probe latency and, on a
    cluster, one straggler task). The same skew discipline as
    ann_lsh_bucket_histogram, reported as the single decision metric
    used to trigger re-training the coarse quantizer.

    Plan shape at 100 TB: one map-side-combined count per cell, one
    O(cells) final aggregate. The imbalance division happens on a
    single row — exact integer inputs, one per-row double divide."""
    emb = load_table(spark, sf_dir, "embeddings")
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.min("n").cast("long").alias("min_size"),
        F.max("n").cast("long").alias("max_size"),
        F.sum("n").cast("long").alias("n_vectors"),
        (
            (F.max("n") * F.count(F.lit(1))).cast("double") / F.sum("n")
        ).alias("imbalance_factor"),
    )


_CURVE_K = 10
_CURVE_NPROBES = (1, 2, 4)


@query(
    "ann_nprobe_recall_curve",
    oracle=f"""{_IVF_CTE},
r AS (
  SELECT label, row_number() OVER (ORDER BY dist2, label) AS rk FROM d
),
exact AS (
  SELECT vec_id FROM embeddings
  ORDER BY {sql_l2(_EMB, sql_vec(QUERY_VEC))}, vec_id LIMIT {_CURVE_K}
)
"""
    + "\nUNION ALL\n".join(
        f"""
SELECT CAST({np} AS BIGINT) AS nprobe,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings e
        JOIN r ON r.label = e.label AND r.rk <= {np}) AS n_scanned,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact
        JOIN (SELECT vec_id FROM embeddings e
              JOIN r ON r.label = e.label AND r.rk <= {np}
              ORDER BY {sql_l2('e.' + _EMB, sql_vec(QUERY_VEC))}, vec_id
              LIMIT {_CURVE_K}) a USING (vec_id)) AS n_hits,
       (SELECT CAST(COUNT(*) AS DOUBLE) / {_CURVE_K} FROM exact
        JOIN (SELECT vec_id FROM embeddings e
              JOIN r ON r.label = e.label AND r.rk <= {np}
              ORDER BY {sql_l2('e.' + _EMB, sql_vec(QUERY_VEC))}, vec_id
              LIMIT {_CURVE_K}) a USING (vec_id)) AS recall
"""
        for np in _CURVE_NPROBES
    ),
    tags=("ann", "ivf", "tuning", "recall", "metric"),
)
def ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF TUNING CURVE — recall@10 and scan cost as a function of
    nprobe ∈ {{1, 2, 4}}: the exact table an ANN deployment reads to
    pick its operating point (probe more cells → scan more vectors →
    higher recall; the knee of this curve is the config decision).
    Extends ann_recall_at_k (one point, LSH) to the full
    cost/quality frontier for the IVF index; every cell of the curve
    is deterministic and oracle-checked.

    Plan shape at 100 TB: centroid ranking happens ONCE (O(cells)),
    the ranked label list is broadcast, and the three probe sets are
    three filtered scans that Spark runs as one unioned DAG over a
    shared scan; each top-k is TakeOrderedAndProject, never a global
    sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = vector_literal(QUERY_VEC)
    cent = centroids_by_key(emb, "embedding", "label")
    qv = F.element_at(q, F.col("pos") + 1)
    dist2 = (
        cent.select("key", F.posexplode("centroid").alias("pos", "c"))
        .withColumn("diff2", (F.col("c") - qv) * (F.col("c") - qv))
        .groupBy("key")
        .agg(
            F.sum(F.col("diff2").cast("decimal(30,10)"))
            .cast("double")
            .alias("dist2")
        )
    )
    ranked = dist2.select(
        F.col("key").alias("blabel"),
        F.row_number().over(Window.orderBy("dist2", "key")).alias("rk"),
    )
    scored = emb.select(
        "label", "vec_id", l2_distance("embedding", QUERY_VEC).alias("l2_dist")
    )
    exact = scored.orderBy("l2_dist", "vec_id").limit(_CURVE_K).select("vec_id")
    frames = []
    for np_ in _CURVE_NPROBES:
        probe_labels = ranked.filter(F.col("rk") <= np_)
        cand = scored.join(
            F.broadcast(probe_labels), scored.label == F.col("blabel")
        )
        approx = (
            cand.orderBy("l2_dist", "vec_id").limit(_CURVE_K).select("vec_id")
        )
        n_scanned = cand.agg(
            F.count(F.lit(1)).cast("long").alias("n_scanned")
        )
        hits = approx.join(exact, "vec_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
        frames.append(
            n_scanned.crossJoin(F.broadcast(hits)).select(
                F.lit(np_).cast("long").alias("nprobe"),
                "n_scanned",
                "n_hits",
                (F.col("n_hits").cast("double") / _CURVE_K).alias("recall"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out


_VAMANA_ALPHA = 1.2


@query(
    "ann_vamana_occlusion_prune",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, {_EMB} AS emb FROM embeddings
),
src AS (
  SELECT vec_id AS src_id, label, emb AS es FROM e WHERE vec_id % 7 = 0
),
cand0 AS (
  SELECT s.src_id, n.vec_id AS nbr_id, n.emb,
         1.0 - {sql_cosine('s.es', 'n.emb')} AS d
  FROM src s JOIN e n ON n.label = s.label AND n.vec_id <> s.src_id
),
cand AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY src_id ORDER BY d, nbr_id) AS rnk
  FROM cand0
),
c8 AS (SELECT * FROM cand WHERE rnk <= 8),
pruned AS (
  SELECT DISTINCT c.src_id, c.nbr_id
  FROM c8 c JOIN c8 cp ON cp.src_id = c.src_id AND cp.rnk < c.rnk
  WHERE {_VAMANA_ALPHA} * (1.0 - {sql_cosine('cp.emb', 'c.emb')}) <= c.d
)
SELECT c.src_id, c.nbr_id, CAST(c.rnk AS BIGINT) AS cand_rank, c.d AS dist
FROM c8 c LEFT JOIN pruned p
  ON p.src_id = c.src_id AND p.nbr_id = c.nbr_id
WHERE p.src_id IS NULL
""",
    tags=("ann", "graph-index", "vamana", "diskann", "edge-pruning"),
    bench=True,
)
def ann_vamana_occlusion_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiskANN/Vamana-style OCCLUSION PRUNING of a k-NN candidate
    list — the step that turns a raw nearest-neighbor list into a
    navigable sparse graph: a candidate edge (node -> c) is dropped
    when some strictly closer candidate c' "occludes" it, i.e.
    alpha * d(c', c) <= d(node, c) with alpha = 1.2, so kept edges
    spread in direction rather than piling onto the nearest cluster.
    This is the NON-ITERATIVE variant of Vamana's RobustPrune: the
    occlusion test runs against ALL closer candidates instead of only
    previously-kept ones — a pure relational predicate (no sequential
    state), deterministic, and at least as aggressive as the greedy
    rule. Cited vs reference: the reference (app.py:40-48) has no
    index at all; this is the 100 TB graph-index build path.

    Per node the candidate list is the top-8 by cosine distance
    inside the node's label block (the vdb_knn_graph blocking), and
    the occlusion test is a per-node 8x8 self-join — constant work
    per node, embarrassingly parallel.

    Plan shape at 100 TB: one blocked equi-join builds candidates
    (WindowGroupLimit keeps 8 per node before anything else grows),
    one self equi-join keyed by src_id for the occlusion test, one
    anti join. State per node is O(k^2) with k = 8 fixed."""
    # Per-row L2 norms are computed ONCE before the blocked self-join
    # (round-14, guide §1.2: the join replicates each vector ~|block|
    # times, and the old per-pair cosine recomputed BOTH operands'
    # norm folds on every pair row — half the stage's fold work).
    # Bitwise identical: the norm is the same fold over the same
    # value, and the cosine recombination (CASE denom != 0 THEN
    # dot/denom) is the exact expression cosine_similarity builds.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("n_emb", l2_norm("emb"))
    src = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("src_id"),
        "label",
        F.col("emb").alias("es"),
        F.col("n_emb").alias("n_es"),
    )
    cand0 = (
        src.join(
            emb.select(
                F.col("vec_id").alias("nbr_id"), "label", "emb", "n_emb"
            ),
            "label",
        )
        .filter(F.col("nbr_id") != F.col("src_id"))
        .select(
            "src_id",
            "nbr_id",
            "emb",
            "n_emb",
            (
                F.lit(1.0)
                - F.when(
                    (F.col("n_es") * F.col("n_emb")) != 0.0,
                    dot_product("es", "emb")
                    / (F.col("n_es") * F.col("n_emb")),
                )
            ).alias("d"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.asc("d"), F.asc("nbr_id"))
    c8 = (
        cand0.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 8)
        .persist()
    )
    closer = c8.select(
        F.col("src_id"),
        F.col("rnk").alias("p_rnk"),
        F.col("emb").alias("p_emb"),
        F.col("n_emb").alias("p_n"),
    )
    pruned = (
        c8.join(closer, "src_id")
        .filter(F.col("p_rnk") < F.col("rnk"))
        .filter(
            F.lit(_VAMANA_ALPHA)
            * (
                F.lit(1.0)
                - F.when(
                    (F.col("p_n") * F.col("n_emb")) != 0.0,
                    dot_product("p_emb", "emb")
                    / (F.col("p_n") * F.col("n_emb")),
                )
            )
            <= F.col("d")
        )
        .select("src_id", "nbr_id")
        .distinct()
    )
    return c8.join(pruned, ["src_id", "nbr_id"], "left_anti").select(
        "src_id",
        "nbr_id",
        F.col("rnk").cast("long").alias("cand_rank"),
        F.col("d").alias("dist"),
    )


_BEAM_WIDTH = 4
_BEAM_HOPS = 3


def _beam_oracle() -> str:
    q = sql_vec(QUERY_VEC)
    parts = [f"""
WITH e AS (
  SELECT vec_id, label, {_EMB} AS emb FROM embeddings
),
entry AS (SELECT vec_id, label FROM e ORDER BY vec_id LIMIT 1),
blk AS (SELECT e.vec_id, e.emb FROM e JOIN entry en ON e.label = en.label),
scored AS (
  SELECT vec_id, emb, {sql_cosine('emb', q)} AS sim FROM blk
),
edg0 AS (
  SELECT a.vec_id AS src, b.vec_id AS nbr,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY {sql_cosine('a.emb', 'b.emb')} DESC, b.vec_id) AS rn
  FROM blk a JOIN blk b ON b.vec_id <> a.vec_id
),
edges AS (SELECT src, nbr FROM edg0 WHERE rn <= 3),
b0 AS (SELECT vec_id FROM entry)"""]
    prev = "b0"
    for h in range(1, _BEAM_HOPS + 1):
        parts.append(f""",
c{h} AS (
  SELECT vec_id FROM {prev}
  UNION
  SELECT ed.nbr FROM edges ed JOIN {prev} b ON ed.src = b.vec_id
),
b{h} AS (
  SELECT s.vec_id FROM scored s JOIN c{h} USING (vec_id)
  ORDER BY s.sim DESC, s.vec_id LIMIT {_BEAM_WIDTH}
)""")
        prev = f"b{h}"
    parts.append(f"""
SELECT s.vec_id, s.sim
FROM scored s JOIN {prev} USING (vec_id)
ORDER BY s.sim DESC, s.vec_id
""")
    return "".join(parts)


@query(
    "ann_graph_beam_search",
    oracle=_beam_oracle(),
    tags=("ann", "graph-index", "beam-search", "hnsw", "traversal"),
)
def ann_graph_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY BEAM SEARCH over a k-NN graph — the query-time half of
    every graph ANN index (HNSW layer-0 / Vamana GreedySearch): from
    a fixed entry point, repeatedly expand the beam's out-edges and
    keep the BEAM_WIDTH=4 best-scoring nodes, for 3 unrolled hops;
    only O(beam * degree) vectors are ever scored, vs the full scan
    of vdb_topk_cosine. The graph is the top-3 cosine neighbors
    within the entry node's label block; entry = the globally
    minimal vec_id. Fully deterministic: every beam cutoff is the
    total order (sim DESC, vec_id), so the oracle replays the
    identical traversal as unrolled CTEs.

    Plan shape at 100 TB: the edge build is the blocked self-join of
    vdb_knn_graph (built once, reused across queries — see
    vdb_ivf_index_persist for the persisted-index pattern); each hop
    is one equi-join of the 4-row beam against the edge table keyed
    by src (a broadcast of the beam), plus a TakeOrdered(4). Hop
    count and beam width bound total work regardless of corpus
    size — that is the entire point of graph ANN."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    entry = emb.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("entry_id"), F.col("label").alias("entry_label")
    )
    blk = emb.join(
        F.broadcast(entry), emb["label"] == F.col("entry_label")
    ).select("vec_id", "emb", "entry_id").persist()
    scored = blk.select(
        "vec_id", "emb", cosine_similarity("emb", QUERY_VEC).alias("sim")
    ).persist()
    a = blk.select(F.col("vec_id").alias("src"), F.col("emb").alias("ea"))
    b = blk.select(F.col("vec_id").alias("nbr"), F.col("emb").alias("eb"))
    we = Window.partitionBy("src").orderBy(
        F.desc("nsim"), F.asc("nbr")
    )
    edges = (
        a.join(b, F.col("nbr") != F.col("src"))
        .select(
            "src",
            "nbr",
            cosine_similarity("ea", "eb").alias("nsim"),
        )
        .withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= 3)
        .select("src", "nbr")
        .persist()
    )
    beam = blk.select(F.col("entry_id").alias("vec_id")).distinct()
    for _ in range(_BEAM_HOPS):
        cand = beam.unionAll(
            edges.join(
                F.broadcast(beam.withColumnRenamed("vec_id", "src")), "src"
            ).select(F.col("nbr").alias("vec_id"))
        ).distinct()
        beam = (
            scored.join(F.broadcast(cand), "vec_id")
            .orderBy(F.desc("sim"), F.asc("vec_id"))
            .limit(_BEAM_WIDTH)
            .select("vec_id")
        )
    return (
        scored.join(F.broadcast(beam), "vec_id")
        .select("vec_id", "sim")
        .orderBy(F.desc("sim"), F.asc("vec_id"))
    )


@query(
    "ann_residual_pq_search",
    oracle=f"""
WITH pos AS (SELECT unnest(range(0, {DIM})) AS pos),
ce AS (
  SELECT label, pos.pos AS pos,
         CAST(CAST(SUM(CAST(CAST(embedding[pos.pos + 1] AS DOUBLE)
                            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c
  FROM embeddings CROSS JOIN pos GROUP BY 1, 2
),
coarse AS (
  SELECT label,
         CAST(CAST(SUM(CAST((({sql_vec(QUERY_VEC)})[pos + 1] - c)
                            * (({sql_vec(QUERY_VEC)})[pos + 1] - c)
                            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS d2
  FROM ce GROUP BY label
),
qcell AS (SELECT label FROM coarse ORDER BY d2, label LIMIT 1),
el AS (
  SELECT e.vec_id, e.label, pos.pos // {PQ_SUBDIM} AS m,
         pos.pos % {PQ_SUBDIM} AS j,
         CAST(e.embedding[pos.pos + 1] AS DOUBLE) - ce.c AS val
  FROM embeddings e CROSS JOIN pos
  JOIN ce ON ce.label = e.label AND ce.pos = pos.pos
),
seed AS (
  SELECT vec_id, m,
         SUM(CASE WHEN j = 0 AND val >= 0 THEN 2 ELSE 0 END)
           + SUM(CASE WHEN j = {PQ_SUBDIM // 2} AND val >= 0 THEN 1
                      ELSE 0 END) AS k
  FROM el WHERE j IN (0, {PQ_SUBDIM // 2}) GROUP BY 1, 2
),
cb AS (
  SELECT el.m, seed.k, el.j,
         CAST(CAST(SUM(CAST(el.val AS DECIMAL(30,10))) AS VARCHAR)
              AS DOUBLE) / COUNT(el.val) AS c
  FROM el JOIN seed ON seed.vec_id = el.vec_id AND seed.m = el.m
  GROUP BY 1, 2, 3
),
enc0 AS (
  SELECT el.vec_id AS id, el.m, cb.k,
         SUM(CAST((el.val - cb.c) * (el.val - cb.c)
                  AS DECIMAL(30,10))) AS dist2
  FROM el JOIN qcell q ON q.label = el.label
  JOIN cb ON cb.m = el.m AND cb.j = el.j
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT id, m, k FROM (
    SELECT id, m, k,
           ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY dist2, k) AS rn
    FROM enc0) WHERE rn = 1
),
qres AS (
  SELECT ce.pos AS pos,
         CAST(({sql_vec(QUERY_VEC)})[ce.pos + 1] AS DOUBLE) - ce.c AS val
  FROM ce JOIN qcell USING (label)
),
qd AS (
  SELECT cb.m, cb.k,
         SUM(CAST((qres.val - cb.c) * (qres.val - cb.c)
                  AS DECIMAL(30,10))) AS qdist2
  FROM cb JOIN qres ON qres.pos = cb.m * {PQ_SUBDIM} + cb.j
  GROUP BY 1, 2
),
adc AS (
  SELECT enc.id, CAST(CAST(SUM(qdist2) AS VARCHAR) AS DOUBLE) AS adc_dist2
  FROM enc JOIN qd ON qd.m = enc.m AND qd.k = enc.k
  GROUP BY 1
),
cand AS (SELECT id, adc_dist2 FROM adc ORDER BY adc_dist2, id LIMIT {PQ_CAND})
SELECT e.vec_id, c.adc_dist2, {sql_l2(_EMB, sql_vec(QUERY_VEC))} AS l2_dist
FROM embeddings e JOIN cand c ON c.id = e.vec_id
ORDER BY l2_dist, e.vec_id LIMIT 10
""",
    tags=("ann", "ivf-pq", "residual-quantization", "faiss", "topk"),
)
def ann_residual_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL product quantization — what Faiss IVFPQ actually
    encodes: each vector's PQ codes quantize the RESIDUAL r = v -
    centroid(cell), not v itself, because residuals concentrate near
    the origin and the same 8-byte budget buys far lower distortion
    (Jegou et al. 2011 §IV). The query's ADC table is likewise built
    against its residual to the PROBED cell's centroid — the table
    is per-cell, which is why real IVFPQ recomputes it per probe.
    Composition here: decimal-exact per-label centroids (the IVF
    coarse stage of ann_ivf_pq_search), nprobe=1 cell selection,
    residual codebook trained on the FULL corpus residuals
    (training is probe-independent), ADC over the probed cell's
    codes only, exact-L2 rerank of the {PQ_CAND}-row shortlist.

    Exactness chain: centroid = decimal-sum/count double (the pinned
    ann_ivf_search class), residual = one IEEE subtraction, every
    distance accumulation DECIMAL(30,10) until a final double — so
    codebook, codes, ADC scores, and the winner set hash-match the
    oracle bitwise.

    Plan shape at 100 TB: identical shuffle classes to
    ann_ivf_pq_search plus one broadcast join of the O(labels x dim)
    centroid table into the element stream; the scan still touches
    only the probed cell's codes. Residual encoding adds zero new
    shuffles — the reason every production IVFPQ does it."""
    from quick_and_easy_vectordb_spark.operators.ann import pq_codebook, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    qlit = vector_literal(QUERY_VEC)
    cent = centroids_by_key(emb, "embedding", "label").persist()

    qv = F.element_at(qlit, F.col("pos") + 1)
    dist2 = (
        cent.select("key", F.posexplode("centroid").alias("pos", "c"))
        .withColumn("diff2", (qv - F.col("c")) * (qv - F.col("c")))
        .groupBy("key")
        .agg(
            F.sum(F.col("diff2").cast("decimal(30,10)"))
            .cast("string")
            .cast("double")
            .alias("d2")
        )
    )
    probed = (
        dist2.orderBy("d2", "key").limit(1).select(F.col("key").alias("plabel"))
    )

    res = emb.join(
        cent, emb["label"] == cent["key"]
    ).select(
        "vec_id",
        "label",
        "embedding",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("centroid"),
            lambda x, c: x - c,
        ).alias("resid"),
    ).persist()

    cb = pq_codebook(res, "resid", PQ_SUBS, PQ_SUBDIM).persist()
    cell = res.join(F.broadcast(probed), res["label"] == F.col("plabel"))
    codes = pq_encode(cell, cb, "resid", "vec_id", PQ_SUBDIM, PQ_SUBS)

    qres = (
        cent.join(F.broadcast(probed), cent["key"] == F.col("plabel"))
        .select(F.posexplode("centroid").alias("pos", "c"))
        .select("pos", (qv - F.col("c")).alias("val"))
    )
    qd = (
        cb.join(
            F.broadcast(qres),
            F.col("pos") == F.col("m") * PQ_SUBDIM + F.col("j"),
        )
        .withColumn("qdiff2", (F.col("val") - F.col("c")) * (F.col("val") - F.col("c")))
        .groupBy("m", "k")
        .agg(F.sum(F.col("qdiff2").cast("decimal(30,10)")).alias("qdist2"))
    )
    cand = (
        codes.join(F.broadcast(qd), ["m", "k"])
        .groupBy("id")
        .agg(F.sum("qdist2").cast("string").cast("double").alias("adc_dist2"))
        .orderBy("adc_dist2", "id")
        .limit(PQ_CAND)
    )
    return (
        emb.join(F.broadcast(cand), emb["vec_id"] == F.col("id"))
        .select(
            "vec_id",
            "adc_dist2",
            l2_distance("embedding", QUERY_VEC).alias("l2_dist"),
        )
        .orderBy("l2_dist", "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Round 8: deterministic k-means++-style seeding (farthest-point).
# ---------------------------------------------------------------------------

_KPP_K = 4


def _kpp_sel(prev_ctes: list[str], chosen: list[str]) -> str:
    """SQL for selecting the next farthest point given chosen CTEs."""
    dists = [f"{sql_l2(_EMB, f'{c}.v')}" for c in chosen]
    mind = dists[0] if len(dists) == 1 else f"LEAST({', '.join(dists)})"
    froms = ", ".join(chosen)
    return (
        f"SELECT e.vec_id, e.embedding::DOUBLE[] AS v, {mind} AS m "
        f"FROM embeddings e, {froms} "
        f"ORDER BY {mind} DESC, e.vec_id LIMIT 1"
    )


def _kpp_oracle() -> str:
    ctes = [
        f"c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v,"
        f" sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
        f" AS m FROM embeddings ORDER BY m DESC, vec_id LIMIT 1)"
    ]
    for i in range(1, _KPP_K):
        chosen = [f"c{j}" for j in range(i)]
        ctes.append(f"c{i} AS ({_kpp_sel(ctes, chosen)})")
    sel = " UNION ALL ".join(
        f"SELECT {i} AS step, vec_id, m AS sel_metric FROM c{i}"
        for i in range(_KPP_K)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(step AS BIGINT) AS step,"
          f" CAST(vec_id AS BIGINT) AS vec_id, sel_metric FROM ({sel})"
    )


@query(
    "ann_kmeans_pp_init",
    oracle=_kpp_oracle(),
    tags=("ann", "kmeans", "seeding", "farthest-point"),
)
def ann_kmeans_pp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS++-STYLE SEEDING, deterministic farthest-point variant
    (Gonzalez 1985 k-center greedy — the derandomized form of
    k-means++'s D² sampling, which picks proportional to the same
    distance the greedy maximizes): seed 0 is the max-norm vector,
    each next seed the vector MAXIMIZING its distance to the nearest
    chosen seed (vec_id tiebreak). Spreads seeds to the corpus
    extremes — the property that makes ++ init beat random init —
    with zero randomness, so both engines derive the identical seed
    sequence and the row hash pins it.

    Driver loop: k − 1 = 3 rounds, each collecting exactly ONE row
    (the argmax — TakeOrderedAndProject over a scan with the
    current seeds folded in as literals, the same O(k·dim)
    collect-bounded pattern as ann_kmeans_iterated's MLlib-style
    update). No corpus data beyond one vector per round reaches the
    driver; each round is a full scan — k scans total, which is the
    textbook cost of greedy k-center. AT SCALE that k-sequential-scans
    cost is exactly what k-means‖ (Bahmani et al., VLDB 2012) exists
    to remove: ``ann_kmeans_parallel_init`` below is the oversampled
    O(rounds)-pass variant (rounds ≈ 3-5 regardless of k) — use it
    whenever k · scan-cost dominates, i.e. always at 100 TB.

    Reference basis: app.py has no index at all (O(N·d) flat scan per
    query, app.py:40-48); this is the train step its scale-up needs.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    first = (
        emb.select("vec_id", "embedding", norm.alias("m"))
        .orderBy(F.desc("m"), F.asc("vec_id"))
        .limit(1)
        .collect()[0]
    )
    chosen = [(0, first.vec_id, first.m, list(first.embedding))]
    for step in range(1, _KPP_K):
        dists = [
            l2_distance("embedding", v) for (_, _, _, v) in chosen
        ]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        nxt = (
            emb.select("vec_id", "embedding", mind.alias("m"))
            .orderBy(F.desc("m"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append((step, nxt.vec_id, nxt.m, list(nxt.embedding)))
    return spark.createDataFrame(
        [(s, int(vid), float(m)) for (s, vid, m, _) in chosen],
        "step long, vec_id long, sel_metric double",
    )


# ---------------------------------------------------------------------------
# Round 10: k-means‖ — the scalable init (Bahmani et al., VLDB 2012).
# ---------------------------------------------------------------------------

_KMP_ROUNDS = 3
_KMP_ELL = 8.0  # oversampling factor ℓ = 2k — the paper's sweet spot
_U_SCALE = 281474976710656.0  # 2^48: u = md5-prefix48 / 2^48 ∈ [0,1)
_EMB_E = "e.embedding::DOUBLE[]"


def _kmp_u_sql(r: int) -> str:
    # deterministic per-(point, round) uniform: 48-bit md5 prefix as a
    # double — the minhash parity pattern (operators/dedup.py:103)
    return (
        f"CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)"
        f" || ':{r}'), 1, 12))::BIGINT AS DOUBLE)"
    )


def _kmp_oracle() -> str:
    ctes = [
        f"""cand_0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  ORDER BY sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
    DESC, vec_id
  LIMIT 1
)"""
    ]
    for r in range(1, _KMP_ROUNDS + 1):
        ctes.append(f"""d_{r} AS (
  SELECT e.vec_id, MIN({sql_l2sq(_EMB_E, 'c.v')}) AS d2
  FROM embeddings e, cand_{r - 1} c
  GROUP BY e.vec_id
)""")
        ctes.append(f"""phi_{r} AS (
  SELECT CAST(CAST(SUM(CAST(d2 AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
    AS phi
  FROM d_{r}
)""")
        ctes.append(f"""new_{r} AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v
  FROM embeddings e
  JOIN d_{r} d ON d.vec_id = e.vec_id
  CROSS JOIN phi_{r} p
  WHERE {_kmp_u_sql(r)} * p.phi < ({_KMP_ELL} * d.d2 * {_U_SCALE})
)""")
        ctes.append(
            f"cand_{r} AS (SELECT vec_id, v FROM cand_{r - 1}"
            f" UNION ALL SELECT vec_id, v FROM new_{r})"
        )
    R = _KMP_ROUNDS
    ctes.append(f"""asg AS (
  SELECT e.vec_id, c.vec_id AS cand_vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {sql_l2sq(_EMB_E, 'c.v')}, c.vec_id) AS rn
  FROM embeddings e, cand_{R} c
)""")
    ctes.append(
        "w AS (SELECT cand_vec_id, COUNT(*) AS wt FROM asg"
        " WHERE rn = 1 GROUP BY cand_vec_id)"
    )
    ctes.append(f"""cw AS (
  SELECT c.vec_id, c.v, COALESCE(w.wt, 0) AS wt
  FROM cand_{R} c LEFT JOIN w ON w.cand_vec_id = c.vec_id
)""")
    ctes.append(
        "f0 AS (SELECT vec_id, v, wt, CAST(wt AS DOUBLE) AS m FROM cw"
        " ORDER BY wt DESC, vec_id LIMIT 1)"
    )
    for i in range(1, _KPP_K):
        d2s = [sql_l2sq("c.v", f"f{j}.v") for j in range(i)]
        mind = d2s[0] if len(d2s) == 1 else f"LEAST({', '.join(d2s)})"
        froms = ", ".join(f"f{j}" for j in range(i))
        notin = " AND ".join(f"c.vec_id <> f{j}.vec_id" for j in range(i))
        ctes.append(f"""f{i} AS (
  SELECT c.vec_id, c.v, c.wt, CAST(c.wt AS DOUBLE) * {mind} AS m
  FROM cw c, {froms}
  WHERE {notin}
  ORDER BY m DESC, c.vec_id LIMIT 1
)""")
    sel = " UNION ALL ".join(
        f"SELECT {i} AS step, vec_id, wt, m FROM f{i}"
        for i in range(_KPP_K)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT CAST(step AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(wt AS BIGINT) AS weight, m AS sel_metric,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{R}) AS n_candidates
FROM ({sel})"""
    )


@query(
    "ann_kmeans_parallel_init",
    oracle=_kmp_oracle(),
    tags=("ann", "kmeans", "seeding", "kmeans-parallel", "oversampling"),
)
def ann_kmeans_parallel_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS‖ INIT (Bahmani et al., "Scalable k-means++", VLDB 2012)
    — the at-scale replacement for ann_kmeans_pp_init's k sequential
    scans (VERDICT r09 item 4): a FIXED number of oversampling rounds
    (3 here; O(log ψ) in the paper, ~5 in practice regardless of k)
    each samples every point INDEPENDENTLY with probability
    ℓ·d²(x,C)/φ, so each round is one parallel pass; the oversampled
    candidate set (E[|C|] ≈ 1 + rounds·ℓ) is then weighted by how many
    points it attracts and reduced to k finals by the weighted greedy.

    Determinism for the oracle: the Bernoulli draw is the md5-prefix48
    uniform (the minhash parity pattern, operators/dedup.py:103) keyed
    on (vec_id, round); φ is a decimal-exact sum; the seed and every
    tiebreak are pinned — so both engines derive the identical
    candidate set, weights, and finals, and the hash gate pins all of
    it. The final reduction here is the deterministic weighted
    farthest-point greedy (the paper reclusters with k-means++; same
    derandomization as ann_kmeans_pp_init).

    Plan shape at 100 TB: per round ONE corpus scan computing
    min-distance to the ≤ 1+r·ℓ collected candidates (literals folded
    into the projection — the broadcast analog) + one decimal-exact
    agg for φ and one O(ℓ)-row collect of new candidates. Weighting is
    one more scan with a map-side min(struct) agg — no shuffle of
    corpus×candidates rows, only the O(corpus) nearest-ids. Total:
    2·rounds + 2 passes, independent of k — vs k-means++'s k passes.
    Driver state is O(rounds·ℓ·dim) doubles, bounded.

    Reference basis: app.py has no index (O(N·d) scan per query,
    app.py:40-48); this is the train step its scale-up needs, sized
    for corpora where even one extra full pass matters.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    first = (
        emb.select("vec_id", "embedding", norm.alias("m"))
        .orderBy(F.desc("m"), F.asc("vec_id"))
        .limit(1)
        .collect()[0]
    )
    cands: list[tuple[int, list[float]]] = [
        (int(first.vec_id), [float(x) for x in first.embedding])
    ]
    for r in range(1, _KMP_ROUNDS + 1):
        dists = [
            squared_l2_distance("embedding", v) for _, v in cands
        ]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        d = emb.select("vec_id", "embedding", mind.alias("d2"))
        phi = d.agg(dsum("d2").alias("phi")).collect()[0].phi
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("vec_id").cast("string"), F.lit(str(r))
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("long")
            .cast("double")
        )
        new_rows = (
            d.filter(
                u * F.lit(float(phi))
                < F.lit(_KMP_ELL) * F.col("d2") * F.lit(_U_SCALE)
            )
            .select("vec_id", "embedding")
            .collect()
        )
        cands.extend(
            (int(row.vec_id), [float(x) for x in row.embedding])
            for row in new_rows
        )
    cand_plain = spark.createDataFrame(
        cands, "cand_vec_id long, cv array<double>"
    )
    cand_df = F.broadcast(cand_plain)
    # weighting pass: nearest candidate per point via a map-side
    # min(struct(d2, cand_id)) agg — lexicographic struct min IS the
    # (distance, id) tiebreak, and only O(corpus) ids shuffle
    nearest = (
        emb.crossJoin(cand_df)
        .select(
            "vec_id",
            F.struct(
                squared_l2_distance("embedding", "cv").alias("d2"),
                F.col("cand_vec_id").alias("cid"),
            ).alias("s"),
        )
        .groupBy("vec_id")
        .agg(F.min("s").alias("s"))
        .select(F.col("s.cid").alias("cand_vec_id"))
    )
    w = nearest.groupBy("cand_vec_id").agg(F.count(F.lit(1)).alias("wt"))
    cw = [
        (int(row.cand_vec_id), [float(x) for x in row.cv], int(row.wt))
        for row in cand_plain.join(F.broadcast(w), "cand_vec_id", "left")
        .select(
            "cand_vec_id", "cv", F.coalesce("wt", F.lit(0)).alias("wt")
        )
        .collect()
    ]
    cw_df = spark.createDataFrame(
        cw, "vec_id long, v array<double>, wt long"
    )
    # weighted greedy over the O(rounds·ℓ)-row candidate table — each
    # step a one-row TakeOrderedAndProject, k steps over tiny data
    chosen: list[tuple[int, int, int, float]] = []  # step, id, wt, m
    sel0 = (
        cw_df.select(
            "vec_id", "v", "wt", F.col("wt").cast("double").alias("m")
        )
        .orderBy(F.desc("wt"), F.asc("vec_id"))
        .limit(1)
        .collect()[0]
    )
    chosen.append((0, int(sel0.vec_id), int(sel0.wt), float(sel0.m)))
    chosen_vecs = [[float(x) for x in sel0.v]]
    for i in range(1, _KPP_K):
        d2s = [squared_l2_distance("v", cv) for cv in chosen_vecs]
        mind = d2s[0] if len(d2s) == 1 else F.least(*d2s)
        nxt = (
            cw_df.filter(
                ~F.col("vec_id").isin([c[1] for c in chosen])
            )
            .select(
                "vec_id",
                "v",
                "wt",
                (F.col("wt").cast("double") * mind).alias("m"),
            )
            .orderBy(F.desc("m"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append((i, int(nxt.vec_id), int(nxt.wt), float(nxt.m)))
        chosen_vecs.append([float(x) for x in nxt.v])
    return spark.createDataFrame(
        [(s, vid, wt, m, len(cands)) for (s, vid, wt, m) in chosen],
        "step long, vec_id long, weight long, sel_metric double,"
        " n_candidates long",
    )


@query(
    "ann_recall_under_deletes",
    oracle=f"""
WITH live AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 7 <> 0
),
exact AS (
  SELECT vec_id FROM live
  ORDER BY {sql_cosine(_EMB, sql_vec(QUERY_VEC))} DESC, vec_id
  LIMIT 5
),
pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
el AS (
  SELECT label, pos.pos AS pos, CAST(embedding[pos.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
cent AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM el GROUP BY label, pos
),
q AS (
  SELECT pos.pos AS pos, CAST(v[pos.pos] AS DOUBLE) AS qv
  FROM (SELECT {sql_vec(QUERY_VEC)} AS v) CROSS JOIN pos
),
d AS (
  SELECT cent.label,
         CAST(CAST(SUM(CAST((cent.c - q.qv) * (cent.c - q.qv)
              AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS dist2
  FROM cent JOIN q ON q.pos = cent.pos
  GROUP BY cent.label
),
best AS (SELECT label FROM d ORDER BY dist2, label LIMIT 1),
ivf AS (
  SELECT l.vec_id FROM live l JOIN best b ON b.label = l.label
  ORDER BY {sql_cosine('l.embedding::DOUBLE[]', sql_vec(QUERY_VEC))} DESC,
           l.vec_id
  LIMIT 5
)
SELECT (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM exact)
         AS exact_ids,
       (SELECT array_to_string(list_sort(list(vec_id)), ',') FROM ivf)
         AS ivf_ids,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
        WHERE e.vec_id IN (SELECT vec_id FROM ivf)) AS n_overlap,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ivf
        WHERE vec_id % 7 = 0) AS n_tombstoned_served,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM live l
        JOIN best b ON b.label = l.label) AS n_cell_live
""",
    tags=("ann", "ivf", "deletes", "tombstones", "recall"),
)
def ann_recall_under_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEARCH UNDER DELETIONS — the index-maintenance scenario every
    vector store hits (the reference can only rebuild, app.py:105-118
    appends forever): every 7th vector is tombstoned, the IVF index
    is NOT retrained (centroids remain the pre-delete means — the
    stale-index reality between maintenance windows,
    cf. ann_centroid_drift), and the query must (a) never serve a
    tombstoned vector — the delete filter applies INSIDE the probed
    cell scan, where the label partition prune has already bounded
    I/O — and (b) be judged for recall against the exact top-5 over
    live vectors. n_tombstoned_served is pinned to 0; n_overlap is
    the recall@5 numerator under a stale coarse quantizer.

    100 TB shape: tombstones are a predicate pushed into the pruned
    cell scan (with MOR-style positional deletes this is the
    anti-join of src_merge_on_read_deletes — here the id-mod filter
    keeps the oracle closed-form); exact arm is the brute-force
    baseline, the one full-scan in the query."""
    emb = load_table(spark, sf_dir, "embeddings")
    live = emb.filter(F.col("vec_id") % 7 != 0)
    qv = vector_literal(QUERY_VEC)
    exact = (
        live.select(
            "vec_id", cosine_similarity("embedding", QUERY_VEC).alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(5)
    )
    cent = centroids_by_key(emb, "embedding", "label")
    qe = F.element_at(qv, F.col("pos") + 1)
    dist2 = (
        cent.select("key", F.posexplode("centroid").alias("pos", "c"))
        .withColumn("diff2", (F.col("c") - qe) * (F.col("c") - qe))
        .groupBy("key")
        .agg(F.sum(F.col("diff2").cast("decimal(30,10)")).cast("double")
             .alias("dist2"))
    )
    best = dist2.orderBy("dist2", "key").limit(1).select(
        F.col("key").alias("blabel"))
    cell = live.join(F.broadcast(best), live.label == F.col("blabel"))
    ivf = (
        cell.select(
            "vec_id", cosine_similarity("embedding", QUERY_VEC).alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(5)
    )
    e_ids = exact.agg(
        F.array_join(F.array_sort(F.collect_list("vec_id")), ",")
        .alias("exact_ids"))
    i_ids = ivf.agg(
        F.array_join(F.array_sort(F.collect_list("vec_id")), ",")
        .alias("ivf_ids"),
        F.sum((F.col("vec_id") % 7 == 0).cast("int")).cast("long")
        .alias("n_tombstoned_served"),
    )
    overlap = (
        exact.select("vec_id").join(ivf.select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    n_cell = cell.agg(
        F.count(F.lit(1)).cast("long").alias("n_cell_live"))
    return (
        e_ids.crossJoin(F.broadcast(i_ids))
        .crossJoin(F.broadcast(overlap))
        .crossJoin(F.broadcast(n_cell))
        .select("exact_ids", "ivf_ids", "n_overlap",
                "n_tombstoned_served", "n_cell_live")
    )


@query(
    "ann_ivf_cell_split",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
el AS (
  SELECT label, vec_id, pos.pos AS pos,
         CAST(embedding[pos.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
cent AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM el GROUP BY label, pos
),
sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS sz
          FROM embeddings GROUP BY label),
hot AS (SELECT label FROM sizes ORDER BY sz DESC, label LIMIT 1),
hotv AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v
  FROM embeddings e JOIN hot ON hot.label = e.label
),
c0 AS (SELECT c FROM cent JOIN hot ON hot.label = cent.label
       WHERE pos = 1),
assign AS (
  SELECT h.vec_id, h.v,
         CASE WHEN h.v[1] >= c0.c THEN 1 ELSE 0 END AS sub
  FROM hotv h, c0
),
subcent AS (
  SELECT sub, pos.pos AS pos,
         CAST(CAST(SUM(CAST(v[pos.pos] AS DECIMAL(30,10))) AS VARCHAR)
              AS DOUBLE) / COUNT(*) AS c
  FROM assign CROSS JOIN pos GROUP BY sub, pos.pos
),
centlist AS (
  SELECT list(c ORDER BY pos) AS cl FROM cent
  WHERE label = (SELECT label FROM hot)
),
subcl AS (
  SELECT sub, list(c ORDER BY pos) AS cl FROM subcent GROUP BY sub
),
-- per-row d2 is a list_reduce over pos order with a 0.0 seed: the
-- EXACT left fold Spark's aggregate(zip_with) runs, so the double
-- bits match regardless of either engine's SUM addition order
sse_before AS (
  SELECT CAST(CAST(SUM(CAST(d2 AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS sse
  FROM (
    SELECT list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, {DIM} + 1),
                 p -> (h.v[p] - centlist.cl[p])
                      * (h.v[p] - centlist.cl[p]))),
             (acc, x) -> acc + x) AS d2
    FROM hotv h, centlist
  )
),
sse_after AS (
  SELECT CAST(CAST(SUM(CAST(d2 AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           AS sse
  FROM (
    SELECT list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, {DIM} + 1),
                 p -> (a.v[p] - s.cl[p]) * (a.v[p] - s.cl[p]))),
             (acc, x) -> acc + x) AS d2
    FROM assign a JOIN subcl s ON s.sub = a.sub
  )
)
SELECT (SELECT label FROM hot) AS hot_label,
       (SELECT sz FROM sizes WHERE label = (SELECT label FROM hot))
         AS hot_size,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM assign WHERE sub = 0)
         AS sub0_size,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM assign WHERE sub = 1)
         AS sub1_size,
       (SELECT sse FROM sse_before) AS sse_before,
       (SELECT sse FROM sse_after) AS sse_after
""",
    tags=("ann", "ivf", "index-maintenance", "cell-split"),
)
def ann_ivf_cell_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF CELL SPLIT — the index-maintenance operation that keeps a
    coarse quantizer balanced as data grows (the write-path twin of
    ann_centroid_drift's read-path staleness metric): the HOTTEST
    cell (max population, label tiebreak) splits in two with one
    deterministic k-means step — seed assignment by the first
    coordinate's side of the old centroid (the derandomized init
    discipline of pq_codebook), sub-centroids as decimal-exact means
    — and the query certifies the split helps: within-cell SSE after
    (each vector to ITS sub-centroid) must come in under SSE before
    (all to the old centroid; a guaranteed property of the mean, made
    visible as data). Per-row distance squares are the same double
    fold in both engines — the squared-L2 kernel's left fold is
    mirrored in the oracle by list_reduce over a pos-ordered centroid
    list with a 0.0 seed (NOT a GROUP BY SUM, whose addition order
    DuckDB does not pin); the SSE totals are decimal sums of those
    doubles, so even the distortion numbers hash bitwise.

    100 TB shape: sizes come from the cell-count table (O(cells));
    only the ONE hot cell's vectors are touched — split cost is
    O(hot cell), not O(index) — and the two new centroids are a
    broadcast-sized artifact, exactly how IVF maintenance amortizes
    on a live index (FAISS's add-with-split policy)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sizes = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("sz"))
    hot = sizes.orderBy(F.desc("sz"), F.asc("label")).limit(1)
    cent = centroids_by_key(emb, "embedding", "label")
    hotc = cent.join(
        hot.select(F.col("label").alias("key"), "sz"), "key"
    ).select("key", "centroid", "sz")
    hotv = emb.join(
        F.broadcast(hotc.select(F.col("key").alias("label"),
                                "centroid", "sz")),
        "label",
    )
    assign = hotv.select(
        "label",
        "vec_id",
        "embedding",
        "centroid",
        "sz",
        F.when(
            F.element_at("embedding", 1).cast("double")
            >= F.element_at("centroid", 1),
            1,
        ).otherwise(0).alias("sub"),
    ).persist()
    sub_sizes = assign.groupBy("sub").agg(
        F.count(F.lit(1)).cast("long").alias("ssz"))
    subcent = (
        assign.select("sub", F.posexplode("embedding").alias("pos", "val"))
        .withColumn("val", F.col("val").cast("double"))
        .groupBy("sub", "pos")
        .agg((F.sum(F.col("val").cast("decimal(30,10)")).cast("double")
              / F.count("val")).alias("c"))
        .groupBy("sub")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda x: x["c"],
            ).alias("subcentroid")
        )
    )
    d2_before = assign.select(
        "vec_id",
        squared_l2_distance("embedding", "centroid").alias("d2"),
    )
    sse_before = d2_before.agg(dsum("d2").alias("sse_before"))
    d2_after = assign.join(F.broadcast(subcent), "sub").select(
        "vec_id",
        squared_l2_distance("embedding", "subcentroid").alias("d2"),
    )
    sse_after = d2_after.agg(dsum("d2").alias("sse_after"))
    head = hot.select(
        F.col("label").cast("long").alias("hot_label"),
        F.col("sz").alias("hot_size"),
    )
    s0 = sub_sizes.filter(F.col("sub") == 0).select(
        F.col("ssz").alias("sub0_size"))
    s1 = sub_sizes.filter(F.col("sub") == 1).select(
        F.col("ssz").alias("sub1_size"))
    return (
        head.crossJoin(F.broadcast(s0))
        .crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(sse_before))
        .crossJoin(F.broadcast(sse_after))
    )


_CURVE_KS = (1, 5, 10, 20)


@query(
    "ann_recall_curve",
    oracle=f"""
WITH scored AS (
  SELECT vec_id, {_sql_signature(PROBE_PLANES)} AS bucket,
         {sql_dot(_EMB, sql_vec(QUERY_VEC))} AS similarity
  FROM embeddings
),
ar AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY similarity DESC, vec_id)
           AS r
  FROM scored WHERE bucket IN ({_probe_list_sql()})
),
er AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY similarity DESC, vec_id)
           AS r
  FROM scored
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _CURVE_KS)}]) AS k)
SELECT CAST(ks.k AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS DOUBLE) / ks.k AS recall
FROM ks
JOIN er ON er.r <= ks.k
JOIN ar ON ar.vec_id = er.vec_id AND ar.r <= ks.k
GROUP BY ks.k
""",
    tags=("ann", "lsh", "recall-curve", "metric"),
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL@k CURVE — recall at k = 1, 5, 10, 20 from ONE pair of
    rankings (ann_recall_at_k gives the single point;
    ann_nprobe_recall_curve sweeps the probe budget; this sweeps the
    CUTOFF — the third axis an index evaluation reports, and the one
    that exposes rank-order damage near the top that recall@20
    hides). Each ranking is pre-pruned to the top max(ks) rows with
    orderBy+limit — physically TakeOrderedAndProject, a per-partition
    heap merged at the driver, never a full sort — and row_number then
    ranks only those <= max(ks) survivors, so no single-partition pass
    ever touches the corpus. Every cutoff is a filter on the SAME two
    ranked 20-row tables — the curve costs one ranking, not |ks|
    searches.

    100 TB shape: two TakeOrderedAndProject passes over the scored
    scan (the approx side already bucket-pruned), 20-row windows,
    broadcast 4-row cutoff table, tiny join."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = python_lsh_signature(QUERY_VEC, PROBE_PLANES)
    probes = hamming_neighbors(sig, 1)
    scored = emb.select(
        "vec_id",
        lsh_signature("embedding", PROBE_PLANES, DIM).alias("bucket"),
        dot_product("embedding", QUERY_VEC).alias("similarity"),
    ).persist()
    max_k = max(_CURVE_KS)
    order = [F.desc("similarity"), F.asc("vec_id")]
    w = Window.orderBy(*order)

    def ranked(df: DataFrame, alias: str) -> DataFrame:
        # orderBy+limit plans as TakeOrderedAndProject (distributed
        # per-partition top-k heaps), so the unpartitioned row_number
        # window below only ever sorts the max_k surviving rows.
        top = df.orderBy(*order).limit(max_k)
        return top.withColumn("r", F.row_number().over(w)).select(
            "vec_id", F.col("r").alias(alias)
        )

    er = ranked(scored, "er")
    ar = ranked(scored.filter(F.col("bucket").isin(probes)), "ar")
    ks = spark.createDataFrame([(k,) for k in _CURVE_KS], "k long")
    hits = (
        er.join(ar, "vec_id")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("er") <= F.col("k")) & (F.col("ar") <= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return ks.join(hits, "k", "left").select(
        "k",
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0).cast("long")).cast("double")
         / F.col("k")).alias("recall"),
    )


@query(
    "ann_anisotropic_loss_eval",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
el AS (
  SELECT label, vec_id, pos.pos AS pos,
         CAST(embedding[pos.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
cent AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM el GROUP BY label, pos
),
cl AS (SELECT label, list(c ORDER BY pos) AS cl FROM cent GROUP BY label),
v AS (
  SELECT e.label, e.vec_id, e.embedding::DOUBLE[] AS x, cl.cl AS cl
  FROM embeddings e JOIN cl ON cl.label = e.label
),
f AS (
  SELECT label, vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, {DIM} + 1),
             p -> (x[p] - cl[p]) * x[p])), (a, b) -> a + b) AS dxr,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, {DIM} + 1),
             p -> (x[p] - cl[p]) * (x[p] - cl[p]))), (a, b) -> a + b) AS rr,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, {DIM} + 1),
             p -> x[p] * x[p])), (a, b) -> a + b) AS xx
  FROM v
),
g AS (
  SELECT label, rr,
         (dxr * dxr) / xx AS par,
         rr - (dxr * dxr) / xx AS orth
  FROM f WHERE xx > 0
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(par AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS par_sum,
       CAST(CAST(SUM(CAST(orth AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS orth_sum,
       CAST(CAST(SUM(CAST(par AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(CAST(orth AS DECIMAL(30,10))) AS VARCHAR)
                AS DOUBLE) AS aniso_ratio
FROM g GROUP BY label
""",
    tags=("ann", "quantization", "anisotropic", "scann", "metric"),
)
def ann_anisotropic_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANISOTROPIC QUANTIZATION LOSS decomposition (ScaNN, Guo et al.
    2020): for MIPS-style retrieval not all quantization error is
    equal — the residual component PARALLEL to the datapoint
    direction perturbs inner-product scores directly, while the
    orthogonal component mostly cancels. Per IVF cell (the label
    assignment), each vector's residual r = x - c splits into
    r_par^2 = <r, x>^2 / ||x||^2 and r_orth^2 = ||r||^2 - r_par^2;
    the per-cell decimal-exact sums and their ratio are the
    diagnostic that decides whether score-aware (eta-weighted)
    codebook training would pay: cells with high parallel share lose
    recall@k under plain k-means codebooks. Per-row folds are the
    shared ordered double fold of the squared-L2 kernel, mirrored in the
    oracle by pos-ordered list_reduce with a 0.0 seed (the
    ann_ivf_cell_split discipline); cell sums are DECIMAL(30,10),
    so every number hashes bitwise.

    Plan shape at 100 TB: centroids are the one O(cells x dim)
    decimal aggregate, broadcast back; the three folds are a single
    map-side projection per row; cell rollup is map-side-combinable
    over O(cells) keys. Nothing but the centroid table ever
    shuffles twice."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = centroids_by_key(emb, "embedding", "label")
    v = emb.join(
        F.broadcast(cent.select(F.col("key").alias("label"), "centroid")),
        "label",
    ).select(
        "label",
        "vec_id",
        F.col("embedding").cast("array<double>").alias("x"),
        F.col("centroid").alias("cl"),
    )

    # <r, x> with the residual r = x - c as the first operand
    f = v.select(
        "label",
        dot_product(F.zip_with("x", "cl", lambda x, c: x - c), "x")
        .alias("dxr"),
        squared_l2_distance("x", "cl").alias("rr"),
        dot_product("x", "x").alias("xx"),
    ).filter(F.col("xx") > 0)
    g = f.select(
        "label",
        ((F.col("dxr") * F.col("dxr")) / F.col("xx")).alias("par"),
        (F.col("rr") - (F.col("dxr") * F.col("dxr")) / F.col("xx"))
        .alias("orth"),
    )
    return g.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("par").alias("par_sum"),
        dsum("orth").alias("orth_sum"),
        (dsum("par") / dsum("orth")).alias("aniso_ratio"),
    ).select(F.col("label").cast("long").alias("label"), "n", "par_sum",
             "orth_sum", "aniso_ratio")


_SWEEP_KS = (4, 8, 12, 16)
_SWEEP_SIG = HIST_PLANES  # 16-bit signature; prefixes give the sweep


@query(
    "ann_lsh_planes_sweep",
    oracle=f"""
WITH scored AS (
  SELECT vec_id, {_sql_signature(_SWEEP_SIG)} AS sig,
         {sql_dot(_EMB, sql_vec(QUERY_VEC))} AS dot
  FROM embeddings
),
qsig AS (SELECT '{python_lsh_signature(QUERY_VEC, _SWEEP_SIG)}' AS qs),
exact AS (
  SELECT vec_id FROM scored ORDER BY dot DESC, vec_id LIMIT 10
),
fan AS (
  SELECT s.vec_id, s.dot, t.k
  FROM scored s, qsig, unnest([{", ".join(str(k) for k in _SWEEP_KS)}])
       AS t(k)
  WHERE substr(s.sig, 1, t.k) = substr(qsig.qs, 1, t.k)
),
ranked AS (
  SELECT k, vec_id,
         row_number() OVER (PARTITION BY k ORDER BY dot DESC, vec_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY k) AS n_candidates
  FROM fan
),
agg AS (
  SELECT r.k,
         CAST(MAX(r.n_candidates) AS BIGINT) AS n_candidates,
         CAST(COALESCE(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 END), 0)
              AS BIGINT) AS n_hits
  FROM ranked r LEFT JOIN exact e ON e.vec_id = r.vec_id
  WHERE r.rn <= 10
  GROUP BY r.k
),
cfg AS (SELECT unnest([4, 8, 12, 16]) AS k)
SELECT CAST(cfg.k AS BIGINT) AS k,
       COALESCE(agg.n_candidates, 0) AS n_candidates,
       COALESCE(agg.n_hits, 0) AS n_hits,
       CAST(COALESCE(agg.n_hits, 0) AS DOUBLE) / 10 AS recall_at_10
FROM cfg LEFT JOIN agg ON agg.k = cfg.k
""",
    tags=("ann", "lsh", "parameter-sweep", "recall"),
)
def ann_lsh_planes_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH PLANE-COUNT SWEEP from ONE signature pass — the
    dedup_band_tuning discipline applied to vector LSH: because a
    k-plane bucket is the k-bit PREFIX of the 16-bit signature, the
    configs k = 4, 8, 12, 16 nest, and one signature computation
    serves the whole sweep (candidates for k are rows whose prefix
    matches the query's). Per config: candidate-set size and
    recall@10 vs the exact dot top-10 — the selectivity/recall
    trade-off curve that picks the production plane count. More
    planes = smaller buckets = cheaper rerank but lower recall; this
    table is where the knee shows.

    Plan shape at 100 TB: signature + prefix-match fan-out are
    map-side (each row emits <= |configs| candidate rows, and only
    rows matching the 4-bit prefix emit at all — a 1/16 filter before
    any shuffle); per-config top-10 plans as WindowGroupLimit; the
    exact head is TakeOrderedAndProject; the 10-row exact set joins
    broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    qsig = python_lsh_signature(QUERY_VEC, _SWEEP_SIG)
    scored = emb.select(
        "vec_id",
        lsh_signature("embedding", _SWEEP_SIG, DIM).alias("sig"),
        dot_product("embedding", QUERY_VEC).alias("dot"),
    )
    exact = (
        scored.orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.lit(1).alias("in_exact"))
    )
    ks = F.array(*[F.lit(k) for k in _SWEEP_KS])
    fan = scored.select(
        "vec_id",
        "dot",
        F.explode(
            F.filter(
                ks,
                lambda k: F.substring("sig", 1, _SWEEP_SIG).substr(
                    F.lit(1), k.cast("int")
                )
                == F.lit(qsig).substr(F.lit(1), k.cast("int")),
            )
        ).alias("k"),
    )
    fan = fan.persist()
    # candidate counts separately from the ranking: fusing them as two
    # window functions over the same 4-value partition key would block
    # the WindowGroupLimit rewrite and sort EVERY candidate inside <= 4
    # partitions; standalone rank+filter plans with partial per-input-
    # partition top-10 heaps before the exchange (plan-pinned)
    counts = fan.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"))
    w = Window.partitionBy("k").orderBy(F.desc("dot"), F.asc("vec_id"))
    top = (
        fan.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .join(F.broadcast(exact), "vec_id", "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("in_exact"), F.lit(0)).cast("long")
             .alias("n_hits"))
    )
    cfg = spark.range(1).select(F.explode(ks).alias("k0")).select(
        F.col("k0").cast("long").alias("k"))
    # every config emits a row — an over-selective prefix shows up as
    # an explicit (0 candidates, recall 0) row, not a missing one
    return cfg.join(counts, "k", "left").join(top, "k", "left").select(
        "k",
        F.coalesce("n_candidates", F.lit(0).cast("long"))
        .alias("n_candidates"),
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0).cast("long")).cast("double") / 10)
        .alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# Round 11: query-adaptive nprobe (margin-based IVF probing)
# ---------------------------------------------------------------------------

_ADAPT_TAU = 0.5  # probe 2 cells when d1² > τ·d2² (ambiguous boundary)
_ADAPT_NQ = 8


@query(
    "ann_adaptive_nprobe",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
el AS (
  SELECT label, pos.pos AS pos, CAST(embedding[pos.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
cent AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM el GROUP BY label, pos
),
qs AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_ADAPT_NQ}
),
qc AS (
  SELECT q.query_id, cent.label,
         CAST(CAST(SUM(CAST((cent.c - q.qv[cent.pos])
              * (cent.c - q.qv[cent.pos]) AS DECIMAL(30,10)))
              AS VARCHAR) AS DOUBLE) AS dist2
  FROM qs q CROSS JOIN cent
  GROUP BY q.query_id, cent.label
),
rk AS (
  SELECT query_id, label, dist2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist2, label) AS crank
  FROM qc
),
np AS (
  SELECT query_id,
         CASE WHEN MAX(CASE WHEN crank = 1 THEN dist2 END)
                   > {_ADAPT_TAU} * MAX(CASE WHEN crank = 2 THEN dist2 END)
              THEN 2 ELSE 1 END AS nprobe
  FROM rk GROUP BY query_id
),
probes AS (
  SELECT rk.query_id, rk.label, np.nprobe
  FROM rk JOIN np ON np.query_id = rk.query_id
  WHERE rk.crank <= np.nprobe
),
scored AS (
  SELECT p.query_id, p.nprobe, e.vec_id,
         {sql_l2(_EMB, "(SELECT qv FROM qs WHERE qs.query_id = p.query_id)")}
           AS l2_dist
  FROM probes p JOIN embeddings e ON e.label = p.label
),
r AS (
  SELECT query_id, nprobe, vec_id, l2_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY l2_dist, vec_id) AS rnk
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(nprobe AS BIGINT) AS nprobe,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(vec_id AS BIGINT) AS vec_id, l2_dist
FROM r WHERE rnk <= 3
""",
    tags=("ann", "ivf", "adaptive", "nprobe", "topk"),
)
def ann_adaptive_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY-ADAPTIVE nprobe — fixed-nprobe IVF wastes probes on easy
    queries and misses on boundary queries; the standard production
    refinement probes MORE cells only when the query sits near a
    Voronoi boundary. Decision rule: probe 2 cells iff d1² > τ·d2²
    (τ = {_ADAPT_TAU}; the closest centroid is not decisively closer
    than the runner-up), else 1 — a pure comparison on
    identically-computed doubles, so the adaptive CHOICE itself is
    oracle-checked per query, not just the final top-k. Batch of
    {_ADAPT_NQ} queries; exact L2 re-rank inside the probed cells.

    Plan shape at 100 TB: centroids are O(cells·dim) — the query→cell
    distance table, the margin rank and the probe list are all
    driver-scale broadcasts; the corpus is touched ONLY by the final
    equi-join on label (partition pruning with label-partitioned
    storage), never shuffled. Compare ann_nprobe_recall_curve, which
    sweeps GLOBAL nprobe; this one picks it per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < _ADAPT_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cent = centroids_by_key(emb, "embedding", "label")
    qc = (
        qs.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            F.col("key").alias("label"),
            F.posexplode("centroid").alias("pos", "c"),
            "qv",
        )
        .select(
            "query_id",
            "label",
            (
                (F.col("c") - F.element_at("qv", F.col("pos") + 1))
                * (F.col("c") - F.element_at("qv", F.col("pos") + 1))
            )
            .cast("decimal(30,10)")
            .alias("diff2"),
        )
        .groupBy("query_id", "label")
        .agg(F.sum("diff2").cast("double").alias("dist2"))
    )
    wq = Window.partitionBy("query_id").orderBy("dist2", "label")
    rk = qc.withColumn("crank", F.row_number().over(wq))
    np_df = rk.groupBy("query_id").agg(
        F.when(
            F.max(F.when(F.col("crank") == 1, F.col("dist2")))
            > _ADAPT_TAU * F.max(F.when(F.col("crank") == 2, F.col("dist2"))),
            2,
        )
        .otherwise(1)
        .alias("nprobe")
    )
    probes = rk.join(np_df, "query_id").filter(
        F.col("crank") <= F.col("nprobe")
    ).select("query_id", "label", "nprobe")
    scored = emb.join(F.broadcast(probes), "label").join(
        F.broadcast(qs), "query_id"
    ).select(
        "query_id",
        "nprobe",
        "vec_id",
        l2_distance("embedding", "qv").alias("l2_dist"),
    )
    wr = Window.partitionBy("query_id").orderBy("l2_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("nprobe").cast("long").alias("nprobe"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("vec_id").cast("long").alias("vec_id"),
            "l2_dist",
        )
    )


@query(
    "ann_rabitq_estimate",
    oracle=f"""
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS o,
         list_transform(embedding::DOUBLE[],
                        v -> CASE WHEN v >= 0 THEN 1.0 ELSE -1.0 END) AS sg
  FROM embeddings
),
t AS (
  SELECT vec_id,
         list_dot_product(o, o) AS n2,
         list_dot_product(sg, o) AS so,
         list_dot_product(sg, {sql_vec(QUERY_VEC)}) AS sq,
         list_dot_product(o, {sql_vec(QUERY_VEC)}) AS exact_dot
  FROM s
)
SELECT vec_id, n2 * sq / NULLIF(so, 0) AS est_dot, exact_dot,
       n2 * sq / NULLIF(so, 0) - exact_dot AS err
FROM t
ORDER BY est_dot DESC NULLS LAST, vec_id
LIMIT 10
""",
    tags=("ann", "rabitq", "binary-quantization", "estimator", "topk"),
)
def ann_rabitq_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RaBitQ-style 1-BIT DOT-PRODUCT ESTIMATOR (Gao & Long, SIGMOD
    2024) — the step past plain sign-bit Hamming ranking
    (vdb_binary_quantized_search): binary codes plus TWO per-vector
    floats reconstruct an (asymptotically unbiased) estimate of the
    true inner product, so the 1-bit index can RANK BY DOT PRODUCT,
    not just by bit overlap. With x_b = sign(o)/sqrt(D) the estimator
    <o,q> ≈ ||o||² · <sign(o), q> / <sign(o), o> (the 1/sqrt(D)
    cancels); <sign(o), o> = Σ|o_i| > 0 for any non-zero vector, and
    for the all-zero degenerate case both engines NULL the estimate
    via an explicit NULLIF/when guard (Spark non-ANSI division would
    otherwise yield NULL while DuckDB yields ±Infinity — divergent). This build omits the paper's random rotation (it exists
    to make the error bound data-independent; determinism is what
    makes the estimator oracle-checkable here) — the estimator algebra
    and storage layout are the paper's. Output: top-10 by ESTIMATED
    dot with the exact dot and signed error beside it, pinning
    estimator quality itself under the hash.

    Plan shape at 100 TB: at scan time the code is 2 packed words +
    2 floats per vector (norm², correction) — 16x smaller than the
    float payload; <sign,q> is popcount algebra over the packed words
    against thresholded query prefix sums, so candidate scoring never
    touches floats, and exact rerank reads the float column for the
    top-C only (the vdb_binary_rerank topology with a calibrated
    score instead of raw Hamming). Here the estimate is computed as
    one codegen projection; top-10 is TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    sg = F.transform(
        "embedding",
        lambda v: F.when(v >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    d = emb.select(
        "vec_id",
        dot_product("embedding", "embedding").alias("n2"),
        dot_product(sg, "embedding").alias("so"),
        dot_product(sg, QUERY_VEC).alias("sq"),
        dot_product("embedding", QUERY_VEC).alias("exact_dot"),
    )
    # Zero-vector guard: NULL the estimate when <sign(o),o> = 0 so the
    # Spark and DuckDB sides agree even on a degenerate corpus (Spark's
    # non-ANSI x/0 is NULL; DuckDB's is +-Infinity).
    est = F.when(
        F.col("so") != 0, F.col("n2") * F.col("sq") / F.col("so")
    )
    return (
        d.select(
            "vec_id", est.alias("est_dot"), "exact_dot",
            (est - F.col("exact_dot")).alias("err"),
        )
        .orderBy(F.desc_nulls_last("est_dot"), F.asc("vec_id"))
        .limit(10)
    )


# Tier-1 of the cascade reuses the packed-sign-word Hamming fragment
# shared with vdb_binary_quantized_search (defined with the other
# binary-quantization helpers in queries/vector.py; vector is fully
# imported before ann in the registry's import order).
from quick_and_easy_vectordb_spark.queries.vector import (  # noqa: E402
    _SQL_HAMMING as _SQL_BIN_HAMMING,
)


@query(
    "ann_rerank_cascade",
    oracle=f"""
WITH c1 AS (
  SELECT vec_id, {_SQL_BIN_HAMMING} AS hamming
  FROM embeddings ORDER BY hamming, vec_id LIMIT 200
),
{SQL_SQ8_DQ},
s2 AS (
  SELECT c1.vec_id, c1.hamming, {sql_dot('dq.e8', sql_vec(QUERY_VEC))}
           AS sq8_score
  FROM c1 JOIN dq ON dq.vec_id = c1.vec_id
  ORDER BY sq8_score DESC, c1.vec_id LIMIT 50
),
s3 AS (
  SELECT s2.vec_id, s2.hamming, s2.sq8_score,
         {sql_dot(_EMB, sql_vec(QUERY_VEC))} AS score
  FROM s2 JOIN embeddings e ON e.vec_id = s2.vec_id
  ORDER BY score DESC, s2.vec_id LIMIT 10
)
SELECT vec_id,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS BIGINT)
         AS rank,
       hamming, sq8_score, score
FROM s3
""",
    tags=("ann", "cascade", "rerank", "binary", "sq8", "serving"),
)
def ann_rerank_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-TIER RERANK CASCADE — the production ANN serving topology
    (binary prefilter → scalar-quantized rerank → exact rerank), each
    tier cutting candidates ~4x while reading a progressively wider
    representation: (1) packed sign bits (2 words/vector, 16x smaller
    than float32 — the tier that scans billions) keep the 200 nearest
    by Hamming; (2) the SQ8 bin-midpoint reconstruction (8x smaller)
    rescores those 200 by approximate dot and keeps 50; (3) exact
    floats rerank the 50 into the final 10. The engine's existing
    single-tier queries (vdb_binary_quantized_search, ann_sq8_search,
    vdb_topk_dot) are this cascade's stages run in isolation; the
    composition is what a serving system actually executes, and the
    whole funnel is ONE lazy plan — candidates flow tier to tier as
    broadcasts, never a driver round-trip.

    Plan shape at 100 TB: tier-1 is the only corpus-wide scan and
    touches only the packed-word column (TakeOrderedAndProject heap);
    tiers 2-3 join 200-/50-row broadcast candidate sets back to
    narrow column reads. Every tier is deterministic (id tiebreaks),
    so the full funnel — including which candidates survive each cut
    — hash-matches the oracle's identical three-CTE cascade."""
    from quick_and_easy_vectordb_spark.queries.vector import (
        _QW,
        _spark_sign_word,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ham = (
        F.bit_count(_spark_sign_word("embedding", 0).bitwiseXOR(F.lit(_QW[0])))
        + F.bit_count(
            _spark_sign_word("embedding", 1).bitwiseXOR(F.lit(_QW[1]))
        )
    ).cast("long")
    c1 = (
        emb.select("vec_id", ham.alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(200)
    )
    s2 = (
        _sq8_scored(emb)
        .join(F.broadcast(c1), "vec_id")
        .orderBy(F.desc("sq8_score"), F.asc("vec_id"))
        .limit(50)
    )
    s3 = (
        emb.join(F.broadcast(s2), "vec_id")
        .select(
            "vec_id", "hamming", "sq8_score",
            dot_product("embedding", QUERY_VEC).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    return s3.select(
        "vec_id",
        F.row_number().over(w).cast("long").alias("rank"),
        "hamming", "sq8_score", "score",
    )


@query(
    "ann_lsh_index_incremental",
    oracle=f"""
SELECT {_sql_signature(8)} AS lsh_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(vec_id) AS BIGINT) AS id_checksum
FROM embeddings GROUP BY 1
""",
    tags=("ann", "lsh", "streaming", "index-maintenance",
          "exactly-once"),
)
def ann_lsh_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL LSH INDEX MAINTENANCE promoted to the oracle gate
    (VERDICT r12 item 6 — previously pinned only by
    tests/test_streaming.py): the corpus arrives in FOUR files across
    TWO micro-batches (maxFilesPerTrigger=2 in the shared stream
    reader), the real Structured Streaming maintenance query
    (streaming/index_maintenance.py:stream_lsh_index_maintenance)
    appends each batch into the bucket-partitioned parquet index, and
    the result is the index read BACK OFF DISK (read_lsh_index, with
    the explicit schema that defends leading-zero bucket strings from
    partition-type inference) reduced to the per-bucket membership
    table. The oracle computes the same table directly from the
    embeddings relation — the row matches iff the incrementally
    maintained index is bit-identical to a from-scratch rebuild,
    which is the maintenance invariant itself as a CORRECTNESS row.

    Plan shape at 100 TB: bucket assignment is per-row Catalyst math
    (no shuffle, no state); the sink's partitionBy routes rows to
    bucket directories, and the checkpoint + file-sink commit log
    give exactly-once across restarts. Probing the maintained index
    is partition pruning (ann_lsh_probe over read_lsh_index)."""
    import os
    import shutil

    from quick_and_easy_vectordb_spark.streaming.index_maintenance import (
        read_lsh_index,
        stream_lsh_index_maintenance,
    )

    base = fresh("lsh_index_incremental", sf_dir)
    src_dir = os.path.join(base, "src")
    os.makedirs(src_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # Stage the corpus as four disjoint files: the incremental path
    # must hold across micro-batch boundaries, not within one batch.
    for part in range(4):
        tmp = os.path.join(base, f"stage_{part}")
        (emb.filter(F.col("vec_id") % 4 == part)
            .coalesce(1).write.parquet(tmp))
        leafs = [f for f in os.listdir(tmp)
                 if f.endswith(".parquet") and not f.startswith(("_", "."))]
        for f in leafs:
            os.rename(os.path.join(tmp, f),
                      os.path.join(src_dir, f"arrival_{part}_{f}"))
        shutil.rmtree(tmp)

    index_path = os.path.join(base, "index")
    q = stream_lsh_index_maintenance(
        spark, src_dir, index_path,
        checkpoint=os.path.join(base, "ckpt"),
        num_planes=8, dim=DIM,
    )
    q.awaitTermination()
    return (
        read_lsh_index(spark, index_path)
        .groupBy("lsh_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("vec_id").cast("long").alias("id_checksum"),
        )
    )


@query(
    "ann_lsh_index_compaction",
    oracle=f"""
SELECT {_sql_signature(8)} AS lsh_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(vec_id) AS BIGINT) AS id_checksum
FROM embeddings GROUP BY 1
""",
    tags=("ann", "lsh", "streaming", "compaction",
          "small-file-problem"),
)
def ann_lsh_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION under the oracle gate — the second half
    of the index-maintenance lifecycle (the half streaming appends
    make necessary: every micro-batch adds one file per touched
    bucket, and a month of micro-batches drowns probe latency in
    parquet footer opens). The corpus is streamed into the
    bucket-partitioned index across two micro-batches (the
    ann_lsh_index_incremental path), then
    streaming/index_maintenance.py:compact_lsh_index rewrites it to
    ~1 file per bucket directory at a NEW path (Spark cannot
    atomically overwrite a path it reads; the production swap is an
    fs rename between streaming restarts). The result is the
    COMPACTED index read back off disk, reduced per bucket — the row
    is green iff compaction lost/duplicated/moved nothing across
    bucket directories, which is the rewrite's entire contract.

    Plan shape at 100 TB: ONE shuffle keyed (bucket, salt) —
    hash-distributing buckets so a hot bucket doesn't serialize the
    rewrite — then a partitionBy write preserving the pruning layout
    exactly."""
    import os

    from quick_and_easy_vectordb_spark.streaming.index_maintenance import (
        compact_lsh_index,
        read_lsh_index,
        stream_lsh_index_maintenance,
    )

    base = fresh("lsh_index_compaction", sf_dir)
    src_dir = os.path.join(base, "src")
    os.makedirs(src_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    for part in range(4):
        tmp = os.path.join(base, f"stage_{part}")
        (emb.filter(F.col("vec_id") % 4 == part)
            .coalesce(1).write.parquet(tmp))
        for f in os.listdir(tmp):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                os.rename(os.path.join(tmp, f),
                          os.path.join(src_dir, f"arrival_{part}_{f}"))

    index_path = os.path.join(base, "index")
    q = stream_lsh_index_maintenance(
        spark, src_dir, index_path,
        checkpoint=os.path.join(base, "ckpt"),
        num_planes=8, dim=DIM,
    )
    q.awaitTermination()
    compacted = os.path.join(base, "compacted")
    compact_lsh_index(spark, index_path, compacted, files_per_bucket=1)
    return (
        read_lsh_index(spark, compacted)
        .groupBy("lsh_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("vec_id").cast("long").alias("id_checksum"),
        )
    )


_SPANN_EPS = "1.25e0"  # distance-ratio closure bound (1 + eps), exact in binary


@query(
    "ann_spann_multi_assign",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
el AS (
  SELECT label, pos.pos AS pos, CAST(embedding[pos.pos] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN pos
),
cent AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(val) AS c
  FROM el GROUP BY label, pos
),
carr AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
ad AS (
  SELECT e.vec_id, c.label AS cell,
         sqrt(list_sum(list_transform(list_zip({_EMB}, c.cv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS d
  FROM embeddings e CROSS JOIN carr c
),
mins AS (SELECT vec_id, MIN(d) AS dmin FROM ad GROUP BY vec_id),
home AS (
  SELECT vec_id, cell AS home_label FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM ad) WHERE rn = 1
),
assign AS (
  SELECT ad.vec_id, ad.cell
  FROM ad JOIN mins USING (vec_id)
  WHERE ad.d <= mins.dmin * {_SPANN_EPS}
),
best AS (
  SELECT label FROM carr
  ORDER BY sqrt(list_sum(list_transform(list_zip(cv, {sql_vec(QUERY_VEC)}),
           p -> (p[1] - p[2]) * (p[1] - p[2])))), label
  LIMIT 1
)
SELECT a.vec_id, {sql_l2(_EMB, sql_vec(QUERY_VEC))} AS l2_dist,
       h.home_label, (h.home_label <> b.label) AS is_boundary
FROM assign a
JOIN best b ON a.cell = b.label
JOIN embeddings e ON e.vec_id = a.vec_id
JOIN home h ON h.vec_id = a.vec_id
ORDER BY l2_dist, a.vec_id LIMIT 5
""",
    tags=("ann", "ivf", "spann", "topk"),
)
def ann_spann_multi_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPANN-style boundary replication (Chen et al., NeurIPS 2021,
    public): each vector joins the posting list of its nearest centroid
    AND of every centroid within (1+eps)=1.25x that nearest distance, so
    a single-cell probe still sees vectors that straddle the Voronoi
    boundary — the replication buys recall without probing more cells
    (contrast ann_ivf_multiprobe, which widens the probe instead).

    Plan shape: the 10 decimal-exact centroids collapse to ONE
    collect_list row that cross-joins (broadcast, 1-row — the
    queries/events.py scalar-broadcast pattern) onto the scan; ALL
    per-cell distances, the min, the home argmin, and the closure
    filter are per-row array expressions — the assignment phase is
    zero-shuffle. At 100 TB this is the standard O(N*C*D) IVF assign
    cost with replication factor sum(|postings|)/N <= C bounded by eps;
    the probe side reads exactly one posting list (label-partitioned at
    scale, so one partition). Exactness: the same sequential
    left-to-right fold as functions/vector.py:l2_distance on both
    sides; 1.25 is exact in binary so the closure predicate cannot
    straddle a rounding boundary."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = centroids_by_key(emb, "embedding", "label")
    # The data-sized phase: one row per (vector, assigned cell) with the
    # query distance, home label and the assigned-cell struct ``a``.
    cl = cent.agg(
        F.array_sort(F.collect_list(F.struct("key", "centroid"))).alias("cl")
    )
    dists = F.transform(
        F.col("cl"),
        lambda c: F.struct(
            l2_distance(F.col("embedding"), c["centroid"]).alias("d"),
            c["key"].alias("cell"),
        ),
    )
    assigned = emb.crossJoin(F.broadcast(cl)).select(
        "vec_id",
        l2_distance("embedding", QUERY_VEC).alias("l2_dist"),
        F.array_sort(dists).alias("ds"),
    ).select(
        "vec_id",
        "l2_dist",
        F.col("ds")[0]["cell"].alias("home_label"),
        F.explode(
            F.filter(
                F.col("ds"), lambda x: x["d"] <= F.col("ds")[0]["d"] * F.lit(1.25)
            )
        ).alias("a"),
    )
    best = (
        cent.select(
            "key", l2_distance("centroid", QUERY_VEC).alias("qd")
        )
        .orderBy("qd", "key")
        .limit(1)
        .select(F.col("key").alias("probe_cell"))
    )
    return (
        assigned.join(
            F.broadcast(best), F.col("a")["cell"] == F.col("probe_cell")
        )
        .select(
            "vec_id",
            "l2_dist",
            "home_label",
            (F.col("home_label") != F.col("probe_cell")).alias("is_boundary"),
        )
        .orderBy("l2_dist", "vec_id")
        .limit(5)
    )
