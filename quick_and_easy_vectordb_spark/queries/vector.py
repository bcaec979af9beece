"""Vector-search query surface (reference parity + variants).

The reference's corpus is a single in-memory chunks table
(/root/reference/app.py:65-73); the Spark-native analog is
``documents ⋈ embeddings`` on ``doc_id = vec_id`` (FIXTURES.md §B).

Plan shape (the part that matters at 100 TB): every top-k query scores
the *embeddings table only* (narrow scan: key + vector), takes the
distributed top-k (TakeOrderedAndProject — per-partition heaps, no
shuffle of the corpus), and only then joins the k surviving rows to
``documents`` for their text — so the wide text column is read for k
rows, not N, and the join is a broadcast of k rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
    parse_vector,
    squared_l2_distance,
    vector_literal,
    vector_to_csv,
)
from quick_and_easy_vectordb_spark.operators.ann import hyperplane
from quick_and_easy_vectordb_spark.operators.search import batch_knn, lsh_batch_knn
from quick_and_easy_vectordb_spark.queries.common import (
    DIM,
    QUERY_VEC,
    QUERY_VEC2,
    sql_cosine,
    sql_dot,
    sql_l2,
    sql_l2sq,
    sql_vec,
)
from quick_and_easy_vectordb_spark.queries.registry import query
from quick_and_easy_vectordb_spark.sources.catalog import load_table

_Q = sql_vec(QUERY_VEC)
_EMB = "embedding::DOUBLE[]"


def _topk(
    spark: SparkSession, sf_dir: str, scorer, k: int, descending: bool
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select("vec_id", scorer("embedding", QUERY_VEC).alias("similarity"))
    order = [
        F.desc("similarity") if descending else F.asc("similarity"),
        F.asc("vec_id"),
    ]
    top = scored.orderBy(*order).limit(k)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return top.join(docs, top.vec_id == docs.doc_id).select(
        "doc_id", "text", "lang", "similarity"
    )


def _topk_oracle(score_expr: str, k: int, direction: str) -> str:
    return f"""
WITH scored AS (
  SELECT vec_id, {score_expr} AS similarity FROM embeddings
), top AS (
  SELECT * FROM scored ORDER BY similarity {direction}, vec_id LIMIT {k}
)
SELECT d.doc_id, d.text, d.lang, t.similarity
FROM top t JOIN documents d ON d.doc_id = t.vec_id
"""


@query(
    "vdb_topk_dot",
    oracle=_topk_oracle(sql_dot(_EMB, _Q), 5, "DESC"),
    tags=("parity", "vector", "topk"),
    bench=True,
)
def vdb_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship parity query: raw dot-product similarity (NOT cosine —
    /root/reference/app.py:45), top-5 (the reference's default k,
    app.py:40), deterministic id tiebreak (documented deviation from the
    reference's unstable pandas sort, SURVEY.md §1.4.3)."""
    return _topk(spark, sf_dir, dot_product, 5, True)


@query(
    "vdb_topk_cosine",
    oracle=_topk_oracle(sql_cosine(_EMB, _Q), 10, "DESC"),
    tags=("vector", "topk"),
    bench=True,
)
def vdb_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 — the normalized variant the reference lacks
    (SURVEY.md §2b 'cosine + L2 variants')."""
    return _topk(spark, sf_dir, cosine_similarity, 10, True)


@query(
    "vdb_topk_l2",
    oracle=_topk_oracle(sql_l2(_EMB, _Q), 10, "ASC"),
    tags=("vector", "topk"),
)
def vdb_topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean nearest-10 (ascending distance)."""
    return _topk(spark, sf_dir, l2_distance, 10, False)


@query(
    "vdb_threshold_filter",
    oracle=f"""
SELECT vec_id, {sql_cosine(_EMB, _Q)} AS score
FROM embeddings
WHERE {sql_cosine(_EMB, _Q)} >= 0.15
""",
    tags=("vector", "filter"),
)
def vdb_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-threshold search: every row with cosine ≥ τ. A pure
    filter — fully pushed into the scan stage, no shuffle at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id", cosine_similarity("embedding", QUERY_VEC).alias("score")
    )
    return scored.filter(F.col("score") >= 0.15)


@query(
    "vdb_batch_knn",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), s AS (
  SELECT q.query_id, c.vec_id AS corpus_id,
         {sql_cosine('c.embedding::DOUBLE[]', 'q.qv')} AS score
  FROM embeddings c CROSS JOIN q
), r AS (
  SELECT query_id, corpus_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
  FROM s
)
SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, score FROM r WHERE rank <= 3
""",
    tags=("vector", "knn", "window", "join"),
    bench=True,
)
def vdb_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: 3 nearest corpus vectors for each of 5 query vectors.
    The query side is broadcast into a nested-loop join so the corpus
    (the 100 TB side) is never shuffled; per-query top-k via window
    row_number (operators/search.py:batch_knn)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv"))
    res = batch_knn(
        queries_df,
        corpus,
        k=3,
        query_id="query_id",
        query_vec="qv",
        corpus_id="corpus_id",
        corpus_vec="cv",
        metric="cosine",
    )
    return res.select(
        "query_id", "corpus_id", F.col("rank").cast("long").alias("rank"), "score"
    )


def _lsh_knn_sig_sql(expr: str, num_planes: int) -> str:
    terms = [
        f"(CASE WHEN {sql_dot(expr, sql_vec(hyperplane(j, DIM)))} >= 0 "
        f"THEN '1' ELSE '0' END)"
        for j in range(num_planes)
    ]
    return " || ".join(terms)


def _lsh_knn_flips_sql(sig: str, num_planes: int) -> str:
    flips = [sig]
    for j in range(num_planes):
        flips.append(
            f"substr({sig}, 1, {j}) || "
            f"(CASE WHEN substr({sig}, {j + 1}, 1) = '1' THEN '0' ELSE '1' END)"
            f" || substr({sig}, {j + 2})"
        )
    return "[" + ", ".join(flips) + "]"


_LSH_KNN_PLANES = 4


@query(
    "vdb_batch_knn_lsh",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv,
         {_lsh_knn_sig_sql('embedding::DOUBLE[]', _LSH_KNN_PLANES)} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         {_lsh_knn_sig_sql('embedding::DOUBLE[]', _LSH_KNN_PLANES)} AS qsig
  FROM embeddings WHERE vec_id % 50 = 0
), p AS (
  SELECT query_id, qv,
         unnest({_lsh_knn_flips_sql('qsig', _LSH_KNN_PLANES)}) AS bucket
  FROM q
), cand AS (
  SELECT DISTINCT p.query_id, c.corpus_id, {sql_cosine('c.cv', 'p.qv')} AS score
  FROM p JOIN c USING (bucket)
), r AS (
  SELECT query_id, corpus_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
  FROM cand
)
SELECT query_id, corpus_id, CAST(rank AS BIGINT) AS rank, score FROM r WHERE rank <= 3
""",
    tags=("vector", "knn", "lsh", "join", "window"),
    bench=True,
)
def vdb_batch_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-prefiltered batch kNN (operators/search.py:lsh_batch_knn):
    every 50th vector queries the whole corpus, but instead of
    broadcasting the query set into a nested loop, both sides are
    bucketed by a 4-plane LSH signature and each query multi-probes its
    Hamming-1 neighborhood — the join is a shuffle EQUI-JOIN on the
    bucket string (plan-asserted in tests/test_plans.py), the shape
    that survives query sets too large to broadcast. Deterministic
    hyperplanes make even this approximate path oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv")
    )
    res = lsh_batch_knn(
        queries_df,
        corpus,
        k=3,
        num_planes=_LSH_KNN_PLANES,
        dim=DIM,
        probe_radius=1,
        query_id="query_id",
        query_vec="qv",
        corpus_id="corpus_id",
        corpus_vec="cv",
        metric="cosine",
    )
    return res.select(
        "query_id", "corpus_id", F.col("rank").cast("long").alias("rank"), "score"
    )


@query(
    "vdb_knn_per_label",
    oracle=f"""
WITH s AS (
  SELECT label, vec_id, {sql_dot(_EMB, _Q)} AS similarity FROM embeddings
), r AS (
  SELECT label, vec_id, similarity,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY similarity DESC, vec_id) AS rank
  FROM s
)
SELECT label, vec_id, CAST(rank AS BIGINT) AS rank, similarity FROM r WHERE rank <= 3
""",
    tags=("vector", "window"),
)
def vdb_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: the 3 most similar vectors *within each label*
    — window partitionBy keeps the shuffle keyed on label only."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "label", "vec_id", dot_product("embedding", QUERY_VEC).alias("similarity")
    )
    w = Window.partitionBy("label").orderBy(F.desc("similarity"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("label", "vec_id", "rank", "similarity")
    )


@query(
    "vdb_append_union",
    oracle="""
WITH unioned AS (
  SELECT doc_id, lang, n_chars FROM documents
  UNION ALL
  SELECT * FROM (VALUES (900000001, 'en', 21), (900000002, 'xx', 9))
    AS t(doc_id, lang, n_chars)
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM unioned GROUP BY lang
""",
    tags=("parity", "union", "agg"),
)
def vdb_append_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity op A1 (append): the reference's pd.concat append
    (/root/reference/app.py:105-118) becomes a plan-level unionByName —
    O(1), no table copy — verified here by aggregating the unioned
    relation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    new_rows = docs.sparkSession.createDataFrame(
        [(900000001, "en", 21), (900000002, "xx", 9)],
        schema="doc_id long, lang string, n_chars long",
    )
    return (
        docs.unionByName(new_rows)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "vdb_count",
    oracle="""
SELECT COUNT(*) AS n_rows, COUNT(DISTINCT source) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS min_id, CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM documents
""",
    tags=("parity", "agg"),
)
def vdb_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity ops G1/F1: row count (the reference's 'Total chunks',
    app.py:189-190) plus distinct/min/max — metadata-only aggregates
    that never touch the wide columns."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("source").alias("n_sources"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "vdb_vector_parse_roundtrip",
    oracle=f"""
WITH parsed AS (
  SELECT vec_id,
         list_transform(
           string_split(array_to_string(embedding::DOUBLE[], ','), ','),
           x -> trim(x)::DOUBLE
         ) AS v
  FROM embeddings WHERE vec_id < 200
)
SELECT vec_id, CAST(len(v) AS INTEGER) AS dim, {sql_dot('v', 'v')} AS norm_sq
FROM parsed
""",
    tags=("parity", "source", "csv"),
)
def vdb_vector_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity op L1 (CSV vector parse): serialize each embedding to the
    reference's quoted-CSV wire format ("0.1,0.2,...") and parse it
    back (functions/vector.py:parse_vector ⟷ app.py:56 np.fromstring).
    Shortest-repr double formatting makes the roundtrip lossless, which
    the self-dot-product certifies."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    parsed = parse_vector(vector_to_csv(F.col("embedding")))
    return emb.select(
        "vec_id",
        F.size(parsed).alias("dim"),
        dot_product(parsed, parsed).alias("norm_sq"),
    )


_ONES = sql_vec([1.0] * len(QUERY_VEC))


@query(
    "vdb_vector_stats",
    oracle=f"""
SELECT vec_id,
       sqrt(list_dot_product({_EMB}, {_EMB})) AS l2_norm,
       list_max({_EMB}) AS max_val,
       list_min({_EMB}) AS min_val,
       CAST(list_position({_EMB}, list_max({_EMB})) AS BIGINT) AS argmax_idx,
       list_dot_product({_EMB}, {_ONES}) / len(embedding) AS mean_val
FROM embeddings
""",
    tags=("vector", "array-fns"),
)
def vdb_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the vector column: L2 norm, min/max
    element, 1-based argmax, mean — all JVM-side array expressions.
    The mean is computed as dot(v, ones)/len so its float fold order
    is the (verified engine-identical) dot-product fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        l2_norm("embedding").alias("l2_norm"),
        F.array_max(e).alias("max_val"),
        F.array_min(e).alias("min_val"),
        F.array_position(e, F.array_max(e)).alias("argmax_idx"),
        (dot_product("embedding", [1.0] * len(QUERY_VEC)) / F.size("embedding")).alias(
            "mean_val"
        ),
    )


@query(
    "vdb_topk_cosine_arrow",
    oracle=f"""
WITH scored AS (
  SELECT vec_id, {sql_cosine(_EMB, _Q)} AS s FROM embeddings
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY s DESC, vec_id) AS BIGINT) AS rank,
       vec_id
FROM scored ORDER BY s DESC, vec_id LIMIT 5
""",
    tags=("vector", "topk", "pandas-udf"),
)
def vdb_topk_cosine_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine via an ARROW-VECTORIZED pandas UDF (the Python
    fast path: one numpy matmul per Arrow batch, ~100x a row-at-a-time
    UDF). Scores differ from the JVM fold only in float rounding order,
    so the query returns (rank, id) — the ranking — which must match
    the declarative plan's oracle exactly. Demonstrates that the UDF
    surface plugs into the same TakeOrderedAndProject top-k plan."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(QUERY_VEC, dtype=np.float64)
    qn = float(np.sqrt(q @ q))

    @pandas_udf("double")
    def cos(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        dots = m @ q
        norms = np.sqrt((m * m).sum(axis=1))
        return pd.Series(dots / (norms * qn))

    emb = load_table(spark, sf_dir, "embeddings")
    top = (
        emb.select("vec_id", cos("embedding").alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(5)
    )
    w = Window.orderBy(F.desc("s"), F.asc("vec_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "vec_id"
    )


@query(
    "vdb_vector_arith",
    oracle=f"""
WITH n AS (
  SELECT vec_id, {_EMB} AS e, sqrt(list_dot_product({_EMB}, {_EMB})) AS nrm
  FROM embeddings WHERE vec_id % 17 = 0
),
a AS (
  SELECT vec_id,
         list_transform(e, x -> x / nrm) AS unit,
         list_transform(list_zip(e, {_Q}), p -> p[1] + 0.5 * p[2]) AS axpy,
         list_transform(e, x -> CASE WHEN x < 0 THEN 0.0 ELSE x END) AS relu
  FROM n
)
SELECT vec_id,
       CAST(unnest(range(len(unit))) AS BIGINT) AS pos,
       unnest(unit) AS unit,
       unnest(axpy) AS axpy,
       unnest(relu) AS relu
FROM a
""",
    tags=("vector", "arith", "array-fns"),
)
def vdb_vector_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise vector arithmetic as array expressions: L2
    normalization, axpy (v + 0.5·q — the update step of iterative
    algorithms), and ReLU clamping. Per-element float ops are
    position-independent and bitwise-identical cross-engine; the
    output is posexploded to scalar ``(vec_id, pos, unit, axpy,
    relu)`` rows because the driver's canonicalizer cannot sort
    array-typed pandas columns (round-1 CORRECTNESS err). DuckDB side
    co-unnests the three lists positionally — same rows."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 17 == 0
    )
    e = F.col("embedding").cast("array<double>")
    q = vector_literal(QUERY_VEC)
    nrm = l2_norm("embedding")
    arrays = emb.select(
        "vec_id",
        F.transform(e, lambda x: x / nrm).alias("unit"),
        F.zip_with(e, q, lambda x, y: x + 0.5 * y).alias("axpy"),
        F.transform(
            e, lambda x: F.when(x < 0, F.lit(0.0)).otherwise(x)
        ).alias("relu"),
    )
    return arrays.select(
        "vec_id",
        F.posexplode(F.arrays_zip("unit", "axpy", "relu")).alias("pos", "z"),
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("z.unit").alias("unit"),
        F.col("z.axpy").alias("axpy"),
        F.col("z.relu").alias("relu"),
    )


# ---- int8 scalar quantization ------------------------------------
# q_i = floor(x_i * 127 / maxabs + 0.5) (half-up, engine-exact);
# int dot products are exact, so the quantized ranking is identical
# on any engine — the whole compression path is oracle-checkable.

_SQL_MAXABS = "list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))"


@query(
    "vdb_quantized_search",
    oracle=f"""
WITH q AS (SELECT {sql_vec(QUERY_VEC)} AS qv),
params AS (
  SELECT vec_id, {_SQL_MAXABS} AS ma, {_EMB} AS e FROM embeddings
),
quant AS (
  SELECT vec_id, ma,
         list_transform(e, x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)) AS qe
  FROM params WHERE ma > 0
),
qq AS (
  SELECT list_transform(qv, x -> CAST(floor(x * 127.0 /
           list_max(list_transform(qv, y -> abs(y))) + 0.5) AS BIGINT)) AS qqv
  FROM q
),
scored AS (
  SELECT vec_id, CAST(list_dot_product(qe, qqv) AS BIGINT) AS iscore
  FROM quant CROSS JOIN qq
)
SELECT vec_id, iscore FROM scored ORDER BY iscore DESC, vec_id LIMIT 5
""",
    tags=("vector", "quantization", "topk"),
)
def vdb_quantized_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 SCALAR QUANTIZATION search: per-vector symmetric
    quantization (127/maxabs scale, half-up rounding) shrinks the
    vector payload 8x — at 100 TB that is 8x less scan I/O and cache
    footprint, the standard first compression step of any vector
    store. Integer dot products are exact, so the quantized ranking
    is bit-stable and fully oracle-checked (float reranking of the
    top candidates would follow in a two-stage deployment)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    ma = F.array_max(F.transform(e, F.abs))
    qe = F.transform(e, lambda x: F.floor(x * 127.0 / ma + 0.5).cast("long"))

    qmax = max(abs(v) for v in QUERY_VEC)
    qq = vector_literal(
        [float(__import__("math").floor(v * 127.0 / qmax + 0.5)) for v in QUERY_VEC]
    )
    iscore = F.aggregate(
        F.zip_with(qe, qq, lambda a, b: a * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        emb.filter(ma > 0)
        .select("vec_id", iscore.alias("iscore"))
        .orderBy(F.desc("iscore"), F.asc("vec_id"))
        .limit(5)
    )


# ---- cursor pagination (search_after) ----------------------------

_PAGE_AFTER = 2  # deterministic cursor: rank-2's (score, id) boundary


@query(
    "vdb_search_after",
    oracle=f"""
WITH scored AS (
  SELECT vec_id, {sql_dot(_EMB, _Q)} AS similarity FROM embeddings
),
cursor AS (
  SELECT similarity AS cs, vec_id AS cid FROM scored
  ORDER BY similarity DESC, vec_id LIMIT 1 OFFSET {_PAGE_AFTER - 1}
)
SELECT s.vec_id, s.similarity
FROM scored s CROSS JOIN cursor
WHERE s.similarity < cursor.cs
   OR (s.similarity = cursor.cs AND s.vec_id > cursor.cid)
ORDER BY s.similarity DESC, s.vec_id LIMIT 5
""",
    tags=("vector", "pagination", "topk"),
)
def vdb_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURSOR PAGINATION (search_after): page N+1 of a ranked search
    resumes strictly after a (score, id) cursor instead of
    OFFSET-scanning — the filter pushes ahead of the top-k, so deep
    pages cost the same as page one (OFFSET re-sorts and discards at
    every page; at corpus scale that is the difference between
    pagination working and not)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id", dot_product("embedding", QUERY_VEC).alias("similarity")
    ).persist()
    cur = (
        scored.orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(_PAGE_AFTER)
        .orderBy(F.asc("similarity"), F.desc("vec_id"))
        .limit(1)
        .select(
            F.col("similarity").alias("cs"), F.col("vec_id").alias("cid")
        )
    )
    return (
        scored.join(F.broadcast(cur))
        .filter(
            (F.col("similarity") < F.col("cs"))
            | (
                (F.col("similarity") == F.col("cs"))
                & (F.col("vec_id") > F.col("cid"))
            )
        )
        .select("vec_id", "similarity")
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(5)
    )


# ---- hybrid lexical + vector search (RRF) ------------------------

_HYBRID_TERMS = ("join", "hash", "scan")
_RRF_K = 60


@query(
    "vdb_hybrid_rrf",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
  FROM documents
),
lex AS (
  SELECT doc_id,
         CAST({" + ".join(f"len(list_filter(w, x -> x = '{t}'))" for t in _HYBRID_TERMS)}
              AS BIGINT) AS lex_score
  FROM toks
),
lexr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY lex_score DESC, doc_id) AS r_lex
  FROM lex
),
vecr AS (
  SELECT vec_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY {sql_dot(_EMB, _Q)} DESC, vec_id) AS r_vec
  FROM embeddings
),
fused AS (
  SELECT l.doc_id,
         1.0 / ({_RRF_K} + l.r_lex) + 1.0 / ({_RRF_K} + v.r_vec) AS rrf
  FROM lexr l JOIN vecr v ON v.doc_id = l.doc_id
)
SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
""",
    tags=("vector", "hybrid", "rrf", "topk"),
)
def vdb_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID SEARCH via Reciprocal Rank Fusion: a lexical ranking
    (integer term-frequency score over the query terms) fused with the
    vector ranking as 1/(60+r_lex) + 1/(60+r_vec) — the standard
    score-scale-free fusion. Ranks are integers and RRF is two exact
    divisions, so even the fusion arithmetic is bit-stable across
    engines. Each leg ranks independently (both are
    TakeOrderedAndProject-able); only the tiny fused join meets."""
    from quick_and_easy_vectordb_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    w = tokens("text")
    lex_score = None
    for t in _HYBRID_TERMS:
        term = F.size(F.filter(w, lambda x: x == F.lit(t)))  # noqa: B023
        lex_score = term if lex_score is None else lex_score + term
    lex = docs.select("doc_id", lex_score.cast("long").alias("lex_score"))
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("lex_score"), F.asc("doc_id")))
        .alias("r_lex"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vecr = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(
            Window.orderBy(
                F.desc(dot_product("embedding", QUERY_VEC)), F.asc("vec_id")
            )
        )
        .alias("r_vec"),
    )
    fused = lexr.join(vecr, "doc_id").select(
        "doc_id",
        (
            1.0 / (F.lit(_RRF_K) + F.col("r_lex"))
            + 1.0 / (F.lit(_RRF_K) + F.col("r_vec"))
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


@query(
    "vdb_filtered_search",
    oracle=f"""
WITH scored AS (
  SELECT e.vec_id, d.lang, d.n_chars, {sql_dot("e.embedding::DOUBLE[]", _Q)} AS similarity
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE d.lang = 'en' AND d.n_chars >= 200
)
SELECT vec_id, lang, n_chars, similarity
FROM scored ORDER BY similarity DESC, vec_id LIMIT 5
""",
    tags=("vector", "filtered-search", "topk"),
)
def vdb_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search (the filtered-ANN problem):
    top-5 among English docs of >= 200 chars. PRE-filter strategy:
    the metadata predicate pushes to the documents scan, the
    surviving id set joins the vector table BEFORE scoring, and the
    top-k heap sees only qualifying rows — versus post-filtering a
    top-k that can return < k rows. At index scale the same shape
    works per LSH/IVF cell."""
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 200)
    )
    emb = load_table(spark, sf_dir, "embeddings")
    joined = emb.join(docs, emb.vec_id == docs.doc_id)
    return (
        joined.select(
            "vec_id",
            "lang",
            "n_chars",
            dot_product("embedding", QUERY_VEC).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(5)
    )


def _mmr_oracle(pool_k: int, k: int, lam: float) -> str:
    """Unrolled greedy-MMR oracle: stage i picks the argmax of
    lam*qsim - (1-lam)*max_cosine_to_selected over the not-yet-picked
    pool, id-ascending tiebreak — the loop in operators/search.py
    mmr_rerank, expressed as k chained CTE stages (plain ANSI SQL, no
    recursion: aggregates aren't allowed in recursive terms)."""
    div = sql_cosine("p.v", "s.v")
    parts = [
        f"""WITH pool AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {sql_cosine(_EMB, _Q)} AS qsim
  FROM embeddings
  ORDER BY qsim DESC, vec_id
  LIMIT {pool_k}
),
s1 AS (SELECT CAST(1 AS BIGINT) AS rank, vec_id, qsim AS mmr_score
       FROM pool ORDER BY qsim DESC, vec_id LIMIT 1),
sel1 AS (SELECT vec_id FROM s1)"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
c{r} AS (
  SELECT p.vec_id, {lam} * p.qsim - {1.0 - lam} * MAX({div}) AS score
  FROM pool p, pool s
  WHERE s.vec_id IN (SELECT vec_id FROM sel{r - 1})
    AND p.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
  GROUP BY p.vec_id, p.qsim
),
s{r} AS (SELECT CAST({r} AS BIGINT) AS rank, vec_id, score AS mmr_score
         FROM c{r} ORDER BY score DESC, vec_id LIMIT 1),
sel{r} AS (SELECT vec_id FROM sel{r - 1} UNION ALL SELECT vec_id FROM s{r})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT rank, vec_id, mmr_score FROM s{r}" for r in range(1, k + 1)
    )
    return "".join(parts) + "\n" + union


@query(
    "vdb_mmr_rerank",
    oracle=_mmr_oracle(pool_k=20, k=5, lam=0.5),
    tags=("vector", "topk", "rerank", "diversity"),
)
def vdb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-5 via Maximal Marginal Relevance over a top-20
    cosine candidate pool. The pool is the distributed part
    (TakeOrderedAndProject over the corpus — same plan as
    vdb_topk_cosine); the greedy rerank runs as k tiny DataFrame
    stages on the 20-row pool (operators/search.py:mmr_rerank)."""
    from quick_and_easy_vectordb_spark.operators.search import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    pool = (
        emb.select(
            "vec_id",
            "embedding",
            cosine_similarity("embedding", QUERY_VEC).alias("qsim"),
        )
        .orderBy(F.desc("qsim"), F.asc("vec_id"))
        .limit(20)
    )
    return mmr_rerank(pool, k=5, lam=0.5)


# --- binary (sign-bit) quantization: 64 dims -> two 32-bit words ----
# Packed per-dimension sign bits; 16x smaller than float32 vectors
# (the memory/IO lever that makes billion-vector prefilters scan-able).
# Two BIGINT words of 32 bits each: bit b of word j is dim 32j+b.
# DuckDB checks BIGINT shift overflow at bit 63, so 32-bit words keep
# every intermediate comfortably exact on both engines.

_QW = [
    sum(1 << i for i in range(32) if QUERY_VEC[j * 32 + i] > 0) for j in (0, 1)
]


def _spark_sign_word(vec: str, j: int):
    return F.expr(
        f"aggregate(sequence(0, 31), 0L, (acc, i) -> "
        f"acc + IF(element_at({vec}, {j * 32} + i + 1) > 0D, shiftleft(1L, i), 0L))"
    )


def _sql_sign_word(vec: str, j: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, 33), i -> "
        f"CASE WHEN {vec}[{j * 32} + i] > 0 THEN (1::BIGINT << (i - 1)) "
        f"ELSE 0::BIGINT END)) AS BIGINT)"
    )


_SQL_HAMMING = (
    f"CAST(bit_count(xor({_sql_sign_word('embedding', 0)}, {_QW[0]})) AS BIGINT) + "
    f"CAST(bit_count(xor({_sql_sign_word('embedding', 1)}, {_QW[1]})) AS BIGINT)"
)


@query(
    "vdb_binary_quantized_search",
    oracle=f"""
SELECT vec_id, {_SQL_HAMMING} AS hamming
FROM embeddings
ORDER BY hamming, vec_id
LIMIT 10
""",
    tags=("vector", "quantization", "topk"),
)
def vdb_binary_quantized_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit binary quantization search: pack each 64-dim vector
    into 64 sign bits (two 32-bit words), rank by Hamming distance to
    the packed query (bit_count of XOR — 2 instructions per word vs 64
    multiply-adds for a float dot product). All-integer scoring →
    bit-identical everywhere, TakeOrderedAndProject top-k plan. At
    scale the packed words live as their own tiny column (16x smaller
    than float32), so the prefilter scan never touches the float
    payload."""
    emb = load_table(spark, sf_dir, "embeddings")
    ham = (
        F.bit_count(_spark_sign_word("embedding", 0).bitwiseXOR(F.lit(_QW[0])))
        + F.bit_count(_spark_sign_word("embedding", 1).bitwiseXOR(F.lit(_QW[1])))
    ).cast("long")
    return (
        emb.select("vec_id", ham.alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "vdb_binary_rerank",
    oracle=f"""
WITH pre AS (
  SELECT vec_id, embedding, {_SQL_HAMMING} AS hamming
  FROM embeddings
  ORDER BY hamming, vec_id
  LIMIT 50
)
SELECT vec_id, {sql_cosine(_EMB, _Q)} AS cosine
FROM pre
ORDER BY cosine DESC, vec_id
LIMIT 5
""",
    tags=("vector", "quantization", "rerank", "topk"),
    bench=True,
)
def vdb_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: cheap Hamming prefilter to 50 candidates
    (integer ops over the packed sign bits), then exact cosine rerank
    of just those 50 — the standard quantize-then-rerank recall
    pattern. The expensive float scoring touches 50 rows instead of
    the whole corpus; both stages are TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings")
    ham = (
        F.bit_count(_spark_sign_word("embedding", 0).bitwiseXOR(F.lit(_QW[0])))
        + F.bit_count(_spark_sign_word("embedding", 1).bitwiseXOR(F.lit(_QW[1])))
    ).cast("long")
    pre = (
        emb.select("vec_id", "embedding", ham.alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(50)
    )
    return (
        pre.select(
            "vec_id",
            cosine_similarity("embedding", QUERY_VEC).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "vdb_range_search",
    oracle=f"""
SELECT vec_id, {sql_cosine(_EMB, _Q)} AS cosine
FROM embeddings
WHERE {sql_cosine(_EMB, _Q)} >= 0.2
""",
    tags=("vector", "range"),
)
def vdb_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: every vector with cosine ≥ τ to the
    query — the "give me ALL sufficiently-similar items" variant of
    top-k (dedup candidate pulls, recommendation fan-out). Unlike
    top-k there is no global ordering step at all: the plan is a pure
    scan → project → filter, embarrassingly parallel, zero shuffles,
    and the threshold comparison is on the per-row fold cosine that
    is bitwise identical across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    cos = cosine_similarity("embedding", QUERY_VEC)
    return emb.select("vec_id", cos.alias("cosine")).filter(F.col("cosine") >= 0.2)


_GRAM_D = 16  # leading sub-dimension; d² output cells


@query(
    "vdb_gram_matrix",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {_GRAM_D} + 1)) AS p)
SELECT CAST(pi.p AS BIGINT) AS i, CAST(pj.p AS BIGINT) AS j,
       CAST(CAST(SUM(CAST(e.embedding[pi.p]::DOUBLE * e.embedding[pj.p]::DOUBLE
            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS g
FROM embeddings e CROSS JOIN pos pi CROSS JOIN pos pj
WHERE pi.p <= pj.p
GROUP BY 1, 2
""",
    tags=("vector", "linalg", "agg"),
)
def vdb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix G = Σᵥ v·vᵀ over the leading 16 dims —
    the building block of corpus-level embedding analytics (covariance,
    PCA whitening, spectral diagnostics). One projection expands each
    row into its d(d+1)/2 upper-triangle products (arrays, no UDF), then
    a single hash aggregate with MAP-SIDE PARTIAL SUMS — each executor
    reduces its partitions to d² cells locally and shuffles only those,
    so shuffle volume is O(partitions · d²), independent of N: the
    correct 100 TB shape for X^T X. Products are summed decimal-exact
    (functions/numeric.py convention) so the matrix is bitwise
    reproducible under any partitioning."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.slice(F.col("embedding").cast("array<double>"), 1, _GRAM_D)
    cells = F.flatten(
        F.transform(
            e,
            lambda x, i: F.transform(
                e, lambda y, j: F.struct(
                    (i + 1).alias("i"), (j + 1).alias("j"), (x * y).alias("xy")
                )
            ),
        )
    )
    return (
        emb.select(F.explode(cells).alias("c"))
        .filter(F.col("c.i") <= F.col("c.j"))
        .groupBy(
            F.col("c.i").cast("long").alias("i"),
            F.col("c.j").cast("long").alias("j"),
        )
        .agg(
            F.sum(F.col("c.xy").cast("decimal(30,10)")).cast("double").alias("g")
        )
    )


@query(
    "vdb_maxsim_late_interaction",
    oracle=f"""
WITH per_vec AS (
  SELECT label, vec_id,
         {sql_dot('embedding::DOUBLE[]', sql_vec(QUERY_VEC))} AS d1,
         {sql_dot('embedding::DOUBLE[]', sql_vec(QUERY_VEC2))} AS d2
  FROM embeddings
),
per_label AS (
  SELECT label, MAX(d1) AS m1, MAX(d2) AS m2
  FROM per_vec GROUP BY label
)
SELECT label, m1 + m2 AS maxsim_score
FROM per_label
ORDER BY maxsim_score DESC, label
LIMIT 5
""",
    tags=("vector", "maxsim", "late-interaction", "topk"),
)
def vdb_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style LATE INTERACTION scoring (MaxSim): the query is a
    SET of token vectors and each document a SET of token vectors;
    score(doc) = Σ_q max_d ⟨q, d⟩ — per query token, its best-matching
    document token. Here the label groups play the document role, their
    member embeddings the token role, and a 2-token query
    (QUERY_VEC/QUERY_VEC2) exercises the shape. This is the modern
    neural-retrieval operator single-vector search cannot express
    (fine-grained token alignment survives pooling).

    Exactness: each dot is the fold-stable per-row product; MAX is
    order-independent; the final score is ONE addition of two exact
    doubles in pinned order — hash-checkable with no tolerance.

    Plan shape at 100 TB: one scan computes all |Q| dots per token
    vector (column-pruned to the vector + group key), one
    map-side-combined MAX aggregation per (doc, query-token) — shuffle
    carries |docs|·|Q| partials, never token vectors — and a global
    top-k via TakeOrderedAndProject. |Q| is a query-time constant
    (~32 for ColBERT), so the scan stays single-pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_label = (
        emb.select(
            "label",
            dot_product("embedding", QUERY_VEC).alias("d1"),
            dot_product("embedding", QUERY_VEC2).alias("d2"),
        )
        .groupBy("label")
        .agg(F.max("d1").alias("m1"), F.max("d2").alias("m2"))
    )
    return (
        per_label.select(
            "label", (F.col("m1") + F.col("m2")).alias("maxsim_score")
        )
        .orderBy(F.desc("maxsim_score"), F.asc("label"))
        .limit(5)
    )


@query(
    "vdb_upsert_vectors",
    oracle=f"""
WITH upserted AS (
  SELECT vec_id,
         CASE WHEN vec_id % 31 = 0
              THEN list_transform({_EMB}, x -> -x)
              ELSE {_EMB} END AS e,
         CASE WHEN vec_id % 31 = 0 THEN label + 100 ELSE label END AS label
  FROM embeddings
)
SELECT vec_id, CAST(label AS BIGINT) AS label,
       {sql_dot('e', _Q)} AS similarity
FROM upserted
ORDER BY similarity DESC, vec_id LIMIT 5
""",
    tags=("vector", "dml", "upsert", "topk"),
)
def vdb_upsert_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store DML: re-embedding a slice of the corpus. Every 31st
    vector arrives as an update (embedding negated, label shifted by
    100 — a stand-in for "document re-embedded with a new model
    revision"), is MERGEd into the corpus by key through the same
    upsert operator the relational surface uses (operators/merge.py:
    update-wins full-outer merge), and a top-5 dot-product search runs
    over the post-merge corpus — exactly the refresh-then-serve cycle
    a production vector store runs continuously. The reference can
    only append (app.py:118, pd.concat); keyed update is part of the
    engine's extension surface (SURVEY.md §2b).

    Plan shape at 100 TB: the delta is a filtered scan of the corpus
    (in production: the incoming batch); the merge is one full-outer
    hash join on vec_id; the search afterwards is the standard narrow
    scan + TakeOrderedAndProject. With the corpus bucketed on vec_id
    (sources/writers.py:write_bucketed) the merge join is shuffle-free
    on the corpus side."""
    from quick_and_easy_vectordb_spark.operators.merge import upsert

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"), "label"
    )
    delta = emb.filter(F.col("vec_id") % 31 == 0).select(
        "vec_id",
        F.transform("e", lambda x: -x).alias("e"),
        (F.col("label") + 100).alias("label"),
    )
    merged = upsert(emb, delta, on="vec_id")
    return (
        merged.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            dot_product("e", QUERY_VEC).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "vdb_delete_vectors",
    oracle=f"""
SELECT vec_id, CAST(label AS BIGINT) AS label,
       {sql_dot(_EMB, _Q)} AS similarity
FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 13 = 0)
ORDER BY similarity DESC, vec_id LIMIT 5
""",
    tags=("vector", "dml", "delete", "topk"),
)
def vdb_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store DML: DELETE by tombstone set, then serve. Every
    13th vector is marked deleted (a stand-in for an external delete
    log — GDPR erasure, re-crawl retractions); the corpus is filtered
    by LEFT ANTI join against the tombstone keys and the standard
    top-5 dot search runs over the survivors. Completes the
    insert/update/delete DML triangle next to vdb_append_union and
    vdb_upsert_vectors; the reference can only append (app.py:118).

    Plan shape at 100 TB: the tombstone set is small relative to the
    corpus, so the anti join broadcasts it (one corpus scan, no
    shuffle); the subsequent search is the usual narrow scan +
    TakeOrderedAndProject top-k. With tombstones bucketed the anti
    join is shuffle-free even when the delete log is large."""
    emb = load_table(spark, sf_dir, "embeddings")
    tombstones = emb.filter(F.col("vec_id") % 13 == 0).select("vec_id")
    live = emb.join(F.broadcast(tombstones), "vec_id", "left_anti")
    return (
        live.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            dot_product("embedding", QUERY_VEC).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "vdb_centroid_routing",
    oracle=f"""
WITH el AS (
  SELECT label, pos.p - 1 AS pos, CAST(embedding[pos.p] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS p) pos
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(floor(v * 1073741824.0) AS BIGINT)) AS DOUBLE)
           / 1073741824.0 / COUNT(*) AS c,
         COUNT(*) AS n
  FROM el GROUP BY 1, 2
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(CAST(SUM(CAST(c * ({_Q})[pos + 1] AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         AS centroid_sim,
       MAX(n) AS n_members
FROM cent
GROUP BY label
ORDER BY centroid_sim DESC, label
LIMIT 5
""",
    tags=("vector", "centroid", "routing", "index-build"),
)
def vdb_centroid_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer ROUTING: build per-label centroids (the
    supervised analog of an IVF coarse codebook) and rank labels by
    centroid-to-query dot product — the first stage of any
    two-level vector index: route the query to the most promising
    partitions, then scan only those. ann_ivf_search does the probe
    side; this is the index-build side expressed as pure aggregation.

    Determinism: per-dimension means use the fixed-point trick
    (floor(v·2³⁰) longs — exact associative sums at any partitioning,
    matching ann_kmeans_one_iter); the 64-term centroid·query dot is
    a decimal-exact sum of per-position products, so both engines
    produce the bit-identical double.

    Plan shape at 100 TB: posexplode streams dim·N rows into ONE
    map-side-combined groupBy(label, pos) — shuffle carries
    O(labels·dim) partials, never vectors; the final rollup is
    O(labels) rows. This is the canonical 'train the index with a
    DataFrame job' pattern; the corpus is scanned exactly once."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = el.groupBy("label", "pos").agg(
        (
            F.sum(F.floor(F.col("v") * F.lit(1073741824.0)).cast("long"))
            .cast("double")
            / F.lit(1073741824.0)
            / F.count(F.lit(1))
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    q = vector_literal(QUERY_VEC)
    return (
        cent.select(
            F.col("label").cast("long").alias("label"),
            (F.col("c") * F.element_at(q, F.col("pos") + 1)).alias("term"),
            "n",
        )
        .groupBy("label")
        .agg(
            F.sum(F.col("term").cast("decimal(30,10)"))
            .cast("double")
            .alias("centroid_sim"),
            F.max("n").alias("n_members"),
        )
        .orderBy(F.desc("centroid_sim"), F.asc("label"))
        .limit(5)
    )


@query(
    "vdb_knn_graph",
    oracle=f"""
WITH src AS (
  SELECT vec_id, label, {_EMB} AS e FROM embeddings WHERE vec_id % 7 = 0
),
pairs AS (
  SELECT s.vec_id AS src_id, n.vec_id AS nbr_id,
         {sql_cosine('s.e', 'n.embedding::DOUBLE[]')} AS sim
  FROM src s JOIN embeddings n
    ON n.label = s.label AND n.vec_id <> s.vec_id
)
SELECT src_id, nbr_id, sim, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT src_id, nbr_id, sim,
         ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, nbr_id) AS rn
  FROM pairs
)
WHERE rn <= 3
""",
    tags=("vector", "knn-graph", "blocked-join"),
)
def vdb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH construction (k=3) — the substrate of graph-based
    ANN indexes (HNSW/NSG layers), embedding-cluster visualization,
    and label propagation. Every 7th vector is a graph node; its
    candidate neighbors are the vectors sharing its label — a BLOCKED
    self-join (the label plays the coarse-bucket role that LSH bands
    play in dedup_minhash_lsh), never the all-pairs product.

    Plan shape at 100 TB: one shuffle equi-join on the block key with
    both sides partitioned by label, cosine scored JVM-side inside
    the join, and the per-node top-3 taken by a WindowGroupLimit heap
    under the row_number — so per-block cost is |block|·|srcs in
    block| and the global plan is embarrassingly parallel across
    blocks. Skewed blocks would hit the same salting path as
    ev_salted_join; with LSH buckets as blocks this becomes the
    approximate k-NN-graph builder (NN-Descent's initialization)."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("src_id"),
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    pairs = src.join(
        emb.select(F.col("vec_id").alias("nbr_id"), "label", "embedding"),
        on=["label"],
    ).filter(F.col("nbr_id") != F.col("src_id"))
    scored = pairs.select(
        "src_id",
        "nbr_id",
        cosine_similarity("e", "embedding").alias("sim"),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


@query(
    "vdb_sparse_projection_search",
    oracle=f"""
WITH el AS (
  SELECT vec_id, pos.p - 1 AS pos, CAST(embedding[pos.p] AS DOUBLE) AS v
  FROM embeddings CROSS JOIN (SELECT unnest(range(1, {DIM} + 1)) AS p) pos
),
ranked AS (
  SELECT vec_id, pos, v,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY abs(v) DESC, pos) AS rn
  FROM el
)
SELECT vec_id,
       CAST(CAST(SUM(CAST(v * ({_Q})[pos + 1] AS DECIMAL(30,10))) AS VARCHAR)
            AS DOUBLE) AS sparse_score,
       COUNT(*) AS nnz
FROM ranked WHERE rn <= 8
GROUP BY vec_id
ORDER BY sparse_score DESC, vec_id
LIMIT 5
""",
    tags=("vector", "sparse", "pruning", "topk"),
)
def vdb_sparse_projection_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE-PROJECTION retrieval: keep only each vector's 8
    largest-magnitude components (a learned-sparse / SPLADE-style
    pruning, 8x less state than the dense vector) and score the query
    against the surviving (position, value) pairs. This is the dense
    half of hybrid sparse retrieval — the stored representation an
    inverted-index vector store (position → posting list) would hold.

    The Spark side is deliberately ZERO-SHUFFLE per row: the
    projection is array_sort with an explicit (|v| desc, pos asc)
    comparator + slice(8) + a decimal-exact fold — pure codegen'd
    array expressions inside the scan, then TakeOrderedAndProject.
    The oracle expresses the same selection relationally (row_number
    over exploded components) — two plans, one semantics, which is
    exactly what the hash compare certifies. Tiebreak on equal
    magnitudes is pinned by position in both.

    Plan shape at 100 TB: no explode, no window, no shuffle — the
    corpus is scanned once and only k survivors carry any weight;
    with the sparse pairs materialized at write time the scan reads
    1/8 the vector bytes and the same scoring plan serves."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    pairs = F.transform(
        e, lambda x, i: F.struct(F.abs(x).alias("a"), i.alias("pos"), x.alias("v"))
    )
    cmp = lambda l, r: (  # noqa: E731 — comparator for array_sort
        F.when(l.a > r.a, F.lit(-1))
        .when(l.a < r.a, F.lit(1))
        .when(l.pos < r.pos, F.lit(-1))
        .when(l.pos > r.pos, F.lit(1))
        .otherwise(F.lit(0))
    )
    kept = F.slice(F.array_sort(pairs, cmp), 1, 8)
    q = vector_literal(QUERY_VEC)
    terms = F.transform(kept, lambda s: s.v * F.element_at(q, s.pos + 1))
    score = F.aggregate(
        terms,
        F.lit(0).cast("decimal(30,10)"),
        # Decimal + widens the scale type per step; the re-cast keeps the
        # accumulator at (30,10) — exact, since 8 terms of |t| <= 32 can
        # never overflow 20 integer digits.
        lambda acc, t: (acc + t.cast("decimal(30,10)")).cast("decimal(30,10)"),
    ).cast("double")
    return (
        emb.select(
            "vec_id",
            score.alias("sparse_score"),
            F.size(kept).cast("long").alias("nnz"),
        )
        .orderBy(F.desc("sparse_score"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "vdb_corpus_stats",
    oracle=f"""
WITH n AS (
  SELECT label, sqrt({sql_dot(_EMB, _EMB)}) AS nrm FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       COUNT(*) AS n_vectors,
       MIN(nrm) AS min_norm,
       MAX(nrm) AS max_norm,
       CAST(CAST(SUM(CAST(nrm AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS mean_norm
FROM n GROUP BY label
""",
    tags=("vector", "stats", "index-health"),
)
def vdb_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health dashboard: per-partition (label) vector counts and
    L2-norm profile. The numbers an operator checks before trusting a
    vector index — empty or skewed cells mean a bad coarse quantizer,
    near-zero norms mean degenerate embeddings that poison cosine
    scores, and a drifting mean norm after a model refresh is the
    re-quantize signal. Per-row norms are the deterministic fold;
    min/max are order-free; the mean is a decimal-exact sum divided
    once.

    Plan shape at 100 TB: one narrow scan (key + vector), per-row norm
    inside codegen, ONE map-side-combined groupBy(label) — shuffle
    carries O(labels) partials."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select("label", l2_norm("embedding").alias("nrm"))
    return n.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        (
            F.sum(F.col("nrm").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_norm"),
    )


# ---------------------------------------------------------------------------
# Round 6: truncated-dimension retrieval + spectral building block
# ---------------------------------------------------------------------------

_MRL_PREFIX = 16
_MRL_SHORTLIST = 50
_Q16 = sql_vec(QUERY_VEC[:_MRL_PREFIX])


@query(
    "vdb_matryoshka_prefix_search",
    oracle=f"""
WITH scored AS (
  SELECT vec_id, embedding,
         list_dot_product((embedding::DOUBLE[])[1:{_MRL_PREFIX}], {_Q16}) AS prefix_score
  FROM embeddings
),
short AS (
  SELECT * FROM scored ORDER BY prefix_score DESC, vec_id LIMIT {_MRL_SHORTLIST}
)
SELECT vec_id, prefix_score,
       list_dot_product(embedding::DOUBLE[], {_Q}) AS similarity
FROM short
ORDER BY similarity DESC, vec_id
LIMIT 5
""",
    tags=("vector", "topk", "matryoshka", "ann"),
)
def vdb_matryoshka_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA (MRL, Kusupati et al. 2022) truncated-dimension
    retrieval: score on the FIRST 16 of 64 dims (MRL-trained
    embeddings front-load information, so the prefix preserves
    ranking), shortlist top-50, then rerank the shortlist with the
    full 64-dim dot product — the memory-bandwidth play every
    vector store now ships (4× fewer bytes per candidate scanned).

    Both stages are TakeOrderedAndProject over JVM-side
    expressions; slice + the dot kernel keeps the same sequential
    fold DuckDB's list_dot_product uses, so scores are
    bit-identical.

    Plan shape at 100 TB: stage 1 reads 16 of 64 components per row
    (the scan still fetches the column, but the fold is 4× shorter;
    with dimension-split storage the prefix would be its own column
    chunk); the top-50 heap never materializes a global sort. Stage 2
    scores exactly 50 rows. One wide scan, zero shuffles beyond the
    top-k reduction."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    scored = emb.select(
        "vec_id",
        "embedding",
        dot_product(F.slice(v, 1, _MRL_PREFIX), QUERY_VEC[:_MRL_PREFIX]).alias(
            "prefix_score"
        ),
    )
    short = scored.orderBy(F.desc("prefix_score"), F.asc("vec_id")).limit(
        _MRL_SHORTLIST
    )
    rer = short.select(
        "vec_id",
        "prefix_score",
        dot_product("embedding", QUERY_VEC).alias("similarity"),
    )
    return rer.orderBy(F.desc("similarity"), F.asc("vec_id")).limit(5)


_PI_SCALE = 16777216  # 2^24 fixed-point: floor(term * 2^24) is engine-exact


@query(
    "vdb_power_iteration_step",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {DIM} + 1)) AS pos),
d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_dot_product(embedding::DOUBLE[], {_Q}) AS dq
  FROM embeddings
),
t AS (
  SELECT pos.pos,
         CAST(floor(d.v[pos.pos] * d.dq * {_PI_SCALE}) AS DECIMAL(20,0)) AS term
  FROM d CROSS JOIN pos
)
SELECT CAST(pos AS INTEGER) AS pos,
       CAST(SUM(term) AS BIGINT) AS y_fixed
FROM t GROUP BY pos
""",
    tags=("vector", "linear-algebra", "pca", "agg"),
)
def vdb_power_iteration_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE POWER-ITERATION STEP toward the corpus's dominant principal
    direction: y = Σᵢ vᵢ(vᵢ·q) = (VᵀV)q — the matvec at the heart of
    PCA / spectral methods, computed WITHOUT materializing the Gram
    matrix (the vdb_gram_matrix twin materializes VᵀV; this folds the
    query through instead, O(N·d) work vs O(N·d²)).

    Exactness: vᵢ·q is the same sequential fold both engines use;
    each contribution vᵢⱼ·(vᵢ·q) is then FLOOR-quantized to 2⁻²⁴
    fixed point, so the per-component sum is an exact integer
    aggregation — immune to float summation order, the same
    fixed-point trick as ann_kmeans_one_iter and dedup_pagerank.
    DECIMAL(20,0) terms keep the running sum exact past 10⁹ rows.

    Plan shape at 100 TB: one scan computes the dot in codegen,
    posexplode fans out d rows per vector, and the groupBy(pos)
    aggregates with map-side partial sums — shuffle volume is
    O(partitions·d) longs, independent of N. Iterating multiplies
    plans, not state: each step is this same job with q := y/‖y‖."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.col("embedding").cast("array<double>").alias("v"),
        dot_product("embedding", QUERY_VEC).alias("dq"),
    )
    exploded = d.select(F.posexplode("v").alias("pos0", "val"), "dq")
    term = (
        F.floor(F.col("val") * F.col("dq") * F.lit(float(_PI_SCALE)))
        .cast("decimal(20,0)")
        .alias("term")
    )
    return (
        exploded.select((F.col("pos0") + 1).cast("int").alias("pos"), term)
        .groupBy("pos")
        .agg(F.sum("term").cast("long").alias("y_fixed"))
    )


@query(
    "vdb_reciprocal_knn_pairs",
    oracle=f"""
WITH nodes AS (
  SELECT vec_id, label, {_EMB} AS e FROM embeddings WHERE vec_id % 7 = 0
),
edges AS (
  SELECT src_id, nbr_id, label FROM (
    SELECT a.vec_id AS src_id, b.vec_id AS nbr_id, a.label,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY {sql_cosine('a.e', 'b.e')} DESC, b.vec_id) AS rn
    FROM nodes a JOIN nodes b
      ON b.label = a.label AND b.vec_id <> a.vec_id
  ) WHERE rn <= 3
)
SELECT e1.label,
       CAST(COUNT(*) AS BIGINT) AS n_mutual_pairs,
       CAST(MIN(e1.src_id) AS BIGINT) AS min_pair_src
FROM edges e1 JOIN edges e2
  ON e2.src_id = e1.nbr_id AND e2.nbr_id = e1.src_id
WHERE e1.src_id < e1.nbr_id
GROUP BY e1.label
""",
    tags=("vector", "knn-graph", "reciprocal", "mutual-knn"),
)
def vdb_reciprocal_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL (reciprocal) k-NN pairs per label block: i and j are a
    mutual pair when each lists the other in its top-3 neighbors —
    the high-precision edge set used for near-dup verification,
    reciprocal-rank-fusion graph pruning, and as the agreement
    backbone in k-NN-graph based clustering (mutual edges are far
    less likely to cross cluster boundaries than one-directional
    ones). Universe is the vec_id %% 7 node subset of vdb_knn_graph
    so both directions of every candidate edge exist.

    Plan shape at 100 TB: the k-NN edges come from the blocked
    label self-join (per-block quadratic, never all-pairs, same as
    vdb_knn_graph); mutuality is then ONE self-equi-join of the
    O(nodes*k) edge list on the reversed key — edge lists are tiny
    relative to vectors, and the join key (src,nbr) is uniform, so
    no skew handling is needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    nodes = emb.filter(F.col("vec_id") % 7 == 0).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    a = nodes.select(
        F.col("vec_id").alias("src_id"), "label", F.col("e").alias("ea")
    )
    b = nodes.select(F.col("vec_id").alias("nbr_id"), "label", F.col("e").alias("eb"))
    pairs = a.join(b, "label").filter(F.col("nbr_id") != F.col("src_id"))
    w = Window.partitionBy("src_id").orderBy(
        F.desc(cosine_similarity("ea", "eb")), F.asc("nbr_id")
    )
    edges = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src_id", "nbr_id", "label")
        .persist()  # O(nodes*k) edge list, read forward + reversed
    )
    e2 = edges.select(
        F.col("src_id").alias("r_nbr"), F.col("nbr_id").alias("r_src")
    )
    return (
        edges.filter(F.col("src_id") < F.col("nbr_id"))
        .join(
            e2,
            (F.col("src_id") == F.col("r_src")) & (F.col("nbr_id") == F.col("r_nbr")),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mutual_pairs"),
            F.min("src_id").cast("long").alias("min_pair_src"),
        )
    )


@query(
    "vdb_postfilter_search",
    oracle=f"""
WITH ranked AS (
  SELECT vec_id, {sql_cosine(_EMB, _Q)} AS score,
         ROW_NUMBER() OVER (ORDER BY {sql_cosine(_EMB, _Q)} DESC, vec_id)
           AS global_rank
  FROM embeddings
)
SELECT r.vec_id, r.score, CAST(r.global_rank AS BIGINT) AS global_rank
FROM ranked r
JOIN documents d ON d.doc_id = r.vec_id
WHERE r.global_rank <= 20 AND d.lang = 'en' AND d.n_chars >= 200
""",
    tags=("vector", "search", "post-filter", "topk"),
)
def vdb_postfilter_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POST-FILTER search — the other half of the filtered-ANN design
    space (vdb_filtered_search is the PRE-filter half): take the
    global top-20 by cosine FIRST, then apply the metadata predicate.
    Cheaper per query on a selective-index deployment (one global
    top-k probe, no filtered index needed) but RECALL-LOSSY: the
    result can hold fewer than k qualifying rows — exactly what this
    query's output documents (global_rank is kept so the surviving
    rows show where the filter bit). Production systems pick
    per-predicate: post-filter when the predicate passes most rows,
    pre-filter (or filtered cells) when selective. Shipping both
    strategies against the same oracle pins that the engine computes
    either semantics exactly.

    Plan shape at 100 TB: global top-20 is TakeOrderedAndProject
    (per-partition heap, 20-row reduce); the metadata join then
    touches 20 rows — a broadcast of the RESULT side, the inverse
    of pre-filter's broadcast of the id set."""
    emb = load_table(spark, sf_dir, "embeddings")
    ranked = (
        emb.select(
            "vec_id", cosine_similarity("embedding", QUERY_VEC).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(20)
        .withColumn(
            "global_rank",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("vec_id"))
            ).cast("long"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 200)
    )
    return ranked.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id"
    ).select("vec_id", "score", "global_rank")


@query(
    "vdb_norm_pruned_search",
    oracle=f"""
WITH scored AS (
  SELECT vec_id, {sql_dot(_EMB, _Q)} AS score,
         sqrt({sql_dot(_EMB, _EMB)}) AS xnorm
  FROM embeddings
),
top5 AS (
  SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 5
),
thresh AS (SELECT MIN(score) AS tau FROM top5),
qn AS (SELECT sqrt({sql_dot(sql_vec(QUERY_VEC), sql_vec(QUERY_VEC))}) AS qnorm)
SELECT t.vec_id, t.score,
       CAST((SELECT COUNT(*) FROM scored s, thresh, qn
             WHERE s.xnorm * qn.qnorm >= thresh.tau) AS BIGINT)
         AS n_must_scan,
       CAST((SELECT COUNT(*) FROM scored) AS BIGINT) AS n_total
FROM top5 t
""",
    tags=("vector", "search", "norm-pruning", "cauchy-schwarz"),
)
def vdb_norm_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORM-BOUNDED exact search — the Cauchy–Schwarz pruning every
    exact MIPS engine applies before touching vector data:
    dot(q, x) <= ||q||*||x||, so once a candidate top-k threshold tau
    exists, any vector with ||x|| < tau/||q|| PROVABLY cannot enter
    the result and its components never need reading. The output is
    the exact top-5 (identical to vdb_topk_dot — pruning is lossless)
    plus the audit columns: how many vectors the bound forces a scan
    of vs the corpus size — the I/O-savings certificate. In a stored
    index, ||x|| is a precomputed 8-byte column and the prune is a
    scan-range predicate on a norm-sorted layout.

    Plan shape at 100 TB: norms come from the same single pass that
    scores (here); deployed, phase 1 seeds tau from the norm-ordered
    head (top-k of a tiny prefix) and phase 2 is a pushed-down
    ||x|| >= tau/||q|| scan filter — both phases TakeOrdered, no
    shuffle of vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        dot_product("embedding", QUERY_VEC).alias("score"),
        l2_norm("embedding").alias("xnorm"),
    ).persist()  # one scoring pass feeds top-k, threshold, and audit
    top5 = scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)
    # ||q|| via the SAME sequential fold the oracle's list_dot_product
    # mirrors — a Python math.sqrt(sum(...)) could differ by an ulp
    # and flip the boundary count.
    qnorm = l2_norm(QUERY_VEC)
    thresh = top5.agg(F.min("score").alias("tau"))
    audit = (
        scored.crossJoin(F.broadcast(thresh))
        .agg(
            F.count(
                F.when(F.col("xnorm") * qnorm >= F.col("tau"), 1)
            )
            .cast("long")
            .alias("n_must_scan"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )
    return top5.select("vec_id", "score").crossJoin(F.broadcast(audit))


_RP_DIMS = 16
_RP_TOPC = 20


def _rp_planes() -> list[list[float]]:
    from quick_and_easy_vectordb_spark.operators.ann import hyperplane

    return [hyperplane(100 + j, DIM) for j in range(_RP_DIMS)]


def _rp_oracle() -> str:
    planes = _rp_planes()
    proj = lambda col: ", ".join(  # noqa: E731
        sql_dot(col, sql_vec(p)) for p in planes
    )
    # the projected query enters BOTH engines as the same 17-digit
    # exponent literals (computed once here in Python) — computing it
    # per-engine would hinge on two fold implementations agreeing to
    # the last ulp, the divergence class queries/common.py documents.
    qproj = ", ".join(
        f"{sum(float(a) * float(b) for a, b in zip(QUERY_VEC, p)):.17e}"
        for p in planes
    )
    prod = " + ".join(f"px[{j + 1}] * qx[{j + 1}]" for j in range(_RP_DIMS))
    return f"""
WITH pr AS (
  SELECT vec_id, embedding, [{proj('{e}')}] AS px, [{qproj}] AS qx
  FROM embeddings
),
approx AS (
  SELECT vec_id, embedding, ({prod}) AS proj_score
  FROM pr
),
cand AS (
  SELECT vec_id, embedding, proj_score,
         ROW_NUMBER() OVER (ORDER BY proj_score DESC, vec_id) AS prank
  FROM approx
)
SELECT vec_id, {sql_dot(_EMB, _Q)} AS score,
       CAST(prank AS BIGINT) AS proj_rank
FROM cand WHERE prank <= {_RP_TOPC}
ORDER BY score DESC, vec_id LIMIT 5
""".replace("{e}", _EMB)


@query(
    "vdb_random_projection_search",
    oracle=_rp_oracle(),
    tags=("vector", "random-projection", "johnson-lindenstrauss", "rerank"),
)
def vdb_random_projection_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOM-PROJECTION retrieval (Johnson–Lindenstrauss): vectors
    compress 64 → 16 dims through a fixed hyperplane matrix, the
    top-20 candidates are taken by PROJECTED dot product (16
    multiplies vs 64 — the 4x-cheaper first pass, and the 4x-smaller
    column a first-pass scan would read from disk), then exact-scored
    and top-5'd — the third compression family on the shelf next to
    scalar quantization (SQ8/int4: fewer bits per dim) and Matryoshka
    (prefix dims): JL mixes ALL input dims into each output dim, so
    it degrades gracefully where prefix truncation is biased by dim
    order. proj_rank is kept so the candidate stage is visible in
    the verified output.

    Plan shape at 100 TB: the projection is a scan-side transform
    (broadcast literal matrix), candidates come from ONE
    TakeOrderedAndProject over projected scores, and only 20 rows
    reach the exact scorer — in a stored deployment the 16-dim
    column is materialized at write time and the 64-dim vector is
    fetched per candidate only."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _rp_planes()
    px = [dot_product("embedding", p) for p in planes]
    qx = [
        sum(float(a) * float(b) for a, b in zip(QUERY_VEC, p)) for p in planes
    ]
    # proj_score via the same left-to-right add chain the oracle's
    # px[1]*qx[1] + ... literal expression uses; qx values are exact
    # Python dots of literal lists — identical to the oracle's
    # sql_dot over the same literals by the shared-fold guarantee.
    proj_score = px[0] * F.lit(qx[0])
    for j in range(1, _RP_DIMS):
        proj_score = proj_score + px[j] * F.lit(qx[j])
    cand = (
        emb.select("vec_id", "embedding", proj_score.alias("proj_score"))
        .orderBy(F.desc("proj_score"), F.asc("vec_id"))
        .limit(_RP_TOPC)
        .withColumn(
            "proj_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("proj_score"), F.asc("vec_id")))
            .cast("long"),
        )
    )
    return (
        cand.select(
            "vec_id",
            dot_product("embedding", QUERY_VEC).alias("score"),
            "proj_rank",
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


# --------------------------------------------------------------------------
# Round 7: scatter-gather shard search + retrieval-quality metrics
# --------------------------------------------------------------------------

_SHARDS = 8


@query(
    "vdb_shard_topk_merge",
    oracle=f"""
WITH scored AS (
  SELECT vec_id, vec_id % {_SHARDS} AS shard,
         {sql_cosine(_EMB, _Q)} AS similarity
  FROM embeddings
)
SELECT vec_id, CAST(shard AS BIGINT) AS shard, similarity
FROM scored ORDER BY similarity DESC, vec_id LIMIT 10
""",
    tags=("vector", "topk", "shard", "scatter-gather"),
)
def vdb_shard_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCATTER-GATHER shard search — the serving topology of every
    distributed vector store (and of Spark's own TakeOrdered,
    made explicit here as an operator): the corpus is hash-sharded
    (vec_id % 8 — in production, the partitioning of the index
    files), each shard computes its LOCAL top-k with a per-shard
    heap, and the global answer is the top-k of the 8·k survivors.
    Correct by the standard argument: any global top-k row is a
    top-k row of its own shard, so the merge set contains the
    answer. Result is IDENTICAL to the unsharded query — the oracle
    is simply the global top-10, which is the point.

    Plan shape at 100 TB: the per-shard ranking is a window with
    rank ≤ k, which Spark executes as WindowGroupLimit — a bounded
    per-partition heap BEFORE the shard shuffle, so each of the 1000
    executors ships at most shards·k rows; the final merge sorts
    8·k = 80 rows. The vector column never leaves the scan stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        (F.col("vec_id") % _SHARDS).cast("long").alias("shard"),
        cosine_similarity("embedding", QUERY_VEC).alias("similarity"),
    )
    w = Window.partitionBy("shard").orderBy(F.desc("similarity"), F.asc("vec_id"))
    local = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )
    return local.orderBy(F.desc("similarity"), F.asc("vec_id")).limit(10)


def _ndcg_literals() -> tuple[list[float], list[float]]:
    """Rank-discount table 1/log2(i+1) for i=1..10 and its prefix sums
    (leading 0 for the R=0 case). Rendered as IDENTICAL double
    literals into both the Spark plan and the DuckDB oracle, so no
    cross-engine log() evaluation ever happens."""
    import math

    disc = [1.0 / math.log2(i + 1) for i in range(1, 11)]
    cum = [0.0]
    for d in disc:
        cum.append(cum[-1] + d)
    return disc, cum


_DISC, _CUMDISC = _ndcg_literals()


@query(
    "vdb_retrieval_metrics",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < 5
),
labcnt AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
scored AS (
  SELECT q.query_id, q.qlabel, c.vec_id, c.label,
         {sql_cosine('c.embedding::DOUBLE[]', 'q.qv')} AS score
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, qlabel, label, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rn
  FROM scored
),
top AS (
  SELECT query_id, qlabel,
         CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel, rn
  FROM ranked WHERE rn <= 10
),
per AS (
  SELECT query_id, qlabel,
         CAST(SUM(rel) AS BIGINT) AS n_rel_at_10,
         CAST(SUM(rel) AS DOUBLE) / 10 AS p_at_10,
         CASE WHEN MIN(CASE WHEN rel = 1 THEN rn END) IS NULL
              THEN CAST(0 AS DOUBLE)
              ELSE CAST(1 AS DOUBLE) / MIN(CASE WHEN rel = 1 THEN rn END)
         END AS mrr,
         CAST(CAST(SUM(CAST(
           rel * list_extract({sql_vec(_DISC)}, rn)
           AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS dcg
  FROM top GROUP BY query_id, qlabel
)
SELECT per.query_id,
       CAST(labcnt.n - 1 AS BIGINT) AS n_rel_corpus,
       per.n_rel_at_10, per.p_at_10, per.mrr,
       CASE WHEN labcnt.n - 1 = 0 THEN CAST(0 AS DOUBLE)
            ELSE per.dcg / list_extract({sql_vec(_CUMDISC)},
                 CAST(LEAST(labcnt.n - 1, 10) + 1 AS INTEGER))
       END AS ndcg_at_10
FROM per JOIN labcnt ON labcnt.label = per.qlabel
""",
    tags=("vector", "evaluation", "ndcg", "mrr"),
)
def vdb_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality EVALUATION — NDCG@10, MRR, and precision@10
    per query, with label agreement as graded relevance (the
    eval harness every embedding-model upgrade runs before swapping
    the index; extends ann_recall_at_k/ann_pq_recall, which only
    measure self-recall of the ANN structure, to ranking QUALITY
    against ground truth). The rank discount 1/log2(rank+1) and its
    prefix sums are PRECOMPUTED double literals injected into both
    engines, so no cross-engine transcendental evaluation is ever
    compared; DCG sums its ≤10 exact terms in decimal; IDCG is a
    prefix-sum lookup at min(|relevant corpus|, 10).

    Plan shape at 100 TB: the 5-query panel broadcasts over a single
    corpus scan (the vdb_batch_knn shape — for large panels the
    LSH-bucketed equi-join variant applies); per-query ranking is
    WindowGroupLimit-bounded; label marginals are one map-side count
    broadcast back. Metric arithmetic happens on 50 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    labcnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            "label",
            cosine_similarity("embedding", "qv").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "query_id",
            "qlabel",
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
            "rn",
        )
    )
    disc = F.array(*[F.lit(d) for d in _DISC])
    cumdisc = F.array(*[F.lit(d) for d in _CUMDISC])
    per = top.groupBy("query_id", "qlabel").agg(
        F.sum("rel").cast("long").alias("n_rel_at_10"),
        (F.sum("rel").cast("double") / 10).alias("p_at_10"),
        F.coalesce(
            F.lit(1).cast("double")
            / F.min(F.when(F.col("rel") == 1, F.col("rn"))),
            F.lit(0).cast("double"),
        ).alias("mrr"),
        F.sum(
            (F.col("rel") * F.element_at(disc, F.col("rn"))).cast(
                "decimal(30,10)"
            )
        )
        .cast("double")
        .alias("dcg"),
    )
    joined = per.join(
        F.broadcast(labcnt), per.qlabel == labcnt.label
    )
    r = F.col("n") - 1
    return joined.select(
        "query_id",
        r.cast("long").alias("n_rel_corpus"),
        "n_rel_at_10",
        "p_at_10",
        "mrr",
        F.when(r == 0, F.lit(0).cast("double"))
        .otherwise(
            F.col("dcg")
            / F.element_at(cumdisc, (F.least(r, F.lit(10)) + 1).cast("int"))
        )
        .alias("ndcg_at_10"),
    )


_ALPHA = 0.7
_BETA = 1 - _ALPHA  # computed ONCE in python; 1-0.7 differs by 1 ulp
# from the decimal literal 0.3, so both engines get the same rendered
# double (exponent form parses as DOUBLE in DuckDB, not DECIMAL)


@query(
    "vdb_hybrid_score_blend",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
  FROM documents
),
lex AS (
  SELECT doc_id,
         CAST({" + ".join(f"len(list_filter(w, x -> x = '{t}'))" for t in _HYBRID_TERMS)}
              AS BIGINT) AS lex_score
  FROM toks
),
vec AS (
  SELECT vec_id AS doc_id, {sql_cosine(_EMB, _Q)} AS cos FROM embeddings
),
joined AS (
  SELECT l.doc_id, CAST(l.lex_score AS DOUBLE) AS lex, v.cos
  FROM lex l JOIN vec v ON v.doc_id = l.doc_id
),
ext AS (
  SELECT MIN(lex) AS lo_l, MAX(lex) AS hi_l,
         MIN(cos) AS lo_c, MAX(cos) AS hi_c
  FROM joined
),
blended AS (
  SELECT j.doc_id,
         {_ALPHA:.17e} * ((j.cos - e.lo_c) / (e.hi_c - e.lo_c))
           + {_BETA:.17e} * ((j.lex - e.lo_l) / (e.hi_l - e.lo_l))
           AS blended
  FROM joined j CROSS JOIN ext e
)
SELECT doc_id, blended FROM blended ORDER BY blended DESC, doc_id LIMIT 10
""",
    tags=("vector", "hybrid", "score-blend", "topk"),
)
def vdb_hybrid_score_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID SEARCH via α-weighted score blending — the OTHER
    standard fusion (vdb_hybrid_rrf is rank-based): each leg's score
    is min-max normalized to [0,1] over the candidate set and
    combined as α·vec + (1−α)·lex with α = 0.7 — the tunable
    lexical/semantic dial every hybrid vector store exposes.
    Normalization bounds are a 1-row global aggregate broadcast back
    (the same two-pass shape as ev_winsorize_trimmed_stats); all
    arithmetic is a fixed double expression tree, so the hash pins it
    bit-exactly.

    Plan shape at 100 TB: both legs are scan-side scores (no
    shuffle), the bounds are one map-side-combined 1-row aggregate,
    and the final top-10 is TakeOrderedAndProject. At serving time
    the bounds come from the index's stored statistics and the
    second pass disappears."""
    from quick_and_easy_vectordb_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    w = tokens("text")
    lex_score = None
    for t in _HYBRID_TERMS:
        term = F.size(F.filter(w, lambda x: x == F.lit(t)))  # noqa: B023
        lex_score = term if lex_score is None else lex_score + term
    lex = docs.select("doc_id", lex_score.cast("double").alias("lex"))
    emb = load_table(spark, sf_dir, "embeddings")
    vec = emb.select(
        F.col("vec_id").alias("doc_id"),
        cosine_similarity("embedding", QUERY_VEC).alias("cos"),
    )
    joined = lex.join(vec, "doc_id")
    ext = joined.agg(
        F.min("lex").alias("lo_l"),
        F.max("lex").alias("hi_l"),
        F.min("cos").alias("lo_c"),
        F.max("cos").alias("hi_c"),
    )
    blended = joined.crossJoin(F.broadcast(ext)).select(
        "doc_id",
        (
            F.lit(_ALPHA)
            * ((F.col("cos") - F.col("lo_c")) / (F.col("hi_c") - F.col("lo_c")))
            + F.lit(_BETA)
            * ((F.col("lex") - F.col("lo_l")) / (F.col("hi_l") - F.col("lo_l")))
        ).alias("blended"),
    )
    return blended.orderBy(F.desc("blended"), F.asc("doc_id")).limit(10)


_COV_DIMS = 8  # leading dims in the moment matrix (36 upper-tri pairs)


def _cov_oracle() -> str:
    qs = ", ".join(
        f"CAST(ROUND(CAST(embedding[{k + 1}] AS DOUBLE) * 1000) AS BIGINT)"
        for k in range(_COV_DIMS)
    )
    return f"""
WITH q AS (SELECT [{qs}] AS qs FROM embeddings),
p AS (SELECT CAST(a.i AS BIGINT) AS i, CAST(b.j AS BIGINT) AS j
      FROM range({_COV_DIMS}) a(i), range({_COV_DIMS}) b(j)
      WHERE a.i <= b.j),
a AS (
  SELECT p.i, p.j,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qs[CAST(p.i + 1 AS INTEGER)]) AS BIGINT) AS s_i,
         CAST(SUM(qs[CAST(p.j + 1 AS INTEGER)]) AS BIGINT) AS s_j,
         CAST(SUM(qs[CAST(p.i + 1 AS INTEGER)]
                  * qs[CAST(p.j + 1 AS INTEGER)]) AS BIGINT) AS s_ij
  FROM q, p GROUP BY p.i, p.j
)
SELECT i, j, n, s_i, s_j, s_ij,
       (CAST(s_ij AS DOUBLE)
          - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE) / n) / n
         / 1000000.0 AS cov
FROM a
"""


@query(
    "vdb_embedding_covariance",
    oracle=_cov_oracle(),
    tags=("vector", "covariance", "moments", "pca-substrate"),
)
def vdb_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT COVARIANCE MOMENT MATRIX over the leading {_COV_DIMS}
    embedding dimensions — the sufficient statistics PCA / whitening /
    Mahalanobis scoring start from. Each coordinate is quantized to
    integer milli-units (`round(x*1000)`) so every moment
    (n, Σqᵢ, Σqⱼ, Σqᵢqⱼ) is a pure INTEGER sum — associative, order-
    independent, bit-identical under any partitioning — and the
    covariance itself is derived per pair by one fixed float
    expression `(s_ij - s_i*s_j/n)/n/1e6`. (At 100-TB row counts the
    int64 product sums approach overflow; the production form swaps
    the same expressions to decimal(38,0) — one config, same plan.
    The companion one-shot power iteration is
    vdb_power_iteration_step.)

    Plan shape at 100 TB: ONE map-side-combined global aggregate
    computes all {_COV_DIMS + _COV_DIMS * (_COV_DIMS + 1) // 2 + 1}
    moments in a single pass over the scan (no per-pair passes, no
    shuffle of vectors — partial-agg rows are one fixed-width tuple
    per task); the 36-row moment matrix then unfolds driver-free via
    an inline stack."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        *[
            F.round(F.col("embedding").getItem(k).cast("double") * 1000)
            .cast("long")
            .alias(f"q{k}")
            for k in range(_COV_DIMS)
        ]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for k in range(_COV_DIMS):
        aggs.append(F.sum(F.col(f"q{k}")).cast("long").alias(f"s{k}"))
    pairs = [
        (i, j) for i in range(_COV_DIMS) for j in range(_COV_DIMS) if i <= j
    ]
    for i, j in pairs:
        aggs.append(
            F.sum(F.col(f"q{i}") * F.col(f"q{j}"))
            .cast("long")
            .alias(f"p{i}_{j}")
        )
    one = q.agg(*aggs)
    unfolded = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("i"),
                        F.lit(j).cast("long").alias("j"),
                        F.col("n").alias("n"),
                        F.col(f"s{i}").alias("s_i"),
                        F.col(f"s{j}").alias("s_j"),
                        F.col(f"p{i}_{j}").alias("s_ij"),
                    )
                    for i, j in pairs
                ]
            )
        ).alias("m")
    ).select("m.*")
    return unfolded.withColumn(
        "cov",
        (
            F.col("s_ij").cast("double")
            - F.col("s_i").cast("double")
            * F.col("s_j").cast("double")
            / F.col("n")
        )
        / F.col("n")
        / F.lit(1000000.0),
    )


@query(
    "vdb_mips_augmented_search",
    oracle=f"""
WITH b AS (
  SELECT vec_id, {sql_dot(_EMB, _Q)} AS dp,
         {sql_dot(_EMB, _EMB)} AS dvv
  FROM embeddings
),
m AS (SELECT MAX(dvv) AS m2 FROM b),
s AS (
  SELECT vec_id, dp,
         dp / (sqrt(list_dot_product({_Q}, {_Q}))
               * sqrt(dvv + sqrt(m2 - dvv) * sqrt(m2 - dvv))) AS cos_aug
  FROM b, m
),
ta AS (
  SELECT vec_id, dp, cos_aug,
         ROW_NUMBER() OVER (ORDER BY cos_aug DESC, vec_id) AS rank
  FROM s ORDER BY cos_aug DESC, vec_id LIMIT 5
),
td AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY dp DESC, vec_id) AS dot_rank
  FROM s ORDER BY dp DESC, vec_id LIMIT 5
)
SELECT ta.rank, ta.vec_id, ta.dp AS dot, ta.cos_aug,
       td.dot_rank, COALESCE(ta.rank = td.dot_rank, FALSE) AS ranks_match
FROM ta LEFT JOIN td ON ta.vec_id = td.vec_id
""",
    tags=("vector", "search", "mips", "augmentation", "ann-transform"),
)
def vdb_mips_augmented_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS→COSINE AUGMENTATION (Bachrach et al. 2014 / the
    Shrivastava-Li ALSH family): maximum-inner-product search does
    not satisfy the triangle inequality, so cosine/L2-based ANN
    indexes (LSH, IVF — ann.py) cannot serve it directly. The
    standard reduction appends one coordinate `a_v = sqrt(M² −
    ‖v‖²)` (M = max corpus norm, a one-row broadcast aggregate) so
    every augmented vector has identical norm M and the augmented
    [q,0]-cosine ORDER equals the raw dot-product order — proven in
    the output by ranking BOTH ways and emitting `ranks_match` per
    row. After this transform the whole LSH/IVF index surface
    becomes MIPS-capable with zero further changes.

    Plan shape at 100 TB: one narrow scan computes ⟨v,q⟩ and ‖v‖²
    together; the max-norm M is a scalar broadcast (no second scan —
    same cached base frame feeds both); both top-5s are
    TakeOrderedAndProject heaps; the rank-comparison join touches 5
    rows. Augmentation adds NO shuffle anywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        dot_product("embedding", QUERY_VEC).alias("dp"),
        dot_product("embedding", "embedding").alias("dvv"),
    ).persist()
    m2 = base.agg(F.max("dvv").alias("m2"))
    av = F.sqrt(F.col("m2") - F.col("dvv"))
    s = base.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        "dp",
        (
            F.col("dp")
            / (
                l2_norm(QUERY_VEC)
                * F.sqrt(F.col("dvv") + av * av)
            )
        ).alias("cos_aug"),
    )
    wa = Window.orderBy(F.desc("cos_aug"), "vec_id")
    wd = Window.orderBy(F.desc("dp"), "vec_id")
    ta = (
        s.orderBy(F.desc("cos_aug"), "vec_id")
        .limit(5)
        .withColumn("rank", F.row_number().over(wa).cast("long"))
    )
    td = (
        s.orderBy(F.desc("dp"), "vec_id")
        .limit(5)
        .select(
            F.col("vec_id").alias("d_vec_id"),
            F.row_number().over(wd).cast("long").alias("dot_rank"),
        )
    )
    return ta.join(
        F.broadcast(td), ta["vec_id"] == td["d_vec_id"], "left"
    ).select(
        "rank",
        "vec_id",
        F.col("dp").alias("dot"),
        "cos_aug",
        "dot_rank",
        F.coalesce(F.col("rank") == F.col("dot_rank"), F.lit(False)).alias(
            "ranks_match"
        ),
    )


@query(
    "vdb_batch_knn_ivf",
    oracle=f"""
WITH pos AS (SELECT unnest(range(0, {DIM})) AS pos),
ce AS (
  SELECT label, pos.pos AS pos,
         CAST(CAST(SUM(CAST(CAST(embedding[pos.pos + 1] AS DOUBLE)
                            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c
  FROM embeddings CROSS JOIN pos GROUP BY 1, 2
),
q AS (
  SELECT vec_id AS query_id, {_EMB} AS qv FROM embeddings
  WHERE vec_id % 97 = 0
),
rd AS (
  SELECT q.query_id, ce.label,
         CAST(CAST(SUM(CAST((q.qv[ce.pos + 1] - ce.c)
                            * (q.qv[ce.pos + 1] - ce.c)
                            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS d2
  FROM q CROSS JOIN ce GROUP BY 1, 2
),
routes AS (
  SELECT query_id, label FROM (
    SELECT query_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d2, label) AS rn
    FROM rd) WHERE rn <= 2
),
scored AS (
  SELECT r.query_id, e.vec_id AS corpus_id,
         {sql_cosine("q.qv", _EMB)} AS score
  FROM routes r
  JOIN q ON q.query_id = r.query_id
  JOIN embeddings e ON e.label = r.label AND e.vec_id <> r.query_id
)
SELECT query_id, corpus_id,
       CAST(rnk AS BIGINT) AS rank, score
FROM (
  SELECT query_id, corpus_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, corpus_id) AS rnk
  FROM scored)
WHERE rnk <= 3
""",
    tags=("vector", "batch-knn", "ivf-routing", "equi-join", "topk"),
)
def vdb_batch_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH kNN via IVF cell routing — the third batch-retrieval
    plan in the family: vdb_batch_knn broadcasts a tiny query set
    (small-Q path), vdb_batch_knn_lsh equi-joins on hash buckets
    (metric-agnostic large-Q path), and this one routes each query
    to its nprobe=2 nearest CENTROID cells and equi-joins queries to
    corpus on the cell id — the shape a production vector service
    runs when it already maintains an IVF index: candidate volume is
    |Q| * nprobe * |cell| with cells chosen by geometry, not hash
    luck, so recall per candidate is higher than LSH at equal cost.

    The ~1%-of-corpus query set (vec_id % 97 = 0) is large enough
    that a broadcast-NL plan would be wrong; the routing table is
    |Q| x 2 rows, and the corpus partitions once by label on the
    candidate join. Per-query top-3 is a WindowGroupLimit heap under
    the (score DESC, corpus_id) total order; centroid distances use
    the pinned decimal-sum class, so routing is bit-deterministic.

    Plan shape at 100 TB: one O(labels x dim) centroid aggregate
    (broadcast), one |Q|-row window for routing, ONE shuffle of the
    corpus keyed by cell for the candidate equi-join, per-cell heaps.
    No all-pairs product anywhere; skew = hot cells, handled by the
    same salting path as ev_salted_join if a cell outgrows its
    executor."""
    from quick_and_easy_vectordb_spark.operators.ann import centroids_by_key

    emb = load_table(spark, sf_dir, "embeddings")
    cent = centroids_by_key(emb, "embedding", "label")
    q = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    qv_at = F.element_at(F.col("qv"), F.col("pos") + 1)
    rd = (
        q.crossJoin(
            F.broadcast(
                cent.select("key", F.posexplode("centroid").alias("pos", "c"))
            )
        )
        .withColumn("diff2", (qv_at - F.col("c")) * (qv_at - F.col("c")))
        .groupBy("query_id", F.col("key").alias("label"))
        .agg(
            F.sum(F.col("diff2").cast("decimal(30,10)"))
            .cast("string")
            .cast("double")
            .alias("d2")
        )
    )
    wr = Window.partitionBy("query_id").orderBy("d2", "label")
    routes = (
        rd.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 2)
        .select("query_id", "label")
    )
    cand = (
        routes.join(q, "query_id")
        .join(
            emb.select(
                F.col("vec_id").alias("corpus_id"),
                "label",
                F.col("embedding").cast("array<double>").alias("cv"),
            ),
            "label",
        )
        .filter(F.col("corpus_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        "corpus_id",
        cosine_similarity("qv", "cv").alias("score"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "corpus_id", "rank", "score")
    )


@query(
    "vdb_knn_classifier_eval",
    oracle=f"""
WITH pos AS (SELECT unnest(range(0, {DIM})) AS pos),
ce AS (
  SELECT label, pos.pos AS pos,
         CAST(CAST(SUM(CAST(CAST(embedding[pos.pos + 1] AS DOUBLE)
                            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c
  FROM embeddings CROSS JOIN pos
  WHERE vec_id % 97 <> 0
  GROUP BY 1, 2
),
q AS (
  SELECT vec_id AS query_id, label AS true_label, {_EMB} AS qv
  FROM embeddings WHERE vec_id % 97 = 0
),
rd AS (
  SELECT q.query_id, ce.label,
         CAST(CAST(SUM(CAST((q.qv[ce.pos + 1] - ce.c)
                            * (q.qv[ce.pos + 1] - ce.c)
                            AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS d2
  FROM q CROSS JOIN ce GROUP BY 1, 2
),
routes AS (
  SELECT query_id, label FROM (
    SELECT query_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d2, label) AS rn
    FROM rd) WHERE rn <= 2
),
nbr AS (
  SELECT r.query_id, e.vec_id AS nbr_id, e.label AS nbr_label,
         {sql_cosine("q.qv", _EMB)} AS score
  FROM routes r
  JOIN q ON q.query_id = r.query_id
  JOIN embeddings e ON e.label = r.label AND e.vec_id % 97 <> 0
),
top5 AS (
  SELECT query_id, nbr_label FROM (
    SELECT query_id, nbr_label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, nbr_id) AS rnk
    FROM nbr) WHERE rnk <= 5
),
vote AS (
  SELECT query_id, nbr_label AS pred, CAST(COUNT(*) AS BIGINT) AS votes
  FROM top5 GROUP BY 1, 2
),
pred AS (
  SELECT query_id, pred FROM (
    SELECT query_id, pred,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY votes DESC, pred) AS vr
    FROM vote) WHERE vr = 1
)
SELECT q.true_label,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN p.pred = q.true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN p.pred = q.true_label THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS accuracy
FROM q JOIN pred p ON p.query_id = q.query_id
GROUP BY q.true_label
""",
    tags=("vector", "knn-classifier", "evaluation", "ivf-routing"),
)
def vdb_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN CLASSIFIER evaluation — the oldest use of a vector index,
    run honestly: every 97th vector is HELD OUT as a test point, the
    index (centroids AND candidate pool) is built from the remaining
    train split only, each test point routes to its nprobe=2 nearest
    train centroids, takes its top-5 cosine neighbors there, and
    majority-votes their labels (ties -> smaller label); per true
    label the report gives exact n/correct/accuracy. Routing by
    TRAIN centroids (not the test point's own label) is what keeps
    the evaluation honest — label-blocked candidate generation would
    leak ground truth into retrieval.

    Every cutoff is a deterministic total order and the centroid
    distances ride the pinned decimal-sum class, so the full
    train/route/vote/score cascade hash-matches bitwise.

    Plan shape at 100 TB: identical to vdb_batch_knn_ivf (broadcast
    centroid aggregate, |Q|x2 routing rows, one corpus shuffle by
    cell, per-query WindowGroupLimit heaps) plus one O(Q) vote
    groupBy — classification adds bookkeeping, not shuffle
    classes."""
    from quick_and_easy_vectordb_spark.operators.ann import centroids_by_key

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 97 != 0)
    cent = centroids_by_key(train, "embedding", "label")
    q = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    qv_at = F.element_at(F.col("qv"), F.col("pos") + 1)
    rd = (
        q.crossJoin(
            F.broadcast(
                cent.select("key", F.posexplode("centroid").alias("pos", "c"))
            )
        )
        .withColumn("diff2", (qv_at - F.col("c")) * (qv_at - F.col("c")))
        .groupBy("query_id", F.col("key").alias("label"))
        .agg(
            F.sum(F.col("diff2").cast("decimal(30,10)"))
            .cast("string")
            .cast("double")
            .alias("d2")
        )
    )
    wr = Window.partitionBy("query_id").orderBy("d2", "label")
    routes = (
        rd.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 2)
        .select("query_id", "label")
    )
    nbr = (
        routes.join(q, "query_id")
        .join(
            train.select(
                F.col("vec_id").alias("nbr_id"),
                "label",
                F.col("embedding").cast("array<double>").alias("cv"),
            ),
            "label",
        )
        .select(
            "query_id",
            "nbr_id",
            F.col("label").alias("nbr_label"),
            cosine_similarity("qv", "cv").alias("score"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("nbr_id")
    )
    top5 = (
        nbr.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= 5)
    )
    vote = top5.groupBy("query_id", F.col("nbr_label").alias("pred")).agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("pred"))
    pred = (
        vote.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "pred")
    )
    return (
        q.join(pred, "query_id")
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("pred") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            (
                F.sum(
                    F.when(F.col("pred") == F.col("true_label"), 1).otherwise(
                        0
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("accuracy"),
        )
    )


_RC_K = 200  # head size over which the two metrics' rankings compare


@query(
    "vdb_rank_correlation",
    oracle=f"""
WITH scored AS (
  SELECT vec_id,
         {sql_dot(_EMB, _Q)} AS dot,
         {sql_cosine(_EMB, _Q)} AS cos
  FROM embeddings
),
head AS (
  SELECT vec_id, dot, cos
  FROM scored ORDER BY dot DESC, vec_id LIMIT {_RC_K}
),
ranked AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY dot DESC, vec_id) AS rd,
         row_number() OVER (ORDER BY cos DESC, vec_id) AS rc
  FROM head
),
sp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM((rd - rc) * (rd - rc)) AS BIGINT) AS d2
  FROM ranked
),
kt AS (
  SELECT CAST(SUM(CASE WHEN (b.rd - a.rd) * (b.rc - a.rc) > 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         CAST(SUM(CASE WHEN (b.rd - a.rd) * (b.rc - a.rc) < 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS discordant
  FROM ranked a JOIN ranked b ON a.vec_id < b.vec_id
)
SELECT sp.n, sp.d2, kt.concordant, kt.discordant,
       1.0 - CAST(6 * sp.d2 AS DOUBLE) / (sp.n * (sp.n * sp.n - 1))
         AS spearman_rho,
       CAST(kt.concordant - kt.discordant AS DOUBLE)
         / (sp.n * (sp.n - 1) / 2) AS kendall_tau
FROM sp, kt
""",
    tags=("vdb", "metric", "rank-correlation", "evaluation"),
)
def vdb_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK CORRELATION between the dot-product and cosine rankings of
    the dot-top-{_RC_K} head — the quantitative answer to 'does
    normalization change what we retrieve?' (the reference scores by
    RAW dot product, app.py:45, which is magnitude-sensitive; cosine
    is the normalized alternative this engine also exposes). Both
    Spearman's rho (1 - 6*sum(d^2)/(n(n^2-1))) and Kendall's tau-a
    ((C-D)/(n(n-1)/2)) are INTEGER-rational — ranks are total orders
    via the (score, vec_id) tiebreak, so d^2, C, D are BIGINTs and
    each statistic is one final double division (the
    geo_moran_autocorrelation discipline). Restricting to the
    dot-head keeps the comparison about the retrieval set that
    actually surfaces, and bounds the pair join at {_RC_K}^2/2.

    Plan shape at 100 TB: scoring is the usual map-side fold; the
    head is TakeOrderedAndProject (never a full sort); ranking
    windows and the pair self-join touch only {_RC_K} broadcast-sized
    rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        dot_product("embedding", QUERY_VEC).alias("dot"),
        cosine_similarity("embedding", QUERY_VEC).alias("cos"),
    )
    head = scored.orderBy(F.desc("dot"), F.asc("vec_id")).limit(_RC_K)
    ranked = head.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("dot"), F.asc("vec_id")))
        .alias("rd"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos"), F.asc("vec_id")))
        .alias("rc"),
    )
    sp = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("rd") - F.col("rc")) * (F.col("rd") - F.col("rc")))
        .cast("long")
        .alias("d2"),
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    kt = (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            (
                (F.col("b.rd") - F.col("a.rd"))
                * (F.col("b.rc") - F.col("a.rc"))
            ).alias("prod")
        )
        .agg(
            F.sum((F.col("prod") > 0).cast("int")).cast("long")
            .alias("concordant"),
            F.sum((F.col("prod") < 0).cast("int")).cast("long")
            .alias("discordant"),
        )
    )
    return (
        sp.crossJoin(F.broadcast(kt))
        .select(
            "n",
            "d2",
            "concordant",
            "discordant",
            (
                F.lit(1.0)
                - (6 * F.col("d2")).cast("double")
                / (F.col("n") * (F.col("n") * F.col("n") - 1))
            ).alias("spearman_rho"),
            (
                (F.col("concordant") - F.col("discordant")).cast("double")
                / (F.col("n") * (F.col("n") - 1) / 2)
            ).alias("kendall_tau"),
        )
    )


# ---------------------------------------------------------------------------
# Round 11: query-batch deduplication (serving-side optimization)
# ---------------------------------------------------------------------------


@query(
    "vdb_query_dedup_search",
    oracle=f"""
WITH q AS (
  SELECT e.vec_id + 6 * k.k AS query_id, e.embedding::DOUBLE[] AS qv
  FROM embeddings e CROSS JOIN (SELECT unnest(range(5)) AS k) k
  WHERE e.vec_id < 6
),
dq AS (SELECT qv, MIN(query_id) AS rep_id FROM q GROUP BY qv),
s AS (
  SELECT dq.rep_id, c.vec_id AS corpus_id,
         {sql_cosine('c.embedding::DOUBLE[]', 'dq.qv')} AS score
  FROM embeddings c CROSS JOIN dq
),
r AS (
  SELECT rep_id, corpus_id, score,
         row_number() OVER (PARTITION BY rep_id
                            ORDER BY score DESC, corpus_id) AS rnk
  FROM s
),
top AS (SELECT rep_id, corpus_id, score, rnk FROM r WHERE rnk <= 3)
SELECT CAST(q.query_id AS BIGINT) AS query_id,
       CAST(dq.rep_id AS BIGINT) AS served_by,
       CAST(top.rnk AS BIGINT) AS rnk,
       CAST(top.corpus_id AS BIGINT) AS corpus_id,
       top.score
FROM q JOIN dq ON dq.qv = q.qv JOIN top ON top.rep_id = dq.rep_id
""",
    tags=("vector", "knn", "serving", "dedup", "batch"),
)
def vdb_query_dedup_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY-BATCH DEDUPLICATION — the serving-side optimization every
    vector-search gateway ships: real traffic repeats queries (hot
    prompts, retries, fan-in from replicas), so the batch is deduped
    ON THE VECTOR (group by the embedding itself — no id-based
    shortcut), ONE search runs per distinct vector, and results fan
    back to every original query id with the representative that
    served it. Here a 30-query batch contains 6 distinct vectors:
    6 searches replace 30, a 5x corpus-scan saving the oracle verifies
    end to end (including the fan-back join and the served_by
    attribution).

    Plan shape at 100 TB: the dedup groupBy and fan-back join touch
    only the QUERY batch (driver-scale, broadcast); the corpus-side
    cost — the only term that matters — drops from |batch| to
    |distinct| scans, and the search itself is the standard broadcast
    nested-loop + per-rep window top-k (never shuffles the corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < 6)
        .select(
            "vec_id",
            F.col("embedding").alias("qv"),
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("k"),
        )
        .select(
            (F.col("vec_id") + 6 * F.col("k")).alias("query_id"), "qv"
        )
    )
    dq = q.groupBy("qv").agg(F.min("query_id").alias("rep_id"))
    corpus = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv")
    )
    scored = corpus.crossJoin(F.broadcast(dq)).select(
        "rep_id",
        "corpus_id",
        cosine_similarity("cv", "qv").alias("score"),
    )
    wr = Window.partitionBy("rep_id").orderBy(
        F.desc("score"), F.asc("corpus_id")
    )
    top = scored.withColumn("rnk", F.row_number().over(wr)).filter(
        F.col("rnk") <= 3
    )
    return (
        q.join(F.broadcast(dq), "qv")
        .join(F.broadcast(top), "rep_id")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rep_id").cast("long").alias("served_by"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("corpus_id").cast("long").alias("corpus_id"),
            "score",
        )
    )


@query(
    "vdb_hard_negative_mining",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS q_label
  FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, e.vec_id AS neg_id, e.label AS neg_label,
         {sql_dot('e.embedding::DOUBLE[]', 'q.qv')} AS score
  FROM embeddings e JOIN q ON e.label <> q.q_label
),
r AS (
  SELECT query_id, neg_id, neg_label, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neg_id) AS rank
  FROM scored
)
SELECT query_id, neg_id, CAST(neg_label AS BIGINT) AS neg_label,
       CAST(rank AS BIGINT) AS rank, score
FROM r WHERE rank <= 3
""",
    tags=("vector", "hard-negatives", "training-data", "knn", "window"),
)
def vdb_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING — the contrastive-training data op
    (DPR/SimCSE-style retrieval training): for each anchor vector,
    the top-k most-similar corpus vectors with a DIFFERENT label.
    These near-miss negatives carry the gradient signal that random
    negatives don't; mining them is a ranking query with an EXCLUSION
    predicate, not a plain kNN — the label-mismatch condition rides
    the candidate join itself, so positives are never scored, never
    ranked, never filtered after the fact.

    Plan shape at 100 TB: the anchor set is the small side (a
    training batch), broadcast into the corpus scan exactly like
    vdb_batch_knn — the corpus is scanned once, never shuffled, and
    per-anchor top-k is a bounded rank window. When the anchor set is
    itself huge, candidate generation swaps to the LSH-bucketed
    equi-join of vdb_batch_knn_lsh and the label-exclusion predicate
    moves onto that join unchanged — mining cost is then
    O(candidates), not O(anchors x corpus). Raw dot-product scoring
    keeps the fold order of functions/vector.py:dot_product so every
    score is oracle-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("neg_label"),
    )
    scored = corpus.join(
        F.broadcast(anchors), F.col("neg_label") != F.col("q_label")
    ).select(
        "query_id", "neg_id", "neg_label",
        dot_product("cv", "qv").alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "neg_id",
            F.col("neg_label").cast("long").alias("neg_label"),
            F.col("rank").cast("long").alias("rank"), "score",
        )
    )


@query(
    "vdb_hard_negative_mining_lsh",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS neg_id, embedding::DOUBLE[] AS cv, label,
         {_lsh_knn_sig_sql('embedding::DOUBLE[]', _LSH_KNN_PLANES)}
           AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         label AS q_label,
         {_lsh_knn_sig_sql('embedding::DOUBLE[]', _LSH_KNN_PLANES)}
           AS qsig
  FROM embeddings WHERE vec_id % 50 = 0
), p AS (
  SELECT query_id, qv, q_label,
         unnest({_lsh_knn_flips_sql('qsig', _LSH_KNN_PLANES)}) AS bucket
  FROM q
), cand AS (
  SELECT DISTINCT p.query_id, c.neg_id, c.label AS neg_label,
         {sql_dot('c.cv', 'p.qv')} AS score
  FROM p JOIN c USING (bucket)
  WHERE c.label <> p.q_label
), r AS (
  SELECT query_id, neg_id, neg_label, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neg_id) AS rank
  FROM cand
)
SELECT query_id, neg_id, CAST(neg_label AS BIGINT) AS neg_label,
       CAST(rank AS BIGINT) AS rank, score
FROM r WHERE rank <= 3
""",
    tags=("vector", "hard-negatives", "training-data", "lsh", "join",
          "window"),
)
def vdb_hard_negative_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING, LSH-BUCKETED — the documented swap
    vdb_hard_negative_mining promises for when the anchor set is too
    large to broadcast (VERDICT r11 item 4), now a registered query
    rather than prose: candidate generation is vdb_batch_knn_lsh's
    Hamming-1 multiprobe bucket EQUI-JOIN, and the label-exclusion
    predicate rides that join (operators/search.py:lsh_batch_knn
    ``exclude_label`` — same-label rows are dropped before the dedup
    shuffle, never scored). Cost is O(candidates) = probes x N/2^P
    per anchor, independent of the anchor-set size fitting in any
    broadcast budget; both sides hash-partition by bucket.
    Approximate by construction (negatives outside probed buckets are
    unseen) and still oracle-exact: deterministic hyperplanes make
    the bucket assignment, the probe set, and the surviving top-k
    bitwise reproducible in SQL.

    Plan shape at 100 TB: shuffle equi-join on the bucket string (no
    broadcast, no nested loop), then one per-anchor rank window over
    candidates — the same topology that probes flat in SCALING.md's
    lsh_bucket_equijoin row."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("neg_label"),
    )
    res = lsh_batch_knn(
        anchors,
        corpus,
        k=3,
        num_planes=_LSH_KNN_PLANES,
        dim=DIM,
        probe_radius=1,
        query_id="query_id",
        query_vec="qv",
        corpus_id="neg_id",
        corpus_vec="cv",
        metric="dot",
        exclude_label=("q_label", "neg_label"),
    )
    return res.select(
        "query_id", "neg_id",
        F.col("neg_label").cast("long").alias("neg_label"),
        F.col("rank").cast("long").alias("rank"), "score",
    )


@query(
    "vdb_kcenter_coreset",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS o FROM embeddings
),
c1 AS (
  SELECT vec_id AS id1, o AS o1 FROM e
  ORDER BY list_dot_product(o, o) DESC, vec_id LIMIT 1
),
d1 AS (
  SELECT e.vec_id, e.o, {sql_l2sq('e.o', 'c1.o1')} AS dc1
  FROM e CROSS JOIN c1
),
c2 AS (
  SELECT vec_id AS id2, o AS o2 FROM d1
  ORDER BY dc1 DESC, vec_id LIMIT 1
),
d2 AS (
  SELECT d1.vec_id, d1.o, d1.dc1, {sql_l2sq('d1.o', 'c2.o2')} AS dc2
  FROM d1 CROSS JOIN c2
),
c3 AS (
  SELECT vec_id AS id3, o AS o3 FROM d2
  ORDER BY LEAST(dc1, dc2) DESC, vec_id LIMIT 1
),
d3 AS (
  SELECT d2.vec_id, d2.dc1, d2.dc2, {sql_l2sq('d2.o', 'c3.o3')} AS dc3
  FROM d2 CROSS JOIN c3
),
asg AS (
  SELECT vec_id,
         CASE WHEN dc1 <= dc2 AND dc1 <= dc3 THEN 1
              WHEN dc2 <= dc3 THEN 2 ELSE 3 END AS center_rank,
         LEAST(dc1, dc2, dc3) AS mind
  FROM d3
),
ctr AS (
  SELECT 1 AS center_rank, id1 AS center_id FROM c1
  UNION ALL SELECT 2, id2 FROM c2
  UNION ALL SELECT 3, id3 FROM c3
)
SELECT CAST(ctr.center_rank AS BIGINT) AS center_rank,
       ctr.center_id,
       CAST(COUNT(asg.vec_id) AS BIGINT) AS n_assigned,
       MAX(asg.mind) AS coverage_radius_sq
FROM ctr LEFT JOIN asg ON asg.center_rank = ctr.center_rank
GROUP BY ctr.center_rank, ctr.center_id
""",
    tags=("vector", "coreset", "k-center", "diversity", "curation"),
)
def vdb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CENTER GREEDY CORESET (Gonzalez 1985; the diverse-subset
    selector behind active-learning and training-data curation, cf.
    Sener & Savarese 2018) — pick k=3 maximally-spread representatives:
    seed with the max-norm vector, then repeatedly take the point
    FARTHEST from its nearest chosen center (the classic 2-approx for
    the k-center objective). Every argmax is a TakeOrdered with a
    vec_id tiebreak, so the greedy trajectory is deterministic and the
    whole recursion unrolls into SQL the same way geo_douglas_peucker
    unrolls RDP — an ITERATIVE selection algorithm pinned bitwise
    against the oracle. Output: each center, its assigned-point count
    (nearest-center partition, ties to the lower rank), and the
    per-center coverage radius — max over the radius column IS the
    k-center objective value.

    Plan shape at 100 TB: k passes over the corpus, each ONE scan +
    a broadcast of O(d) state (the new center's vector rides a 1-row
    broadcast crossJoin — model update, never data); the assignment
    pass is scan + 3 fold expressions + one tiny groupBy. Greedy
    k-center is exactly k scans — contrast coreset-by-clustering
    which pays an iterated k-means. Squared L2 keeps the fold shape
    of functions/vector.py so no sqrt crosses the engine boundary
    until nothing is compared after it."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("o")
    )
    c1 = (
        e.select(
            F.col("vec_id").alias("id1"), F.col("o").alias("o1"),
            dot_product("o", "o").alias("n2"),
        )
        .orderBy(F.desc("n2"), F.asc("id1"))
        .limit(1)
        .drop("n2")
    )
    d1 = e.crossJoin(F.broadcast(c1)).select(
        "vec_id", "o", "id1", squared_l2_distance("o", "o1").alias("dc1")
    )
    c2 = (
        d1.select(F.col("vec_id").alias("id2"), F.col("o").alias("o2"), "dc1")
        .orderBy(F.desc("dc1"), F.asc("id2"))
        .limit(1)
        .drop("dc1")
    )
    d2 = d1.crossJoin(F.broadcast(c2)).select(
        "vec_id", "o", "id1", "id2", "dc1",
        squared_l2_distance("o", "o2").alias("dc2"),
    )
    c3 = (
        d2.select(
            F.col("vec_id").alias("id3"), F.col("o").alias("o3"),
            F.least("dc1", "dc2").alias("m2"),
        )
        .orderBy(F.desc("m2"), F.asc("id3"))
        .limit(1)
        .drop("m2")
    )
    d3 = d2.crossJoin(F.broadcast(c3)).select(
        "vec_id", "id1", "id2", "id3", "dc1", "dc2",
        squared_l2_distance("o", "o3").alias("dc3"),
    )
    asg = d3.select(
        "vec_id",
        F.when(
            (F.col("dc1") <= F.col("dc2")) & (F.col("dc1") <= F.col("dc3")), 1
        )
        .when(F.col("dc2") <= F.col("dc3"), 2)
        .otherwise(3)
        .alias("center_rank"),
        F.least("dc1", "dc2", "dc3").alias("mind"),
    )
    agg = asg.groupBy("center_rank").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.max("mind").alias("coverage_radius_sq"),
    )
    # Mirror the oracle's ctr LEFT JOIN: every center rank emits a row
    # even with zero assigned points (possible only on degenerate
    # duplicate-vector corpora, where a later center coincides with an
    # earlier one and the lower-rank tiebreak absorbs its points).
    ctr = (
        c1.select(F.lit(1).alias("center_rank"), F.col("id1").alias("center_id"))
        .unionAll(c2.select(F.lit(2), F.col("id2")))
        .unionAll(c3.select(F.lit(3), F.col("id3")))
    )
    return ctr.join(F.broadcast(agg), "center_rank", "left").select(
        F.col("center_rank").cast("long").alias("center_rank"),
        "center_id",
        F.coalesce("n_assigned", F.lit(0)).cast("long").alias("n_assigned"),
        "coverage_radius_sq",
    )


_GEMM_SCALE = 8192  # 2^13: quantization step exact in binary
_GEMM_K = 10


def _gemm_quantized_query() -> list[int]:
    """QUERY_VEC quantized with round-half-away-from-zero, the shared
    semantics of Spark's ROUND and DuckDB's round(); QUERY_VEC's
    two-decimal grid cannot produce an exact .5 at scale 2^13
    (92k = 50 mod 100 has no solution), so the three engines agree."""
    out = []
    for v in QUERY_VEC:
        s = v * _GEMM_SCALE
        out.append(int(s + 0.5) if s >= 0 else -int(-s + 0.5))
    return out


@query(
    "vdb_topk_gemm_blocked",
    oracle=f"""
SELECT vec_id,
       CAST(list_sum(list_transform(
            list_zip(list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * {_GEMM_SCALE}) AS BIGINT)),
                     [{", ".join(str(v) for v in _gemm_quantized_query())}]::BIGINT[]),
            p -> p[1] * p[2])) AS BIGINT) AS qscore
FROM embeddings
ORDER BY qscore DESC, vec_id LIMIT {_GEMM_K}
""",
    tags=("vdb", "topk", "gemm", "mapInPandas"),
    bench=True,
)
def vdb_topk_gemm_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k by BLOCKED GEMM: quantize embeddings JVM-side
    to int64 (round(x * 2^13) — the SQ-style grid), ship Arrow batches
    to numpy, score each batch as ONE matrix-vector product, and emit
    only the batch-local top-k; a global TakeOrderedAndProject merges
    the candidates. Batch-local top-k is a safe superset: every global
    top-k row is top-k within its own batch.

    This is the 100 TB scale path for exact search that the per-row
    Catalyst fold (vdb_topk_dot, functions/vector.py:56) cannot reach:
    BLAS scores a 10k x 64 Arrow batch in one call instead of 10k
    interpreted folds, and the executor->driver traffic is k rows per
    batch, not N. Integer quantization is what makes the result
    hash-checkable across engines — int64 dot products are exact and
    order-free, whereas float GEMM's pairwise summation would differ
    from the SQL fold by ulps (the production float path is rank-stable
    but not bitwise-stable; see SURVEY §5's exactness discipline).
    Embedding magnitudes are < 0.53, so |q| <= 4303 < 2^13, products
    < 2^26, and 64-term sums < 2^32 — no overflow headroom concerns."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
            f" * {_GEMM_SCALE}) AS BIGINT))"
        ).alias("qv"),
    )
    qarr = np.asarray(_gemm_quantized_query(), dtype=np.int64)

    def gemm_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            scores = m @ qarr
            k = min(_GEMM_K, len(scores))
            idx = np.argpartition(-scores, k - 1)[:k]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy()[idx], "qscore": scores[idx]}
            )

    return (
        emb.mapInPandas(gemm_topk, "vec_id long, qscore long")
        .orderBy(F.desc("qscore"), F.asc("vec_id"))
        .limit(_GEMM_K)
    )
