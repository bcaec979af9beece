"""Deduplication query surface (SURVEY.md §2b M4; north-star
LLM-pipeline operators). All engines' hashes are md5-over-explicit-
string encodings, so every query here — including full MinHash-LSH —
is deterministic and oracle-checked in ANSI SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.text import quality_score, word_shingles
from quick_and_easy_vectordb_spark.operators.graph import connected_components, dup_clusters
from quick_and_easy_vectordb_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    jaccard_pairs,
    lsh_band_table,
    lsh_candidate_pairs,
    minhash_doc_table,
    minhash_signatures,
    shingle_table,
    simhash_signatures,
)
import os

from quick_and_easy_vectordb_spark.operators.util import ensure_parallelism
from quick_and_easy_vectordb_spark.queries.common import sql_cosine
from quick_and_easy_vectordb_spark.queries.registry import query
from quick_and_easy_vectordb_spark.sources.catalog import load_table

# ---------------------------------------------------------------- SQL
# DuckDB fragments that mirror functions/text.py exactly.
SQL_NORM = "trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"

# Shingle CTE chain over a relation R(doc_id, text) — mirrors
# functions.text.word_shingles(n=3): distinct word 3-grams, whole-text
# fallback for docs shorter than 3 words, empty text excluded.
SQL_SHINGLES = f"""
norm AS (SELECT doc_id, {SQL_NORM} AS t FROM documents),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm WHERE t <> ''),
sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 3
         THEN list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM toks)
"""

NUM_HASHES, BANDS, JACCARD_T = 12, 4, 0.5
# Hot-bucket cap (operators/dedup.py:lsh_candidate_pairs): buckets with
# more members skip O(k²) pair expansion and surface as mega-clusters.
LSH_MAX_BUCKET = 64

# Size-based plan choice for jaccard_pairs(prefilter=...): the
# candidate semi-filter only amortizes when the corpus shingle table
# dwarfs the candidate materialization cost — same logic as Spark's
# broadcast-join threshold, decided from file size (no extra job).
_PREFILTER_BYTES = 64 * 1024 * 1024


def _corpus_is_big(sf_dir: str) -> bool:
    try:
        return (
            os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
            > _PREFILTER_BYTES
        )
    except OSError:
        return True


@query(
    "dedup_exact",
    oracle=f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
)
SELECT md5({SQL_NORM}) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       COUNT(*) AS n_copies
FROM u GROUP BY 1
""",
    tags=("dedup", "agg"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash of normalized text. The corpus is
    unioned with an id-shifted copy of itself so every group genuinely
    has duplicates to collapse (the raw table is dup-free); the
    canonical survivor is min(id). One shuffle on a 32-byte hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return exact_dedup(docs.unionByName(shifted), "text", "doc_id")


# CTE chain from documents to verified near-dup pairs (id_a, id_b,
# jaccard) — shared by dedup_minhash_lsh and dedup_clusters.
SQL_VERIFIED_PAIRS = f"""{SQL_SHINGLES},
hp AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM sh
),
mh AS (
  SELECT doc_id, s.seed, MIN(h1 + s.seed * h2) AS sig
  FROM hp CROSS JOIN (SELECT unnest(range({NUM_HASHES})) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // {NUM_HASHES // BANDS} AS band,
         substr(md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)), 1, 16) AS key
  FROM mh GROUP BY doc_id, seed // {NUM_HASHES // BANDS}
),
bsz AS (SELECT band, key, COUNT(*) AS n_members FROM bands GROUP BY band, key),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  JOIN bsz z ON z.band = a.band AND z.key = a.key AND z.n_members <= {LSH_MAX_BUCKET}
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.id_a
  JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT i.id_a, i.id_b,
         CAST(n_inter AS DOUBLE) / CAST(ca.n + cb.n - n_inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN cnt ca ON ca.doc_id = i.id_a
  JOIN cnt cb ON cb.doc_id = i.id_b
  WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n + cb.n - n_inter AS DOUBLE) >= {JACCARD_T}
)"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS}
SELECT id_a, id_b, jaccard FROM pairs
""",
    tags=("dedup", "minhash", "lsh", "join"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: 12 min-hashes over word
    3-shingles → 4 bands of 3 → band-bucket candidates → exact-Jaccard
    verify ≥ 0.5. No pairwise blowup anywhere; the shared shingle table
    is persisted so text is shingled exactly once (at cluster scale
    this intermediate would be a checkpointed parquet table). The
    hot-bucket cap ({LSH_MAX_BUCKET}) is active and mirrored in the
    oracle's bsz CTE; dedup_minhash_lsh_capped exercises the divert
    path with a corpus that actually trips it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE aggregation carries signatures AND the per-doc shingle arrays
    # (round-14: the split sh.persist + two aggregations shuffled the
    # shingle relation twice); dt acts as the signature table for the
    # band pipeline and as the docsets side of the verify join.
    dt = minhash_doc_table(
        shingle_table(docs, "text", "doc_id", 3), NUM_HASHES
    ).persist()
    cands = lsh_candidate_pairs(dt, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    return jaccard_pairs(
        None, cands, JACCARD_T,
        prefilter=_corpus_is_big(sf_dir), docsets=dt,
    )


# 10-word boilerplate: normalizes to itself, ≥3 words → real shingles.
_BOILER = (
    "synthetic boilerplate header every page of this crawl shares verbatim"
)
_BOILER_COPIES = 200


@query(
    "dedup_minhash_lsh_capped",
    oracle=f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT 2000000 + CAST(r AS BIGINT) AS doc_id, '{_BOILER}' AS text
  FROM range({_BOILER_COPIES}) t(r)
),
normc AS (SELECT doc_id, {SQL_NORM} AS t FROM u),
tokc AS (SELECT doc_id, string_split(t, ' ') AS w FROM normc WHERE t <> ''),
shc AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 3
         THEN list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM tokc),
hpc AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM shc
),
mhc AS (
  SELECT doc_id, s.seed, MIN(h1 + s.seed * h2) AS sig
  FROM hpc CROSS JOIN (SELECT unnest(range({NUM_HASHES})) AS seed) s
  GROUP BY doc_id, s.seed
),
bandc AS (
  SELECT doc_id, seed // {NUM_HASHES // BANDS} AS band,
         substr(md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)), 1, 16) AS key
  FROM mhc GROUP BY doc_id, seed // {NUM_HASHES // BANDS}
)
SELECT CAST(band AS BIGINT) AS band, key,
       COUNT(*) AS n_members, MIN(doc_id) AS keep_id
FROM bandc GROUP BY band, key HAVING COUNT(*) > {LSH_MAX_BUCKET}
""",
    tags=("dedup", "minhash", "lsh", "skew"),
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket divert path of the LSH pipeline (VERDICT r4 item 2):
    the corpus is augmented with 200 verbatim copies of a
    boilerplate doc, which share one bucket per band — a shape that
    would pair-expand O(k²) without the cap. lsh_candidate_pairs
    excludes those buckets (broadcast anti-join on the tiny hot set);
    this query returns what it diverts via lsh_mega_clusters: one row
    per hot (band, key) with its membership count and canonical
    survivor, computed with O(members) aggregation state and no pair
    expansion — the linear path boilerplate mega-clusters must take at
    100 TB."""
    from quick_and_easy_vectordb_spark.operators.dedup import lsh_mega_clusters

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = spark.range(_BOILER_COPIES).select(
        (F.lit(2000000) + F.col("id")).cast("long").alias("doc_id"),
        F.lit(_BOILER).alias("text"),
    )
    corpus = docs.unionByName(boiler)
    sh = shingle_table(corpus, "text", "doc_id", 3)
    sigs = minhash_signatures(sh, NUM_HASHES)
    mega = lsh_mega_clusters(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    return mega.select(
        F.col("band").cast("long").alias("band"),
        "key",
        F.col("n_members").cast("long").alias("n_members"),
        "keep_id",
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {SQL_SHINGLES},
blocked AS (SELECT d.source, s.doc_id, s.shingle
            FROM sh s JOIN documents d ON d.doc_id = s.doc_id),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM blocked a
  JOIN blocked b ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
       CAST(n_inter AS DOUBLE) / CAST(ca.n + cb.n - n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN cnt ca ON ca.doc_id = i.id_a
JOIN cnt cb ON cb.doc_id = i.id_b
WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n + cb.n - n_inter AS DOUBLE) >= 0.3
""",
    tags=("dedup", "jaccard", "join"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity ≥ 0.3 between documents sharing
    a blocking key (source). The shingle equi-join *within source* is
    the blocking that keeps this O(Σ block-pair shingles), not O(N²) —
    at 100 TB the block key would be an LSH band or URL host."""
    docs = ensure_parallelism(  # round-14: single-split scan fed heavy per-row work
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    sh = docs.select(
        "source",
        "doc_id",
        F.explode(word_shingles("text", 3)).alias("shingle"),
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("source").alias("src"), F.col("doc_id").alias("id_a"), F.col("shingle").alias("sh_a"))
    b = sh.select(F.col("source").alias("src"), F.col("doc_id").alias("id_b"), F.col("shingle").alias("sh_b"))
    inter = (
        a.join(b, (a.src == b.src) & (F.col("sh_a") == F.col("sh_b")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    res = (
        inter.join(cnt.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(cnt.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )
    return res.filter(F.col("jaccard") >= 0.3).select("id_a", "id_b", "jaccard")


@query(
    "dedup_simhash",
    oracle=f"""
WITH norm AS (SELECT doc_id, {SQL_NORM} AS t FROM documents),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm WHERE t <> ''),
words AS (SELECT doc_id, unnest(list_distinct(w)) AS wd FROM toks),
wh AS (SELECT doc_id, md5(wd) AS h FROM words WHERE wd <> ''),
votes AS (
  SELECT doc_id, t.b,
         SUM(CASE WHEN ((strpos('0123456789abcdef',
                                substr(h, CAST(t.b // 4 AS INTEGER) + 1, 1)) - 1)
                        >> CAST(3 - t.b % 4 AS INTEGER)) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM wh CROSS JOIN (SELECT unnest(range(64)) AS b) t
  GROUP BY doc_id, t.b
)
SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
FROM votes GROUP BY doc_id
""",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signature per document (distinct-word ±1 votes on
    md5 bits — integer-exact, engine-independent). Near-dups share
    signatures within small Hamming distance; bucketing by prefix makes
    that an equi-join at scale (operators/dedup.py:simhash_signatures)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_signatures(docs, "text", "doc_id").select(
        F.col("id").alias("doc_id"), "simhash"
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
       {sql_cosine('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')} AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')} >= 0.35
""",
    tags=("dedup", "vector", "join"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dups: cosine ≥ 0.35 within label blocks.
    Blocked self-equi-join — comparisons are O(Σ block²), never the
    full N² cross product."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, "embedding", "vec_id", "label", 0.35)


@query(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {SQL_VERIFIED_PAIRS},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id_a, id_a FROM pairs
  UNION SELECT id_b, id_b FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u)
SELECT MIN(id) AS keep_id,
       COUNT(*) AS n_members,
       array_to_string(list_sort(list(id)), ',') AS members
FROM comp GROUP BY component
""",
    tags=("dedup", "graph", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution — the step pairwise dedup stops
    short of: verified MinHash-LSH pairs collapsed into connected
    components (alternating star rounds, operators/graph.py), one row
    per cluster with the canonical keep id. The DuckDB oracle
    computes the same components via a recursive-CTE transitive
    closure — feasible at oracle scale, quadratic-per-cluster at
    production scale, which is exactly why the Spark side contracts
    the edge set in O(log^2 n) star rounds instead."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS)
    pairs = jaccard_pairs(sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir))
    clusters = dup_clusters(pairs)
    # CSV-join the member list: the driver's canonicalizer cannot sort
    # array-typed pandas columns (round-1 CORRECTNESS err); bigint→string
    # is deterministic on both engines.
    return clusters.select(
        "keep_id",
        "n_members",
        F.array_join(
            F.transform("members", lambda x: x.cast("string")), ","
        ).alias("members"),
    )


from quick_and_easy_vectordb_spark.queries.text import SQL_QUALITY_CTES


@query(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE {SQL_VERIFIED_PAIRS},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id_a, id_a FROM pairs
  UNION SELECT id_b, id_b FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u),
{SQL_QUALITY_CTES},
ranked AS (
  SELECT comp.component AS cluster_id, comp.id AS keep_id, qs.quality,
         ROW_NUMBER() OVER (PARTITION BY comp.component
                            ORDER BY qs.quality DESC, comp.id) AS rn,
         COUNT(*) OVER (PARTITION BY comp.component) AS n_members
  FROM comp JOIN qs ON qs.doc_id = comp.id
)
SELECT cluster_id, keep_id, quality AS keep_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
""",
    tags=("dedup", "curation", "graph", "window"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution with a QUALITY survivor rule — what
    production pipelines actually do (keep the best-written duplicate,
    not the lowest id): verified MinHash-LSH pairs → connected
    components → per-cluster argmax of quality_score (tiebreak min id).
    Composes the dedup family with the curation family; the per-cluster
    pick is one window row_number over the (tiny) membership table, so
    the added cost over dedup_clusters is a broadcast-sized join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS)
    pairs = jaccard_pairs(sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir))
    cc = connected_components(pairs)
    q = docs.select(
        F.col("doc_id").alias("qid"), quality_score("text").alias("quality")
    )
    m = cc.join(q, cc.id == F.col("qid"))
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("id"))
    return (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("component").alias("cluster_id"),
            F.col("id").alias("keep_id"),
            F.col("quality").alias("keep_quality"),
            "n_members",
        )
    )


# Word 8-gram CTE for span-level dedup — same normalize/tokenize chain
# as SQL_SHINGLES, wider grams (range(1, len-6) ≡ i+7 ≤ len, 1-indexed).
SQL_SPANS8 = f"""
norm8 AS (SELECT doc_id, {SQL_NORM} AS t FROM documents),
toks8 AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm8 WHERE t <> ''),
sp AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 8
         THEN list_distinct(list_transform(range(1, len(w) - 6),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                 || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]))
         ELSE [array_to_string(w, ' ')] END) AS span
  FROM toks8)
"""


@query(
    "text_span_dedup",
    oracle=f"""
WITH {SQL_SPANS8}
SELECT span, COUNT(*) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM sp GROUP BY span HAVING COUNT(*) >= 2
""",
    tags=("dedup", "span", "agg"),
    bench=True,
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-SPAN detection (word 8-grams appearing in
    ≥2 documents) — the unit of the exact-substring dedup of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"):
    boilerplate, licenses, and templated passages repeat across
    otherwise-distinct pages, and span-level removal catches what
    document-level MinHash cannot.

    Plan shape at 100 TB: spans are distinct-ed WITHIN each document at
    map time (word_shingles is per-row), so the only shuffle is the
    groupBy on the span string — with map-side partial aggregation the
    exchange carries one (span, count, min_id) partial per partition,
    never the raw corpus. The ≥2 filter drops the overwhelmingly-unique
    tail post-agg; output is the repeated-span catalog a removal pass
    anti-joins against."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g = ensure_parallelism(docs).select(
        "doc_id", F.explode(word_shingles("text", 8)).alias("span")
    )
    return (
        g.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "text_containment_decontaminate",
    oracle=f"""
WITH norm4 AS (SELECT doc_id, {SQL_NORM} AS t FROM documents),
toks4 AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm4 WHERE t <> ''),
g4 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 4
         THEN list_distinct(list_transform(range(1, len(w) - 2),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
         ELSE [array_to_string(w, ' ')] END) AS ng
  FROM toks4),
bench AS (SELECT doc_id AS bench_id, ng FROM g4 WHERE doc_id % 97 = 0),
bsz AS (SELECT bench_id, COUNT(*) AS n_b FROM bench GROUP BY bench_id),
inter AS (
  SELECT g.doc_id AS train_id, b.bench_id, COUNT(*) AS n_inter
  FROM g4 g JOIN bench b USING (ng)
  WHERE g.doc_id % 97 <> 0
  GROUP BY 1, 2
)
SELECT i.train_id, i.bench_id,
       CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment
FROM inter i JOIN bsz USING (bench_id)
ORDER BY containment DESC, bench_id, train_id LIMIT 20
""",
    tags=("dedup", "curation", "decontamination"),
)
def text_containment_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment decontamination: C(train, bench) =
    |grams(train) ∩ grams(bench)| / |grams(bench)| — the right metric
    when a short eval item is embedded inside a long training document
    (Jaccard is diluted by the train doc's size and misses exactly the
    pairs that matter; `text_decontaminate` counts raw overlapping
    grams, this query normalizes per BENCHMARK doc so 1.0 means "the
    benchmark item is fully contained"). Docs with doc_id % 97 == 0
    stand in for the eval suite. Output: the top-20 most-contained
    (train, bench) pairs with a full deterministic tiebreak — a fixed
    threshold is corpus-dependent (the driver fixtures range from
    max-containment 0.03 to 1.0 across scale factors), while the
    ranked head is the triage list a human actually reviews.

    Plan shape at 100 TB: the benchmark gram set (MBs) is broadcast to
    the corpus gram stream — map-side hash-join hits only; the
    surviving (train, bench) hit pairs are a vanishing fraction of the
    corpus and shuffle once for the per-pair count. Per-benchmark gram
    counts are a second broadcast. No corpus-side shuffle at all."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g4 = ensure_parallelism(docs).select(
        "doc_id", F.explode(word_shingles("text", 4)).alias("ng")
    )
    bench = g4.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "ng"
    )
    bsz = bench.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        g4.filter(F.col("doc_id") % 97 != 0)
        .withColumnRenamed("doc_id", "train_id")
        .join(F.broadcast(bench), "ng")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(bsz), "bench_id")
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.col("n_b").cast("double"),
        )
        .orderBy(F.desc("containment"), "bench_id", "train_id")
        .limit(20)
        .select("train_id", "bench_id", "containment")
    )


# Fixed-point PageRank scale: 2^30. All PageRank arithmetic is BIGINT
# (integer div for contributions and damping), so every engine computes
# identical masses — floats would diverge in sum order; decimals in
# cross-engine precision rules.
_PR_SCALE = 1 << 30


@query(
    "dedup_pagerank",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
pr0 AS (SELECT id, {_PR_SCALE} // nn.n AS pr FROM nodes CROSS JOIN nn),
s1 AS (SELECT e.dst AS id, SUM(p.pr // dg.d) AS s
       FROM edges e JOIN pr0 p ON p.id = e.src JOIN deg dg ON dg.src = e.src
       GROUP BY e.dst),
pr1 AS (SELECT nodes.id,
               ((CAST({_PR_SCALE} AS BIGINT) * 15) // 100) // nn.n + (85 * COALESCE(s1.s, 0)) // 100 AS pr
        FROM nodes CROSS JOIN nn LEFT JOIN s1 ON s1.id = nodes.id),
s2 AS (SELECT e.dst AS id, SUM(p.pr // dg.d) AS s
       FROM edges e JOIN pr1 p ON p.id = e.src JOIN deg dg ON dg.src = e.src
       GROUP BY e.dst),
pr2 AS (SELECT nodes.id,
               ((CAST({_PR_SCALE} AS BIGINT) * 15) // 100) // nn.n + (85 * COALESCE(s2.s, 0)) // 100 AS pr
        FROM nodes CROSS JOIN nn LEFT JOIN s2 ON s2.id = nodes.id),
s3 AS (SELECT e.dst AS id, SUM(p.pr // dg.d) AS s
       FROM edges e JOIN pr2 p ON p.id = e.src JOIN deg dg ON dg.src = e.src
       GROUP BY e.dst),
pr3 AS (SELECT nodes.id,
               ((CAST({_PR_SCALE} AS BIGINT) * 15) // 100) // nn.n + (85 * COALESCE(s3.s, 0)) // 100 AS pr
        FROM nodes CROSS JOIN nn LEFT JOIN s3 ON s3.id = nodes.id)
SELECT id, CAST(pr AS BIGINT) AS pr FROM pr3 ORDER BY pr DESC, id LIMIT 20
""",
    tags=("dedup", "graph", "pagerank", "iterative"),
)
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (3 iterations, damping 0.85, masses as
    2^30-scaled BIGINT) over the verified near-dup graph — ranks the
    'hub' documents whose text radiates through the most duplication
    (the doc to keep, or the boilerplate to kill). Centrality joins the
    dedup family the way dedup_clusters does: pairs → graph → global
    structure.

    Integer fixed-point is the exactness trick (same as
    ann_kmeans_one_iter): contributions are ``pr div degree`` and
    damping is ``(85·Σ) div 100`` — BIGINT ops with identical floor
    semantics in every engine, so even an ITERATIVE float-free
    algorithm hash-matches the oracle's unrolled 3-level CTE.

    Plan shape at 100 TB: per iteration one shuffle keyed by edge
    source (join pr) and one by destination (sum) — the canonical
    Pregel-as-DataFrame shape; edges re-partition once and the 3
    iterations compose lazily into a single plan (no driver-side
    collect between rounds)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS)
    pairs = jaccard_pairs(sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir))

    # Persist the graph tables: every iteration references nodes/edges/
    # deg, and WITHOUT caching the lazy composition re-expands the
    # entire shingle→MinHash→LSH→verify pipeline per reference (first
    # formulation measured 162 Exchange nodes in the plan; with the
    # caches, each iteration reads InMemoryTableScans). At cluster
    # scale these would be checkpointed tables between Pregel rounds.
    pairs = pairs.persist()
    nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .persist()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).persist()

    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "id", F.expr(f"{_PR_SCALE}L div n").alias("pr")
    )
    for _ in range(3):
        contrib = (
            edges.join(pr.withColumnRenamed("id", "p_id"), F.col("src") == F.col("p_id"))
            .join(deg, "src")
            .select(F.col("dst"), F.expr("pr div d").alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        pr = (
            nodes.crossJoin(F.broadcast(nn))
            .join(sums, nodes.id == sums.dst, "left")
            .select(
                nodes.id.alias("id"),
                (
                    F.expr(f"(({_PR_SCALE}L * 15L) div 100L) div n")
                    + F.expr("(85 * coalesce(s, 0)) div 100")
                ).alias("pr"),
            )
        )
    return pr.orderBy(F.desc("pr"), F.asc("id")).limit(20)


@query(
    "dedup_minhash_estimate_quality",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
est AS (
  SELECT p.id_a, p.id_b, p.jaccard,
         CAST(SUM(CASE WHEN ma.sig = mb.sig THEN 1 ELSE 0 END) AS DOUBLE)
           / {NUM_HASHES} AS est_jaccard
  FROM pairs p
  JOIN mh ma ON ma.doc_id = p.id_a
  JOIN mh mb ON mb.doc_id = p.id_b AND mb.seed = ma.seed
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, jaccard, est_jaccard,
       abs(est_jaccard - jaccard) AS abs_err
FROM est ORDER BY abs_err DESC, id_a, id_b LIMIT 20
""",
    tags=("dedup", "minhash", "metric"),
)
def dedup_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit for the MinHash family: for every VERIFIED
    near-dup pair, the signature-agreement estimate of Jaccard
    (matching hashes / {NUM_HASHES}) against the exact shingle-set
    Jaccard, ranked by absolute error — the table that tells you
    whether {NUM_HASHES} hashes/{BANDS} bands is enough resolution for
    your threshold or the sketch needs widening (the estimator's std
    dev is sqrt(J(1-J)/k) ≈ 0.14 at J=0.5, k=12 — errors well beyond
    that flag skewed shingle sets, not bad luck). The analog of
    ann_recall_at_k for the dedup family: the approximation itself is
    measured, deterministically.

    Plan shape at 100 TB: the verified-pair table is a vanishing
    fraction of the corpus; two hash joins key it to the O(docs)
    signature table (doc-id equi-joins, no expansion), then a
    {NUM_HASHES}-term integer comparison sums per pair. Everything
    reuses the persisted shingle table — text is shingled once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pairs = jaccard_pairs(sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir))
    a = sigs.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(NUM_HASHES)],
    )
    b = sigs.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(NUM_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(NUM_HASHES)
    )
    est = (F.lit(1.0) * matches / NUM_HASHES).alias("est_jaccard")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", "jaccard", est)
        .withColumn("abs_err", F.abs(F.col("est_jaccard") - F.col("jaccard")))
        .orderBy(F.desc("abs_err"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


@query(
    "dedup_graph_triangles",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
wedges AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
),
tri AS (
  SELECT w.a, w.b, w.c FROM wedges w
  JOIN pairs e3 ON e3.id_a = w.a AND e3.id_b = w.c
)
SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
       CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles
""",
    tags=("dedup", "graph", "metric"),
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the verified near-dup graph — the structure
    probe behind cluster-quality decisions: triangles mean transitive
    duplicate groups (safe to collapse via connected components),
    while many wedges with few triangles mean chain-shaped clusters
    where transitive merging over-collapses (A~B~C but A≁C) and a
    stricter threshold or centroid-based resolution is warranted.

    Counting uses the ORDERED-edge formulation (all edges stored
    a < b): a wedge is e1(a,b)·e2(b,c) — each undirected 2-path counted
    exactly once from its ordered ends — and a triangle closes the
    wedge with e3(a,c); every undirected triangle a<b<c is counted
    exactly once. This is the standard O(E^1.5)-work equi-join triangle
    count: at 100 TB scale the join is keyed by vertex id (one shuffle
    of the edge list per hop), never a cross product, and the near-dup
    edge list is already a vanishing fraction of the corpus. Degenerate
    hubs are pre-capped upstream by the LSH hot-bucket divert
    (operators/dedup.py:lsh_candidate_pairs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pairs = (
        jaccard_pairs(sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir))
        .select("id_a", "id_b")
        .persist()
    )
    e2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    wedges = pairs.withColumnRenamed("id_a", "a").withColumnRenamed(
        "id_b", "b"
    ).join(e2, "b")
    e3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = wedges.join(e3, ["a", "c"])
    return (
        pairs.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(wedges.agg(F.count(F.lit(1)).alias("n_wedges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


@query(
    "dedup_rate_by_source",
    oracle=f"""
WITH h AS (SELECT source, md5({SQL_NORM}) AS ch FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_unique,
       1.0 - CAST(COUNT(DISTINCT ch) AS DOUBLE) / COUNT(*) AS dup_rate
FROM h GROUP BY source
""",
    tags=("dedup", "report", "agg"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE exact-duplication audit: documents vs distinct
    normalized-content hashes per source, and the implied duplicate
    rate — the first report a curation run produces, because dup rate
    varies wildly by origin (crawl snapshots ~30-60%, curated corpora
    ~0%) and drives which sources earn the expensive near-dup pass.

    Plan shape at 100 TB: text collapses to a 32-byte md5 at scan
    time; COUNT(DISTINCT hash) per source compiles to a two-stage
    aggregation — partial distinct on (source, hash), then the per-
    source count — so the shuffle carries one row per distinct hash,
    never document text. Skewed sources (one crawl dominating) spread
    across partitions in stage 1 because the key includes the hash."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    from quick_and_easy_vectordb_spark.functions.text import normalized_text

    h = docs.select("source", F.md5(normalized_text("text")).alias("ch"))
    return h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("ch").alias("n_unique"),
        (1.0 - F.countDistinct("ch").cast("double") / F.count(F.lit(1))).alias(
            "dup_rate"
        ),
    )


@query(
    "text_boilerplate_flag",
    oracle=f"""
WITH {SQL_SPANS8},
rep AS (SELECT span FROM sp GROUP BY span HAVING COUNT(*) >= 2),
per AS (
  SELECT sp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN r.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repeated
  FROM sp LEFT JOIN rep r USING (span)
  GROUP BY sp.doc_id
)
SELECT doc_id, n_spans, n_repeated,
       CAST(n_repeated AS DOUBLE) / n_spans AS repeated_frac
FROM per WHERE n_repeated > 0
""",
    tags=("dedup", "span", "curation"),
)
def text_boilerplate_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT boilerplate flagging — the consumer of
    text_span_dedup's repeated-span catalog: for each document, how
    many of its distinct word 8-grams appear in ≥2 corpus documents,
    and what fraction of the document that is. This is the scoring
    pass of exact-substring dedup (Lee et al. 2022): documents with
    high repeated_frac are templated/boilerplate pages a curation run
    drops or truncates; the span catalog alone can't tell you WHICH
    documents to act on.

    Plan shape at 100 TB: spans are distinct-ed per document at map
    time; one span-keyed aggregation builds the repeated catalog, one
    span-keyed join scores membership (both map-side-combined,
    shuffling (span, partial) rows, never text), then a doc-keyed agg.
    The catalog never collects to the driver — at corpus scale it is
    itself a big table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sp = (
        ensure_parallelism(docs)
        .select("doc_id", F.explode(word_shingles("text", 8)).alias("span"))
        .persist()
    )
    rep = (
        sp.groupBy("span")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span", F.lit(1).alias("is_rep"))
    )
    per = (
        sp.join(rep, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("is_rep"), F.lit(0))).alias("n_repeated"),
        )
    )
    return per.filter(F.col("n_repeated") > 0).select(
        "doc_id",
        "n_spans",
        "n_repeated",
        (F.col("n_repeated").cast("double") / F.col("n_spans")).alias(
            "repeated_frac"
        ),
    )


@query(
    "dedup_graph_degree",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
deg AS (
  SELECT id, COUNT(*) AS degree FROM (
    SELECT id_a AS id FROM pairs
    UNION ALL
    SELECT id_b AS id FROM pairs
  ) GROUP BY id
)
SELECT CAST(degree AS BIGINT) AS degree, COUNT(*) AS n_nodes
FROM deg
GROUP BY degree
""",
    tags=("dedup", "graph", "metric"),
)
def dedup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the verified near-dup graph — the
    capacity-planning histogram for everything downstream of pair
    generation: connected components' iteration count tracks the max
    degree, boilerplate hubs appear as a heavy tail, and the LSH
    hot-bucket cap threshold (operators/dedup.py:lsh_candidate_pairs)
    is tuned directly against this curve. Undirected degree: each
    a<b edge contributes to both endpoints.

    Plan shape at 100 TB: the edge list (already a vanishing fraction
    of the corpus) unions with itself column-projected, then two
    map-side-combined integer aggregations — shuffle carries (node,
    partial count) then (degree, partial count). Nothing quadratic,
    no text movement."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pairs = jaccard_pairs(
        sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir)
    ).select("id_a", "id_b")
    ends = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy(F.col("degree").cast("long").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


@query(
    "dedup_lsh_amplified",
    oracle=f"""
WITH {SQL_SHINGLES},
hp AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM sh
),
mh AS (
  SELECT doc_id, s.seed, MIN(h1 + s.seed * h2) AS sig
  FROM hp CROSS JOIN (SELECT unnest(range({NUM_HASHES})) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // {NUM_HASHES // BANDS} AS band,
         substr(md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)), 1, 16) AS key
  FROM mh GROUP BY doc_id, seed // {NUM_HASHES // BANDS}
),
bsz AS (SELECT band, key, COUNT(*) AS n_members FROM bands GROUP BY band, key),
collisions AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_bands
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  JOIN bsz z ON z.band = a.band AND z.key = a.key
            AND z.n_members <= {LSH_MAX_BUCKET}
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(n_bands AS BIGINT) AS n_band_matches
FROM collisions WHERE n_bands >= 2
""",
    tags=("dedup", "lsh", "amplification"),
)
def dedup_lsh_amplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-OR AMPLIFIED LSH: candidate pairs must agree on >= 2 of the
    4 bands instead of >= 1 — the classic amplification construction
    (each band is an AND of 3 minhashes; requiring r of b bands
    sharpens the collision-probability S-curve, trading recall near
    the threshold for a large false-positive reduction). At 100 TB the
    payoff is direct: candidate volume into the expensive Jaccard
    verification drops superlinearly, and the band-match COUNT is
    computable from the very rows the single-band path already
    shuffles — amplification is one extra integer aggregation, not a
    new pipeline.

    Plan shape: the band table (already capped by the same count
    window as lsh_candidate_pairs — hot buckets divert before
    pairing) pair-expands per band with multiplicity kept, then ONE
    map-side-combined groupBy(id_a, id_b) count filters to >= 2. The
    per-band expansion is the array expression over sorted bucket
    members, never a self-join."""
    from quick_and_easy_vectordb_spark.operators.dedup import lsh_band_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3)
    sigs = minhash_signatures(sh, NUM_HASHES)
    banded = lsh_band_table(sigs, NUM_HASHES, BANDS)
    w = Window.partitionBy("band", "key")
    capped = (
        banded.withColumn("n_members", F.count(F.lit(1)).over(w))
        .filter(F.col("n_members") <= LSH_MAX_BUCKET)
        .drop("n_members")
    )
    buckets = (
        capped.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    per_band_pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return (
        per_band_pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_band_matches"))
        .filter(F.col("n_band_matches") >= 2)
    )


@query(
    "dedup_soft_weight",
    oracle=f"""
WITH h AS (
  SELECT source, md5({SQL_NORM}) AS h FROM documents
),
cs AS (SELECT h, COUNT(*) AS c FROM h GROUP BY h)
SELECT h.source,
       CAST(cs.c AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) / cs.c AS soft_weight_total
FROM h JOIN cs ON cs.h = h.h
GROUP BY h.source, cs.c
""",
    tags=("dedup", "soft-dedup", "weighting"),
)
def dedup_soft_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT DEDUPLICATION weights (down-weight duplicates instead of
    dropping them — the sampling-weight alternative to hard removal,
    cf. SlimPajama-style per-cluster reweighting): every document in
    an exact-duplicate cluster of size c gets weight 1/c, so each
    distinct content contributes total mass 1 regardless of copy
    count. Reported per (source, cluster_size) so the output stays
    EXACT: the per-cell weight mass is one integer-over-integer
    division (n_docs/c) — a per-source float sum over millions of
    docs would be accumulation-order-dependent and unverifiable.

    Plan shape at 100 TB: identical skeleton to dedup_exact — the
    shuffle carries (md5, source) pairs only (text never leaves the
    map side), the cluster-size join is hash-keyed, and the final
    rollup is O(sources * distinct cluster sizes), a few hundred
    rows. Downstream samplers consume the (source, c) → weight table
    as a broadcast dim against the corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "source", F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"[ \t\n\x0B\f\r]+", " "))).alias("h")
    )
    cs = h.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return (
        h.join(cs, "h")
        .groupBy("source", "c")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "source",
            F.col("c").cast("long").alias("cluster_size"),
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("n_docs").cast("double") / F.col("c")).alias("soft_weight_total"),
        )
    )


_TUNE_CONFIGS = ((2, 6), (3, 4), (4, 3), (6, 2))

# Same hot-bucket cap as the production path (operators/dedup.py:141):
# a tuning run is exactly where a boilerplate mega-bucket is most likely
# to appear (the most permissive config collides the hardest), so the
# tuner must be bounded the same way the deployment it is tuning is.
_TUNE_BUCKET_CAP = 64


def _band_tuning_oracle() -> str:
    """Generate the SQL oracle for `dedup_band_tuning`: candidate and
    verified-pair counts for every (bands, rows-per-band) factoring of
    the 12 minhashes, sharing one signature table and one exact-Jaccard
    verification over the union of all configs' candidates."""
    parts = [f"""{SQL_SHINGLES},
hp AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM sh
),
mh AS (
  SELECT doc_id, s.seed, MIN(h1 + s.seed * h2) AS sig
  FROM hp CROSS JOIN (SELECT unnest(range({NUM_HASHES})) AS seed) s
  GROUP BY doc_id, s.seed
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)"""]
    cand_unions = []
    for b, r in _TUNE_CONFIGS:
        parts.append(f"""bands_{b} AS (
  SELECT doc_id, seed // {r} AS band,
         substr(md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)), 1, 16) AS key
  FROM mh GROUP BY doc_id, seed // {r}
)""")
        parts.append(f"""cand_{b} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_{b} a JOIN bands_{b} b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)""")
        cand_unions.append(
            f"SELECT {b} AS n_bands, {r} AS rows_per_band, id_a, id_b FROM cand_{b}"
        )
    parts.append("allc AS (" + " UNION ALL ".join(cand_unions) + ")")
    parts.append("""dp AS (SELECT DISTINCT id_a, id_b FROM allc),
inter AS (
  SELECT d.id_a, d.id_b, COUNT(*) AS n_inter
  FROM dp d
  JOIN sh s1 ON s1.doc_id = d.id_a
  JOIN sh s2 ON s2.doc_id = d.id_b AND s2.shingle = s1.shingle
  GROUP BY d.id_a, d.id_b
),
jac AS (
  SELECT i.id_a, i.id_b,
         CAST(n_inter AS DOUBLE) / CAST(ca.n + cb.n - n_inter AS DOUBLE) AS j
  FROM inter i
  JOIN cnt ca ON ca.doc_id = i.id_a
  JOIN cnt cb ON cb.doc_id = i.id_b
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(c.n_bands AS BIGINT) AS n_bands,
       CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COUNT(CASE WHEN j.j >= {JACCARD_T} THEN 1 END) AS BIGINT)
         AS n_verified,
       CAST(COUNT(CASE WHEN j.j >= {JACCARD_T} THEN 1 END) AS DOUBLE)
         / COUNT(*) AS precision
FROM allc c LEFT JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
GROUP BY 1, 2"""
    )


@query(
    "dedup_band_tuning",
    oracle=_band_tuning_oracle(),
    bench=True,
    tags=("dedup", "minhash", "lsh", "tuning", "s-curve"),
)
def dedup_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BAND TUNING table — the measurement behind choosing (b, r):
    every factoring of the 12 minhashes (2x6, 3x4, 4x3, 6x2) is
    evaluated on the SAME signature table, reporting candidate count
    and verified-pair precision per config. This is the s-curve
    trade made empirical: more bands / shorter rows moves the
    collision threshold left (more candidates, lower precision,
    higher recall) — the table a deployment consults before
    committing a band layout to 100 TB. Exact Jaccard is computed
    ONCE over the union of all configs' candidates and attributed
    back, so adding configs costs band hashing, not re-verification.

    Plan shape at 100 TB: signatures are built once (persisted, as
    in dedup_minhash_lsh); each config adds one (band, key) shuffle
    of O(docs * b) short rows; the verify join is bounded by the
    UNION of candidate sets. Pair expansion is CAPPED exactly like
    the production path (operators/dedup.py:141): a COUNT window
    over the (cfg, band, key) partitioning the bucket aggregation
    needs anyway marks bucket sizes BEFORE any member list
    materializes; buckets larger than ``_TUNE_BUCKET_CAP`` never
    pair-expand — their candidate contribution is added
    ANALYTICALLY as k·(k−1)/2 per diverted bucket (O(buckets)
    rows, no O(k²) blowup), counted as unverified. On corpora with
    no mega-bucket (this dataset) the table is bit-identical to
    the uncapped exact table; with one, n_candidates becomes a
    documented upper bound (cross-band duplicates of diverted
    pairs are not deduped — the bucket's members were never
    enumerated) while the plan stays bounded. Pinned by
    tests/test_round10_plans.py (synthetic mega-bucket: divert
    fires, no expansion; plan shows single window exchange)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # The same size-based jaccard_pairs(prefilter=...) choice the sibling
    # queries make (round-14: the semi-filter only amortizes when the
    # corpus shingle table dwarfs the candidate materialization).
    prefilter = _corpus_is_big(sf_dir)
    # Fused signature + shingle-array aggregation (round-14): sigs and
    # the verify join's docsets come out of ONE groupBy(id) exchange
    # and ONE persist (the materialization point ahead of the band
    # window — an earlier experiment that removed it measured 2-3 s
    # worse, so it stays).
    sigs = minhash_doc_table(
        shingle_table(docs, "text", "doc_id", 3), NUM_HASHES
    ).persist()
    # ALL configs' band keys in ONE projection + ONE (config, band,
    # key) shuffle — every factoring reads the same signature row, so
    # emitting the 15 band structs per doc map-side replaces the four
    # separate band shuffles (and four bucket-collect jobs) the first
    # cut ran per config. Same shuffled volume, one stage.
    # 16 hex chars (64 bits), not the full 32: the key only partitions
    # buckets, and halving it cuts ~25% of the (cfg, band, key) shuffle
    # row at 100 TB; mirrored by substr in the oracle so the grouping
    # stays cross-engine identical (SURVEY §7.19). The 15 structs are
    # assembled as ONE SQL string (round-14: Column assembly cost
    # ~150 py4j round trips of driver latency per plan).
    band_structs = []
    for b, r in _TUNE_CONFIGS:
        for band in range(b):
            members = ", ".join(
                f"CAST(mh{s} AS STRING)"
                for s in range(band * r, (band + 1) * r)
            )
            band_structs.append(
                f"named_struct('cfg', {b}, 'band', {band}, 'key', "
                f"substring(md5(concat_ws('|', {members})), 1, 16))"
            )
    banded = sigs.selectExpr(
        "id", "explode(array(" + ", ".join(band_structs) + ")) AS bk"
    ).select("id", "bk.cfg", "bk.band", "bk.key")
    # Bucket-size window BEFORE any member list materializes: the window
    # shares its (cfg, band, key) exchange with the groupBy below, so the
    # cap costs zero extra shuffles.
    wb = Window.partitionBy("cfg", "band", "key")
    banded = banded.withColumn("k", F.count(F.lit(1)).over(wb))
    # ONE aggregation pass over the banded rows feeds BOTH branches
    # (round-11, VERDICT r10 item 2): per bucket its size k and — only
    # under the cap — its sorted member list (collect_list skips the
    # NULLs the WHEN emits for mega-bucket rows, so a diverted bucket
    # carries an EMPTY array, never an O(k) one). The previous cut
    # re-scanned a persisted banded twice and pushed the mega-bucket
    # rows through a separate DISTINCT shuffle; bucket_stats is
    # O(buckets) rows, so re-deriving the two branches from it is a
    # cached in-memory scan, not a recomputation.
    # Singleton buckets (k = 1, the vast majority) can contribute
    # neither pairs nor diverted counts — drop them before the
    # aggregation so its state holds only collision buckets.
    bucket_stats = (
        banded.filter(F.col("k") > 1)
        .groupBy("cfg", "band", "key")
        .agg(
            F.first("k").alias("k"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("k") <= _TUNE_BUCKET_CAP, F.col("id"))
                )
            ).alias("ids"),
        )
        .persist()
    )
    buckets = bucket_stats.filter(
        (F.col("k") > 1) & (F.col("k") <= _TUNE_BUCKET_CAP)
    ).select("cfg", "ids")
    # Mega-buckets: never expanded — candidate contribution counted
    # analytically (k·(k−1)/2 per bucket), attributed per config.
    diverted = (
        bucket_stats.filter(F.col("k") > _TUNE_BUCKET_CAP)
        .groupBy("cfg")
        .agg(
            (F.sum(F.col("k").cast("long") * (F.col("k") - 1)) / 2)
            .cast("long")
            .alias("n_diverted")
        )
    )
    pairs = buckets.select(
        "cfg",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p"),
    )
    # ONE aggregation keys the candidate table by PAIR with the set of
    # configs that proposed it (round-14: replaces a per-(cfg, pair)
    # DISTINCT plus a second per-pair DISTINCT for the verify input —
    # two exchanges of the same rows — with a single (id_a, id_b)
    # exchange; a pair colliding in several bands of a config is
    # deduped by the set semantics, exactly like the old DISTINCT).
    pair_cfgs = (
        pairs.select("cfg", "p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.collect_set("cfg").alias("cfgs"))
        .persist()
    )
    jac = jaccard_pairs(
        None, pair_cfgs.select("id_a", "id_b"), threshold=0.0,
        prefilter=prefilter, docsets=sigs,
    )  # unthresholded: tuner judges
    joined = pair_cfgs.join(jac, ["id_a", "id_b"], "left")
    exact = (
        joined.select(F.explode("cfgs").alias("cfg"), "jaccard")
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count(F.when(F.col("jaccard") >= JACCARD_T, 1))
            .cast("long")
            .alias("n_verified"),
        )
        .select(
            F.col("cfg").cast("long").alias("n_bands"),
            (F.lit(NUM_HASHES) / F.col("cfg")).cast("long")
            .alias("rows_per_band"),
            "n_exact",
            "n_verified",
        )
    )
    # Fold the analytic diverted counts back in, driving the final table
    # from the config list (broadcast 4-row dim) so a config whose every
    # candidate was diverted still reports its analytic count. On corpora
    # with no mega-bucket (this dataset) diverted is empty and every
    # config has exact rows, so the table is bit-identical to the
    # uncapped exact oracle; rows with zero candidates of either kind are
    # dropped to match the oracle's GROUP BY over observed candidates.
    cfgs = spark.createDataFrame(
        [(b, r) for b, r in _TUNE_CONFIGS], "n_bands long, rows_per_band long"
    )
    return (
        cfgs.join(exact, ["n_bands", "rows_per_band"], "left")
        .join(diverted, cfgs["n_bands"] == diverted["cfg"], "left")
        .select(
            "n_bands",
            "rows_per_band",
            (
                F.coalesce(F.col("n_exact"), F.lit(0))
                + F.coalesce(F.col("n_diverted"), F.lit(0))
            )
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("n_verified"), F.lit(0))
            .cast("long")
            .alias("n_verified"),
            (
                F.coalesce(F.col("n_verified"), F.lit(0)).cast("double")
                / (
                    F.coalesce(F.col("n_exact"), F.lit(0))
                    + F.coalesce(F.col("n_diverted"), F.lit(0))
                )
            ).alias("precision"),
        )
        .filter(F.col("n_candidates") > 0)
    )


# --------------------------------------------------------------------------
# Round 7: incremental (new-batch-vs-index) dedup
# --------------------------------------------------------------------------

_INCR_NEW_START = 400


@query(
    "dedup_incremental_minhash",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
newdocs AS (
  SELECT doc_id FROM documents WHERE doc_id >= {_INCR_NEW_START}
),
hits AS (
  SELECT p.id_b AS doc_id, p.id_a AS partner, p.jaccard
  FROM pairs p WHERE p.id_b >= {_INCR_NEW_START}
),
best AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_partners,
         MAX(jaccard) AS best_jaccard,
         MIN(partner) FILTER (
           WHERE jaccard = (SELECT MAX(h2.jaccard) FROM hits h2
                            WHERE h2.doc_id = hits.doc_id)
         ) AS best_partner
  FROM hits GROUP BY doc_id
)
SELECT n.doc_id,
       CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup,
       COALESCE(b.n_partners, 0) AS n_partners,
       b.best_partner,
       b.best_jaccard
FROM newdocs n LEFT JOIN best b ON b.doc_id = n.doc_id
""",
    tags=("dedup", "minhash", "incremental", "llm-pipeline"),
    bench=True,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the shape a production ingest actually
    runs DAILY: an arriving batch (doc_id ≥ 400, standing in for
    today's crawl) is checked against the existing INDEX (everything
    earlier) plus itself, and each new document gets an admission
    verdict: keep, or duplicate-of (best-matching earlier doc by
    exact Jaccard, ties → smallest id). First-seen-wins falls out of
    the id order: a pair's later member is always the candidate
    duplicate.

    The key scale property: candidate generation needs only NEW
    bands probed against ALL bands. The pipeline declares the
    SYMMETRIC capped candidate join (reusing
    operators/dedup.py:lsh_candidate_pairs, hot-bucket cap and all)
    and then filters id_b to the new batch — Catalyst pushes that
    predicate through the verify join onto the pair stream, so the
    expensive Jaccard verification runs only for new-doc pairs. In a
    day-over-day deployment the index's shingles/signatures/bands are
    precomputed tables (they are pure functions of immutable docs);
    today's job shingles only the increment.

    Plan shape at 100 TB: O(new·bands) probe rows into the band
    shuffle; verification is the standard semi-filtered shingle join
    over surviving candidates; the verdict is one groupBy over
    verified pairs + a broadcast-sized left join back to the batch
    roster."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # fused signature + shingle-array aggregation (round-14, same
    # shape as dedup_minhash_lsh): one exchange, one persist
    dt = minhash_doc_table(shingle_table(docs), NUM_HASHES).persist()
    cand = lsh_candidate_pairs(dt, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pairs = jaccard_pairs(
        None, cand, JACCARD_T, prefilter=False, docsets=dt
    )
    hits = pairs.filter(F.col("id_b") >= _INCR_NEW_START).select(
        F.col("id_b").alias("doc_id"),
        F.col("id_a").alias("partner"),
        "jaccard",
    )
    wbest = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard"), F.asc("partner")
    )
    best = (
        hits.withColumn("rn", F.row_number().over(wbest))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_partners"),
            F.max("jaccard").alias("best_jaccard"),
            F.min(F.when(F.col("rn") == 1, F.col("partner"))).alias(
                "best_partner"
            ),
        )
    )
    newdocs = docs.filter(F.col("doc_id") >= _INCR_NEW_START).select("doc_id")
    j = newdocs.join(best, "doc_id", "left")
    return j.select(
        "doc_id",
        F.when(F.col("n_partners").isNull(), 0).otherwise(1).alias("is_dup"),
        F.coalesce(F.col("n_partners"), F.lit(0)).cast("long").alias(
            "n_partners"
        ),
        "best_partner",
        "best_jaccard",
    )


def _lpa_round_sql(prev: str, n: int) -> str:
    return f"""
v{n} AS (
  SELECT e.dst AS node, l.lbl AS nlbl, COUNT(*) AS c
  FROM edges e JOIN {prev} l ON l.node = e.src
  GROUP BY e.dst, l.lbl
),
l{n} AS (
  SELECT node, nlbl AS lbl FROM (
    SELECT node, nlbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, nlbl) AS rn
    FROM v{n}
  ) WHERE rn = 1
)"""


@query(
    "dedup_label_propagation",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
l0 AS (SELECT DISTINCT dst AS node, dst AS lbl FROM edges),
{_lpa_round_sql('l0', 1)},
{_lpa_round_sql('l1', 2)}
SELECT l2.node, CAST(l2.lbl AS BIGINT) AS community,
       CAST(COUNT(*) OVER (PARTITION BY l2.lbl) AS BIGINT) AS community_size
FROM l2
""",
    tags=("dedup", "graph", "label-propagation", "community"),
)
def dedup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL PROPAGATION community detection over the verified
    near-dup graph — two synchronous rounds of "adopt your
    neighborhood's majority label" (ties → smallest label), the
    scalable community algorithm (Raghavan et al. 2007) that
    complements connected components: CC merges anything touching,
    LPA keeps weakly-bridged boilerplate families apart, which is
    what you want before choosing one canonical doc per community.
    Every step is deterministic (count DESC, label ASC argmax), so
    two unrolled rounds hash-match the oracle exactly.

    Plan shape at 100 TB: per round one groupBy (node, neighbor
    label) on the edge list + a per-node WindowGroupLimit argmax —
    both partition by node, so AQE coalesces them onto one exchange;
    rounds are a lazily-composed DAG like ann_kmeans_iterated (at
    real scale: localCheckpoint per round to cut lineage). Edge
    lists come from the capped LSH pipeline, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # fused signature + shingle-array aggregation (round-14, same
    # shape as dedup_minhash_lsh): one exchange, one persist
    dt = minhash_doc_table(shingle_table(docs), NUM_HASHES).persist()
    cand = lsh_candidate_pairs(dt, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pairs = jaccard_pairs(
        None, cand, JACCARD_T, prefilter=False, docsets=dt
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).persist()
    labels = edges.select(F.col("dst").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(2):
        votes = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("lbl").alias("nlbl")
                ),
                "src",
            )
            .groupBy("dst", "nlbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        warg = Window.partitionBy("dst").orderBy(F.desc("c"), F.asc("nlbl"))
        labels = (
            votes.withColumn("rn", F.row_number().over(warg))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), F.col("nlbl").alias("lbl"))
        )
    wsz = Window.partitionBy("lbl")
    return labels.select(
        "node",
        F.col("lbl").cast("long").alias("community"),
        F.count(F.lit(1)).over(wsz).cast("long").alias("community_size"),
    )


@query(
    "dedup_graph_khop_reach",
    oracle="""
WITH RECURSIVE m AS (SELECT COUNT(*) AS n FROM customer),
e AS (
  SELECT c_custkey AS u, (c_custkey * 7919 + 1) % m.n AS v
  FROM customer, m
  UNION ALL
  SELECT c_custkey, (c_custkey * 104729 + 5) % m.n FROM customer, m
),
r(v, hop) AS (
  SELECT c_custkey, 0 FROM customer WHERE c_custkey % 97 = 0
  UNION ALL
  SELECT e.v, r.hop + 1 FROM r JOIN e ON e.u = r.v WHERE r.hop < 3
),
mh AS (SELECT v, MIN(hop) AS hop FROM r GROUP BY v)
SELECT CAST(hop AS BIGINT) AS hop,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(v) AS BIGINT) AS node_checksum
FROM mh GROUP BY hop
""",
    tags=("graph", "bfs", "reachability", "iterative"),
)
def dedup_graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-HOP BFS REACHABILITY — the bounded graph-expansion primitive
    (fraud-ring blast radius, social reach, recursive doc-link
    crawl) that complements the UNBOUNDED closures already here
    (dedup_clusters' connected components, dedup_pagerank): from a
    seed set (every 97th node), expand exactly 3 frontier hops over
    a 2-out-regular deterministic graph (out-edges of u are
    (u*7919+1) mod N and (u*104729+5) mod N over the customer key
    space) and report, per MINIMUM hop distance, how many nodes are
    first reached there. The Spark side unrolls the 3 hops as
    frontier equi-joins with a min-hop reduction; the oracle replays
    the same expansion as a bounded recursive CTE.

    Plan shape at 100 TB: each hop is one equi-join of the CURRENT
    FRONTIER (not the reached set) against the edge table — the join
    input stays O(frontier·out-degree); the min-hop dedup is one
    groupBy that also caps frontier re-growth. Edges partition once
    by source and every hop reuses that layout; k hops = k shuffles
    of frontier-sized data, the textbook Pregel round economics."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    n = cust.agg(F.count(F.lit(1)).alias("n"))
    keyed = cust.crossJoin(F.broadcast(n))
    edges = keyed.select(
        F.col("c_custkey").alias("u"),
        F.explode(
            F.array(
                (F.col("c_custkey") * 7919 + 1) % F.col("n"),
                (F.col("c_custkey") * 104729 + 5) % F.col("n"),
            )
        ).alias("v"),
    ).persist()
    frontier = cust.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("v"), F.lit(0).alias("hop")
    )
    reached = frontier
    for h in range(1, 4):
        frontier = (
            frontier.select(F.col("v").alias("u"))
            .distinct()
            .join(edges, "u")
            .select("v", F.lit(h).alias("hop"))
            .distinct()
        )
        reached = reached.unionAll(frontier)
    mh = reached.groupBy("v").agg(F.min("hop").alias("hop"))
    return mh.groupBy(F.col("hop").cast("long").alias("hop")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("v").cast("long").alias("node_checksum"),
    )


@query(
    "dedup_graph_source_modularity",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
lab AS (
  SELECT p.id_a, p.id_b, da.source AS sa, db.source AS sb
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
),
sym AS (
  SELECT id_a AS node FROM pairs
  UNION ALL SELECT id_b FROM pairs
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY node),
dc AS (
  SELECT dd.source, CAST(SUM(d) AS BIGINT) AS dsum
  FROM deg JOIN documents dd ON dd.doc_id = deg.node
  GROUP BY dd.source
),
t AS (
  SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS m,
         CAST((SELECT COUNT(*) FROM lab WHERE sa = sb) AS BIGINT) AS e_in,
         CAST((SELECT SUM(dsum * dsum) FROM dc) AS BIGINT) AS sum_dc2
)
SELECT m, e_in AS e_intra, CAST(m - e_in AS BIGINT) AS e_cross, sum_dc2,
       CAST(4 * m * e_in - sum_dc2 AS DOUBLE)
         / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) AS q
FROM t
""",
    tags=("dedup", "graph", "modularity", "curation-diagnostic"),
)
def dedup_graph_source_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWMAN MODULARITY of the verified near-dup graph under the
    SOURCE partition — the syndication diagnostic: Q near its maximum
    means duplicates stay inside their source (dedup can run
    per-source, embarrassingly parallel); Q near 0 or negative means
    heavy cross-source copying (mirror sites, content farms) and only
    a global dedup pass is sound.

    For communities c: Q = sum_c [e_c/m - (D_c/2m)^2], which over
    integer counts collapses to the single exact rational
    (4*m*e_in - sum_c D_c^2) / (4*m^2) — every term integer (e_in =
    intra-source edges, D_c = total degree per source), one float
    division at the end, so the score hash-matches bitwise.

    Plan shape at 100 TB: the LSH-capped pair generation dominates
    (operators/dedup.py); the modularity bookkeeping is two
    broadcast-scale joins of the edge list against the doc→source
    projection, a degree groupBy keyed by node, and O(sources)
    scalars. No step materializes anything bigger than the edge
    list."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    sh = shingle_table(docs.select("doc_id", "text"), "text", "doc_id", 3)
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pairs = (
        jaccard_pairs(sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir))
        .select("id_a", "id_b")
        .persist()
    )
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        ).join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
    )
    sym = pairs.select(F.col("id_a").alias("node")).unionAll(
        pairs.select(F.col("id_b").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    dc = (
        deg.join(src.select(F.col("doc_id").alias("node"), "source"), "node")
        .groupBy("source")
        .agg(F.sum("d").cast("long").alias("dsum"))
    )
    t = (
        pairs.agg(F.count(F.lit(1)).cast("long").alias("m"))
        .crossJoin(
            lab.filter(F.col("sa") == F.col("sb")).agg(
                F.count(F.lit(1)).cast("long").alias("e_in")
            )
        )
        .crossJoin(
            dc.agg(
                F.sum(F.col("dsum") * F.col("dsum"))
                .cast("long")
                .alias("sum_dc2")
            )
        )
    )
    return t.select(
        "m",
        F.col("e_in").alias("e_intra"),
        (F.col("m") - F.col("e_in")).cast("long").alias("e_cross"),
        "sum_dc2",
        (
            (4 * F.col("m") * F.col("e_in") - F.col("sum_dc2")).cast("double")
            / (
                F.lit(4.0)
                * F.col("m").cast("double")
                * F.col("m").cast("double")
            )
        ).alias("q"),
    )


@query(
    "dedup_graph_link_prediction",
    oracle="""
WITH m AS (SELECT COUNT(*) AS n FROM customer),
e0 AS (
  SELECT c_custkey AS u, (c_custkey * 7919 + 1) % m.n AS v
  FROM customer, m
  UNION ALL
  SELECT c_custkey, (c_custkey * 104729 + 5) % m.n FROM customer, m
),
ed AS (
  SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
  FROM e0 WHERE u <> v
),
sym AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
w AS (
  SELECT e1.a AS a, e2.b AS c, CAST(COUNT(*) AS BIGINT) AS cn
  FROM sym e1 JOIN sym e2 ON e2.a = e1.b AND e1.a < e2.b
  GROUP BY 1, 2
),
nonedge AS (
  SELECT w.a, w.c, w.cn
  FROM w LEFT JOIN ed p ON p.a = w.a AND p.b = w.c
  WHERE p.a IS NULL
)
SELECT n.a AS id_a, n.c AS id_b, n.cn AS common_neighbors,
       CAST(n.cn AS DOUBLE) / (da.d + dc.d - n.cn) AS jaccard_score
FROM nonedge n
JOIN deg da ON da.node = n.a
JOIN deg dc ON dc.node = n.c
ORDER BY n.cn DESC, n.a, n.c
LIMIT 20
""",
    tags=("graph", "link-prediction", "common-neighbors"),
)
def dedup_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by common-neighbor count and neighborhood
    Jaccard over the same deterministic 2-out-regular graph the k-hop
    BFS uses (dedup_graph_khop_reach) — rank NON-edges at distance 2
    by how much neighborhood they share, the "probably the same
    entity / probably duplicates" review queue of every entity-
    resolution pipeline. (The verified near-dup graph itself is
    unsuitable as a fixture here: transitive copying makes its
    components near-cliques, so it has almost no distance-2
    non-edges to rank — an expander-shaped graph exercises the
    operator for real.)

    Candidate generation is the ordered wedge join from
    dedup_graph_triangles (never all-pairs), minus existing edges via
    one left-anti join. Scores are exact integers except the final
    Jaccard division; the top-20 cutoff is the deterministic total
    order (cn DESC, id_a, id_b).

    Plan shape at 100 TB: two self equi-joins of the edge list keyed
    by vertex (work bounded by sum of squared degrees — here 4·|V|),
    a groupBy on wedge ends, an anti join back to the edge list, two
    degree joins, and a TakeOrdered(20). Nothing materializes beyond
    O(wedges)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    n = cust.agg(F.count(F.lit(1)).alias("n"))
    e0 = cust.crossJoin(F.broadcast(n)).select(
        F.col("c_custkey").alias("u"),
        F.explode(
            F.array(
                (F.col("c_custkey") * 7919 + 1) % F.col("n"),
                (F.col("c_custkey") * 104729 + 5) % F.col("n"),
            )
        ).alias("v"),
    )
    ed = (
        e0.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
        .persist()
    )
    sym = ed.unionAll(ed.select(F.col("b"), F.col("a")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    w = (
        sym.alias("e1")
        .join(
            sym.alias("e2"),
            (F.col("e2.a") == F.col("e1.b"))
            & (F.col("e1.a") < F.col("e2.b")),
        )
        .groupBy(F.col("e1.a").alias("a"), F.col("e2.b").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    nonedge = w.join(
        ed,
        (w["a"] == ed["a"]) & (w["c"] == ed["b"]),
        "left_anti",
    )
    scored = (
        nonedge.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a"
        )
        .join(
            deg.select(F.col("node").alias("c"), F.col("d").alias("dc")), "c"
        )
        .select(
            F.col("a").alias("id_a"),
            F.col("c").alias("id_b"),
            F.col("cn").alias("common_neighbors"),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("dc") - F.col("cn"))
            ).alias("jaccard_score"),
        )
    )
    return scored.orderBy(
        F.desc("common_neighbors"), "id_a", "id_b"
    ).limit(20)


@query(
    "dedup_edit_distance_blocked",
    oracle=f"""
WITH n AS (
  SELECT doc_id, {SQL_NORM} AS norm FROM documents
),
k AS (
  SELECT doc_id, norm,
         substr(norm, 1, 12) || '|' ||
           CAST(len(norm) // 32 AS VARCHAR) AS blk
  FROM n WHERE len(norm) > 0
),
bsz AS (SELECT blk, COUNT(*) AS nb FROM k GROUP BY blk),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         substr(a.norm, 1, 64) AS pa, substr(b.norm, 1, 64) AS pb
  FROM k a
  JOIN k b ON b.blk = a.blk AND a.doc_id < b.doc_id
  JOIN bsz z ON z.blk = a.blk AND z.nb <= 64
)
SELECT id_a, id_b,
       CAST(levenshtein(pa, pb) AS BIGINT) AS lev64,
       1.0 - CAST(levenshtein(pa, pb) AS DOUBLE) / 64.0 AS prefix_sim
FROM cand
WHERE levenshtein(pa, pb) <= 8
""",
    tags=("dedup", "edit-distance", "levenshtein", "blocking"),
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE near-duplicate pairs — the character-level
    complement to shingle Jaccard (dedup_minhash_lsh): Levenshtein
    catches single-character corruptions, OCR noise, and small
    insertions that leave most word shingles intact but matter for
    byte-exact dedup decisions. Candidate pairs are BLOCKED on
    (12-char normalized prefix, length div 32) — the classic
    entity-resolution blocking key — with the same hot-block cap
    (<= 64 members) the LSH path enforces, so no block can go
    quadratic; the distance itself runs on the 64-char prefix,
    bounding per-pair cost at a constant 64x64 DP regardless of
    document length (full-text distance on a 100 TB corpus is
    pointless once the prefix already disagrees by > 8 edits).

    Both engines implement codepoint-level Levenshtein with unit
    costs; the cross-engine hash pins that equivalence. The blocking
    trades recall for scale exactly like every production ER system:
    a near-dup pair differing inside its first 12 characters is
    missed here and caught by the shingle path.

    Plan shape at 100 TB: one shuffle on the block key, block-local
    pair generation capped at 64*63/2 pairs, constant-cost distance
    in whole-stage codegen (levenshtein is a JVM builtin). No
    all-pairs product anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"[ \t\n\x0B\f\r]+", " ")
    )
    k = docs.select(
        "doc_id",
        norm.alias("norm"),
    ).filter(F.length("norm") > 0).select(
        "doc_id",
        "norm",
        F.concat(
            F.substring("norm", 1, 12),
            F.lit("|"),
            F.expr("length(norm) div 32").cast("string"),
        ).alias("blk"),
    )
    bsz = k.groupBy("blk").agg(F.count(F.lit(1)).alias("nb"))
    kk = k.join(bsz, "blk").filter(F.col("nb") <= 64)
    a = kk.select(
        "blk",
        F.col("doc_id").alias("id_a"),
        F.substring("norm", 1, 64).alias("pa"),
    )
    b = kk.select(
        "blk",
        F.col("doc_id").alias("id_b"),
        F.substring("norm", 1, 64).alias("pb"),
    )
    cand = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    lev = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        cand.select(
            "id_a",
            "id_b",
            lev.cast("long").alias("lev64"),
            (F.lit(1.0) - lev.cast("double") / F.lit(64.0)).alias(
                "prefix_sim"
            ),
        )
        .filter(F.col("lev64") <= 8)
    )


@query(
    "dedup_cross_source_matrix",
    oracle=f"""
WITH {SQL_SHINGLES},
h AS (
  SELECT DISTINCT d.source, s.shingle AS ch
  FROM sh s JOIN documents d ON d.doc_id = s.doc_id
),
p AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM h a JOIN h b ON b.ch = a.ch AND a.source < b.source
  GROUP BY 1, 2
),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY source)
SELECT p.source_a, p.source_b, p.n_shared,
       sa.n AS n_distinct_a, sb.n AS n_distinct_b,
       CAST(p.n_shared AS DOUBLE)
         / (sa.n + sb.n - p.n_shared) AS content_jaccard
FROM p
JOIN sz sa ON sa.source = p.source_a
JOIN sz sb ON sb.source = p.source_b
""",
    tags=("dedup", "cross-source", "contamination", "syndication-matrix"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE DUPLICATION MATRIX: for every source pair, how
    many distinct word-3-gram shingles they SHARE, plus the
    shingle-level Jaccard between the sources — the
    contamination/syndication report that decides which sources are
    mirrors of each other (drop one) vs genuinely complementary.
    dedup_rate_by_source measures duplication WITHIN a source;
    dedup_graph_source_modularity summarizes cross-source copying as
    one scalar; this is the full pairwise picture a curation review
    actually reads.

    All exact: distinct (source, shingle) pairs, one self equi-join
    on the shingle, exact distinct counts per source, one final
    division. (Exact-content hashes would be vacuous here: verbatim
    duplicates never cross sources in this corpus — phrase-level
    shingles are where syndication actually shows.)

    Plan shape at 100 TB: the (source, shingle) distinct is one
    map-side-combined shuffle; the self-join is keyed by the shingle
    (fan-out per shingle = number of sources containing it, <= 
    |sources|); output is O(sources^2) rows. Swap the shingle column
    for MinHash signatures to get the NEAR-dup contamination matrix
    at a 12x smaller shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(
        docs.select("doc_id", "text"), "text", "doc_id", 3
    )
    h = (
        sh.join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .select("source", F.col("shingle").alias("ch"))
        .distinct()
        .persist()
    )
    a = h.select(F.col("source").alias("source_a"), "ch")
    b = h.select(F.col("source").alias("source_b"), "ch")
    p = (
        a.join(b, "ch")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sz = h.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        p.join(
            sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_distinct_a")),
            "source_a",
        )
        .join(
            sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_distinct_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_distinct_a",
            "n_distinct_b",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("n_distinct_a")
                    + F.col("n_distinct_b")
                    - F.col("n_shared")
                )
            ).alias("content_jaccard"),
        )
    )


@query(
    "dedup_minhash_1bit",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
est AS (
  SELECT p.id_a, p.id_b, p.jaccard,
         CAST(SUM(CASE WHEN ma.sig = mb.sig THEN 1 ELSE 0 END) AS DOUBLE)
           / {NUM_HASHES} AS est_full,
         CAST(SUM(CASE WHEN ma.sig % 2 = mb.sig % 2 THEN 1 ELSE 0 END)
              AS DOUBLE) / {NUM_HASHES} AS agree_1bit
  FROM pairs p
  JOIN mh ma ON ma.doc_id = p.id_a
  JOIN mh mb ON mb.doc_id = p.id_b AND mb.seed = ma.seed
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, jaccard, est_full,
       2.0 * agree_1bit - 1.0 AS est_1bit,
       abs(2.0 * agree_1bit - 1.0 - jaccard) AS abs_err_1bit
FROM est ORDER BY abs_err_1bit DESC, id_a, id_b LIMIT 20
""",
    tags=("dedup", "minhash", "b-bit", "sketch-compression"),
)
def dedup_minhash_1bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-BIT MINHASH (b-bit minwise hashing, Li & Koenig 2010) — the
    sketch-compression step that makes web-scale dedup indexes fit
    in memory: keep only the LOWEST BIT of each minhash value (64x
    less state per hash) and estimate Jaccard from bit agreement
    via J_hat = 2*P(agree) - 1 (unmatched minima agree with
    probability 1/2, matched ones always — the b=1, sparse-set form
    of Li-Koenig's estimator). For every verified near-dup pair this
    reports the exact Jaccard, the full-width 12-hash estimate, and
    the 1-bit estimate with its absolute error — quantifying exactly
    what the 64x compression costs in resolution (std dev grows
    ~2x at J=0.5, so 1-bit needs ~4x more hashes for equal variance:
    still a 16x net win, which is why production systems use it).

    Plan shape at 100 TB: identical joins to
    dedup_minhash_estimate_quality (pair table keyed to the O(docs)
    signature table twice); the bit extraction is one integer mod in
    codegen. At serving time the 12 bits pack into a SHORT — the
    whole dedup index for a trillion documents fits a few TB."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pairs = jaccard_pairs(
        sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir)
    )
    a = sigs.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(NUM_HASHES)],
    )
    b = sigs.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(NUM_HASHES)],
    )
    full_agree = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(NUM_HASHES)
    )
    bit_agree = sum(
        F.when(F.col(f"a{s}") % 2 == F.col(f"b{s}") % 2, 1).otherwise(0)
        for s in range(NUM_HASHES)
    )
    est = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            (full_agree.cast("double") / NUM_HASHES).alias("est_full"),
            (bit_agree.cast("double") / NUM_HASHES).alias("agree_1bit"),
        )
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "est_full",
            (F.lit(2.0) * F.col("agree_1bit") - F.lit(1.0)).alias(
                "est_1bit"
            ),
            F.abs(
                F.lit(2.0) * F.col("agree_1bit")
                - F.lit(1.0)
                - F.col("jaccard")
            ).alias("abs_err_1bit"),
        )
    )
    return est.orderBy(F.desc("abs_err_1bit"), "id_a", "id_b").limit(20)


@query(
    "dedup_minhash_prf_eval",
    oracle=f"""
WITH {SQL_VERIFIED_PAIRS},
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 64
),
shr AS (SELECT s.doc_id, s.shingle FROM sh s JOIN rare USING (shingle)),
cand2 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM shr a JOIN shr b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
),
inter2 AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand2 c
  JOIN sh s1 ON s1.doc_id = c.id_a
  JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
  GROUP BY c.id_a, c.id_b
),
gt AS (
  SELECT i.id_a, i.id_b
  FROM inter2 i
  JOIN cnt ca ON ca.doc_id = i.id_a
  JOIN cnt cb ON cb.doc_id = i.id_b
  WHERE CAST(n_inter AS DOUBLE)
        / CAST(ca.n + cb.n - n_inter AS DOUBLE) >= {JACCARD_T}
),
tp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs p JOIN gt ON gt.id_a = p.id_a AND gt.id_b = p.id_b
),
t AS (
  SELECT (SELECT n FROM tp) AS tp,
         CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_pred,
         CAST((SELECT COUNT(*) FROM gt) AS BIGINT) AS n_gt
)
SELECT tp, n_pred, n_gt,
       CAST(n_pred - tp AS BIGINT) AS fp,
       CAST(n_gt - tp AS BIGINT) AS fn,
       CAST(tp AS DOUBLE) / n_pred AS precision_p,
       CAST(tp AS DOUBLE) / n_gt AS recall
FROM t
""",
    tags=("dedup", "evaluation", "precision-recall", "lsh-banding"),
)
def dedup_minhash_prf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION / RECALL of the MinHash-LSH detector against the
    EXHAUSTIVE same-threshold ground truth — the banding-miss
    measurement a dedup rollout report leads with: ground truth is
    every pair with exact shingle-Jaccard >= {JACCARD_T}, generated
    by the rare-shingle inverted-index join (all pairs sharing at
    least one shingle with document frequency <= 64 — the same
    hot-key cap discipline as the LSH bucket cap, documented rather
    than silent); predictions are the banded-and-verified LSH pairs.
    Recall < 1 exposes pairs whose 12-hash/4-band signatures never
    collided (the s-curve's miss probability at J ~= {JACCARD_T} is
    real); precision < 1 would expose verification bugs (it cannot
    be, since predictions are exact-verified — the row proves it).

    All pair counts exact; two float ratios at the end.

    Plan shape at 100 TB: the ground-truth join's work is
    sum over rare shingles of df^2 (bounded by the cap); at real
    scale you run this on a SAMPLED stratum to estimate recall — the
    plan shape is identical, only the input shrinks."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pred = jaccard_pairs(
        sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir)
    ).select("id_a", "id_b").persist()
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 64)
        .select("shingle")
    )
    shr = sh.join(rare, "shingle")
    cand2 = (
        shr.select(F.col("id").alias("id_a"), "shingle")
        .join(shr.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    gt = jaccard_pairs(
        sh, cand2, JACCARD_T, prefilter=_corpus_is_big(sf_dir)
    ).select("id_a", "id_b").persist()
    tp = pred.join(gt, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("tp")
    )
    t = (
        tp.crossJoin(
            pred.agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
        ).crossJoin(gt.agg(F.count(F.lit(1)).cast("long").alias("n_gt")))
    )
    return t.select(
        "tp",
        "n_pred",
        "n_gt",
        (F.col("n_pred") - F.col("tp")).cast("long").alias("fp"),
        (F.col("n_gt") - F.col("tp")).cast("long").alias("fn"),
        (F.col("tp").cast("double") / F.col("n_pred")).alias("precision_p"),
        (F.col("tp").cast("double") / F.col("n_gt")).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Round 8: SemDeDup — semantic deduplication in embedding space
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication").
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.30
_SEMDEDUP_DIM = 64


@query(
    "dedup_semdedup",
    oracle=f"""
WITH pos AS (SELECT unnest(range(1, {_SEMDEDUP_DIM} + 1)) AS pos),
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
cl AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
cs AS (
  SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v,
         {sql_cosine('e.embedding::DOUBLE[]', 'cl.cv')} AS cent_cos
  FROM embeddings e JOIN cl ON cl.label = e.label
),
removed AS (
  SELECT a.vec_id, a.label
  FROM cs a
  WHERE EXISTS (
    SELECT 1 FROM cs b
    WHERE b.label = a.label AND b.vec_id <> a.vec_id
      AND {sql_cosine('a.v', 'b.v')} >= {_SEMDEDUP_TAU}
      AND (b.cent_cos < a.cent_cos
           OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
  )
)
SELECT cs.label AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(r.vec_id) AS BIGINT) AS n_removed,
       CAST(COUNT(*) - COUNT(r.vec_id) AS BIGINT) AS n_kept
FROM cs LEFT JOIN removed r ON r.vec_id = cs.vec_id
GROUP BY cs.label
""",
    tags=("dedup", "semdedup", "embedding", "cluster"),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal
    in embedding space — cluster the corpus, and WITHIN each cluster
    drop all but one member of every high-cosine duplicate set,
    preferring to keep the member FARTHEST from the cluster centroid
    (the paper's choice: extreme points carry more learning signal
    than the prototypical center). The pipeline stage k-means would
    provide is stood in for by the `label` column (the same cell
    structure the IVF queries quantize into; ann_kmeans_iterated is
    the real clustering path); centroids are the decimal-exact
    per-label means (operators/ann.py:centroids_by_key).

    Removal uses the DOMINANCE rule: v is removed iff some same-
    cluster u has cosine(u, v) ≥ {_SEMDEDUP_TAU} and strictly lower
    centroid-cosine (ties → lower vec_id). One parallel pass, order-
    free — a documented deviation from the paper's sequential greedy
    scan, which removes a (possibly smaller) subset but is inherently
    order-dependent and serial per cluster.

    100 TB shape: all pair work is the label-blocked self-equi-join
    (O(Σ cell²), the cell-size cap discipline of the LSH bucket join
    applies); the centroid table is O(clusters) and BROADCAST back;
    the dominance test needs no iteration, unlike connected
    components — this is precisely why SemDeDup scales to web
    corpora. Reference basis: app.py:105-118 appends raw rows with no
    dedup at all; this is the missing admission gate."""
    emb = ensure_parallelism(  # round-14: single-split scan fed heavy per-row work
        load_table(spark, sf_dir, "embeddings")
    )
    from quick_and_easy_vectordb_spark.functions.vector import (
        cosine_similarity,
    )
    from quick_and_easy_vectordb_spark.operators.ann import centroids_by_key

    cent = centroids_by_key(emb, "embedding", "label").select(
        F.col("key").alias("label"), F.col("centroid")
    )
    # cs feeds three consumers (both self-join sides + the final
    # count); persist so the centroid aggregation runs once, not 3x.
    cs = emb.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        "embedding",
        cosine_similarity("embedding", "centroid")
        .alias("cent_cos"),
    ).persist()
    a = cs.select(
        "label",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("cent_cos").alias("ca"),
    )
    b = cs.select(
        "label",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("cent_cos").alias("cb"),
    )
    dominated = (
        a.join(b, "label")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(cosine_similarity("va", "vb") >= _SEMDEDUP_TAU)
        .filter(
            (F.col("cb") < F.col("ca"))
            | ((F.col("cb") == F.col("ca")) & (F.col("id_b") < F.col("id_a")))
        )
        .select("label", F.col("id_a").alias("vec_id"))
        .distinct()
    )
    return (
        cs.select("label", "vec_id")
        .join(dominated.withColumn("rm", F.lit(1)), ["label", "vec_id"], "left")
        .groupBy(F.col("label").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.count("rm").cast("long").alias("n_removed"),
            (F.count(F.lit(1)) - F.count("rm")).cast("long").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Round 8: bloom-prefiltered incremental admission.
# ---------------------------------------------------------------------------

_BPF_WORDS = 256           # bloom words per band
_BPF_BITS = 63             # usable bits per BIGINT word (see lakehouse)
_BPF_M = _BPF_WORDS * _BPF_BITS


def _bpf_h(key: str, pos: int) -> str:
    return f"(('0x' || substr(md5({key}), {pos}, 8))::BIGINT % {_BPF_M})"


@query(
    "dedup_bloom_prefilter",
    oracle=f"""
WITH {SQL_SHINGLES},
hp AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM sh
),
mh AS (
  SELECT doc_id, s.seed, MIN(h1 + s.seed * h2) AS sig
  FROM hp CROSS JOIN (SELECT unnest(range({NUM_HASHES})) AS seed) s
  GROUP BY doc_id, s.seed
),
bandt AS (
  SELECT doc_id, seed // 3 AS band,
         substr(md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)), 1, 16) AS key
  FROM mh GROUP BY doc_id, seed // 3
),
oldb AS (SELECT DISTINCT band, key FROM bandt
         WHERE doc_id < {_INCR_NEW_START}),
newb AS (SELECT doc_id, band, key FROM bandt
         WHERE doc_id >= {_INCR_NEW_START}),
bloom AS (
  SELECT band, h // {_BPF_BITS} AS word,
         bit_or(1::BIGINT << CAST(h % {_BPF_BITS} AS INT)) AS bits
  FROM (
    SELECT band, {_bpf_h('key', 1)} AS h FROM oldb
    UNION ALL
    SELECT band, {_bpf_h('key', 9)} AS h FROM oldb
  ) GROUP BY 1, 2
),
probe AS (
  SELECT n.doc_id, n.band, n.key,
         {_bpf_h('n.key', 1)} AS ha, {_bpf_h('n.key', 9)} AS hb
  FROM newb n
),
hit AS (
  SELECT p.doc_id, p.band, p.key,
         CASE WHEN b1.bits IS NOT NULL
                AND (b1.bits & (1::BIGINT << CAST(p.ha % {_BPF_BITS} AS INT)))
                      <> 0
                AND b2.bits IS NOT NULL
                AND (b2.bits & (1::BIGINT << CAST(p.hb % {_BPF_BITS} AS INT)))
                      <> 0
              THEN 1 ELSE 0 END AS bloom_hit
  FROM probe p
  LEFT JOIN bloom b1 ON b1.band = p.band AND b1.word = p.ha // {_BPF_BITS}
  LEFT JOIN bloom b2 ON b2.band = p.band AND b2.word = p.hb // {_BPF_BITS}
),
truth AS (
  SELECT n.doc_id, n.band, 1 AS true_match
  FROM newb n JOIN oldb o ON o.band = n.band AND o.key = n.key
),
per_doc AS (
  SELECT h.doc_id,
         CAST(SUM(h.bloom_hit) AS BIGINT) AS n_band_hits,
         CAST(COUNT(t.true_match) AS BIGINT) AS n_true_band_matches
  FROM hit h
  LEFT JOIN truth t ON t.doc_id = h.doc_id AND t.band = h.band
  GROUP BY h.doc_id
)
SELECT doc_id, n_band_hits, n_true_band_matches,
       CASE WHEN n_band_hits = 0 THEN 1 ELSE 0 END AS fast_admitted,
       CASE WHEN n_band_hits > 0 THEN 1 ELSE 0 END AS needs_verify
FROM per_doc
""",
    tags=("dedup", "bloom", "incremental", "admission"),
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-PREFILTERED INCREMENTAL ADMISSION — the O(1)-state fast
    path in front of dedup_incremental_minhash: the day-1 index's
    band keys are folded into per-band Bloom bitmaps
    ({_BPF_WORDS} × {_BPF_BITS}-bit words per band, k = 2 hash
    windows of one md5), and a day-2 document whose EVERY band misses
    the bloom is admitted immediately — by the no-false-negative
    guarantee it cannot collide with any indexed band, so it needs NO
    join against the index at all. Only bloom-hit bands proceed to
    the exact (band, key) probe. The output pins the guarantee row by
    row: n_true_band_matches ≤ n_band_hits always, and every truly
    colliding doc has needs_verify = 1.

    100 TB shape: the bloom table is O(bands · words) = {4 * _BPF_WORDS}
    BIGINTs REGARDLESS of index size — it broadcasts where the
    band-key index cannot; the expensive index equi-join runs only on
    the bloom-hit fraction (tunable via m/n). This is the admission
    architecture of production dedup services (index in a KV store,
    bloom in RAM at the ingest edge)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3)
    bands = lsh_band_table(minhash_signatures(sh, NUM_HASHES), NUM_HASHES, 4)
    oldb = (
        bands.filter(F.col("id") < _INCR_NEW_START)
        .select("band", "key").distinct()
    )
    newb = bands.filter(F.col("id") >= _INCR_NEW_START)

    def h(key: str, pos: int) -> str:
        return (
            f"(cast(conv(substr(md5({key}), {pos}, 8), 16, 10) as bigint)"
            f" % {_BPF_M})"
        )

    bloom = (
        oldb.selectExpr(f"band", f"{h('key', 1)} AS hh")
        .unionByName(oldb.selectExpr("band", f"{h('key', 9)} AS hh"))
        .selectExpr(
            "band",
            f"hh div {_BPF_BITS} AS word",
            f"shiftleft(cast(1 as bigint),"
            f" cast(hh % {_BPF_BITS} as int)) AS m",
        )
        .groupBy("band", "word")
        .agg(F.bit_or("m").alias("bits"))
    )
    probe = newb.selectExpr(
        "id AS doc_id", "band", "key",
        f"{h('key', 1)} AS ha", f"{h('key', 9)} AS hb",
    )
    b1 = bloom.select(
        F.col("band").alias("band1"), F.col("word").alias("word1"),
        F.col("bits").alias("bits1"))
    b2 = bloom.select(
        F.col("band").alias("band2"), F.col("word").alias("word2"),
        F.col("bits").alias("bits2"))
    hit = (
        probe.join(
            F.broadcast(b1),
            (F.col("band1") == F.col("band"))
            & (F.col("word1") == F.expr(f"ha div {_BPF_BITS}")),
            "left",
        )
        .join(
            F.broadcast(b2),
            (F.col("band2") == F.col("band"))
            & (F.col("word2") == F.expr(f"hb div {_BPF_BITS}")),
            "left",
        )
        .selectExpr(
            "doc_id", "band", "key",
            f"CASE WHEN bits1 IS NOT NULL"
            f" AND (bits1 & shiftleft(cast(1 as bigint),"
            f"      cast(ha % {_BPF_BITS} as int))) <> 0"
            f" AND bits2 IS NOT NULL"
            f" AND (bits2 & shiftleft(cast(1 as bigint),"
            f"      cast(hb % {_BPF_BITS} as int))) <> 0"
            f" THEN 1 ELSE 0 END AS bloom_hit",
        )
    )
    truth = (
        newb.select(F.col("id").alias("doc_id"), "band", "key")
        .join(oldb, ["band", "key"], "left_semi")
        .select("doc_id", "band")
        .withColumn("true_match", F.lit(1))
    )
    per_doc = (
        hit.join(truth, ["doc_id", "band"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum("bloom_hit").cast("long").alias("n_band_hits"),
            F.count("true_match").cast("long").alias("n_true_band_matches"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_band_hits",
        "n_true_band_matches",
        F.when(F.col("n_band_hits") == 0, 1).otherwise(0)
        .alias("fast_admitted"),
        F.when(F.col("n_band_hits") > 0, 1).otherwise(0)
        .alias("needs_verify"),
    )


_PARA_WORDS = 20  # fixed paragraph width (words); the fixture corpus
# carries no newline paragraph breaks, so the CCNet unit is a
# sequential word window — same discipline, synthetic boundary


@query(
    "dedup_paragraph_ccnet",
    oracle=f"""
WITH norm AS (SELECT doc_id, source, {SQL_NORM} AS t FROM documents),
toks AS (SELECT doc_id, source, string_split(t, ' ') AS w
         FROM norm WHERE t <> ''),
paras AS (
  SELECT doc_id, source,
         unnest(range(0, CAST(ceil(len(w) / {_PARA_WORDS}.0) AS BIGINT)))
           AS pidx,
         unnest(list_transform(
           range(0, CAST(ceil(len(w) / {_PARA_WORDS}.0) AS BIGINT)),
           i -> array_to_string(
                  w[(i * {_PARA_WORDS} + 1):(i * {_PARA_WORDS}
                     + {_PARA_WORDS})], ' '))) AS para
  FROM toks),
ranked AS (
  SELECT doc_id, source, pidx,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, pidx) AS rn
  FROM paras)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(COALESCE(SUM(CASE WHEN rn > 1 THEN 1 END), 0) AS BIGINT)
         AS n_dropped,
       CAST(COALESCE(SUM(CASE WHEN rn > 1 THEN 1 END), 0) AS DOUBLE)
         / COUNT(*) AS drop_rate,
       CAST(COUNT(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS BIGINT)
         AS n_docs_touched
FROM ranked GROUP BY source
""",
    tags=("dedup", "paragraph", "ccnet", "sub-document"),
)
def dedup_paragraph_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-level dedup accounting (CCNet, Wenzek et al. 2020):
    documents split into fixed {_PARA_WORDS}-word paragraphs, each
    paragraph's md5 keeps only its FIRST occurrence corpus-wide
    ((doc_id, pidx) order — the deterministic tiebreak CCNet's
    shard-order "first seen" becomes under a defined global order),
    and the per-SOURCE removal rates are the deliverable: sub-document
    boilerplate (headers, navigation, licenses) concentrates in
    specific sources, and this table is where that shows before any
    document-level MinHash would fire. Complements text_span_dedup
    (repeated 8-gram CATALOG — detection) with the removal-side
    accounting (what fraction of each source's text survives
    paragraph dedup).

    Plan shape at 100 TB: paragraph split is a map-side
    transform+posexplode; the ONLY data-sized shuffle is the
    partitionBy(hash) window (each hash group = instances of one
    paragraph text, bounded by the corpus duplication rate), and the
    source rollup is map-side-combinable over O(sources) keys.
    Reference: app.py has no dedup at all (SURVEY §2b M4)."""
    from quick_and_easy_vectordb_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = ensure_parallelism(docs).select(
        "doc_id", "source", tokens("text").alias("w")
    ).filter(F.size("w") > 0)
    n_paras = F.ceil(F.size("w") / F.lit(float(_PARA_WORDS))).cast("long")
    paras = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda i: F.array_join(
                    F.slice("w", (i * _PARA_WORDS + 1).cast("int"),
                            _PARA_WORDS),
                    " ",
                ),
            )
        ).alias("pidx", "para"),
    )
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "pidx")
    ranked = paras.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.coalesce(F.sum((F.col("rn") > 1).cast("int")), F.lit(0))
        .cast("long")
        .alias("n_dropped"),
        (
            F.coalesce(F.sum((F.col("rn") > 1).cast("int")), F.lit(0))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("drop_rate"),
        F.count_distinct(
            F.when(F.col("rn") > 1, F.col("doc_id"))
        ).cast("long").alias("n_docs_touched"),
    )


# --------------------------------------------------------------------------
# Round 10: asymmetric (containment) near-dup detection
# --------------------------------------------------------------------------

_CONTAIN_T = 0.8
_QUOTE_SHIFT = 1_000_000


@query(
    "dedup_minhash_containment",
    oracle=f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT d.doc_id + {_QUOTE_SHIFT}, d.text || ' ' || d2.text
  FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id + 1
  WHERE d.doc_id % 10 = 0
),
normc AS (SELECT doc_id, {SQL_NORM.replace("text", "u.text")} AS t FROM u),
tokc AS (SELECT doc_id, string_split(t, ' ') AS w FROM normc WHERE t <> ''),
shc AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 3 THEN
      list_transform(range(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
    ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM tokc),
shd AS (SELECT DISTINCT doc_id, shingle FROM shc),
hp AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM shd
),
mh AS (
  SELECT doc_id, s.seed, MIN(h1 + s.seed * h2) AS sig
  FROM hp CROSS JOIN (SELECT unnest(range({NUM_HASHES})) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // {NUM_HASHES // BANDS} AS band,
         substr(md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)), 1, 16) AS key
  FROM mh GROUP BY doc_id, seed // {NUM_HASHES // BANDS}
),
bsz AS (SELECT band, key, COUNT(*) AS n_members FROM bands GROUP BY band, key),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  JOIN bsz z ON z.band = a.band AND z.key = a.key
   AND z.n_members <= {LSH_MAX_BUCKET}
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shd s1 ON s1.doc_id = c.id_a
  JOIN shd s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
  GROUP BY c.id_a, c.id_b
),
scored AS (
  SELECT i.id_a, i.id_b,
         CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
         CAST(n_inter AS BIGINT) AS n_inter,
         CAST(n_inter AS DOUBLE) / CAST(ca.n + cb.n - n_inter AS DOUBLE)
           AS jaccard,
         CAST(n_inter AS DOUBLE) / CAST(ca.n AS DOUBLE) AS containment_a,
         CAST(n_inter AS DOUBLE) / CAST(cb.n AS DOUBLE) AS containment_b
  FROM inter i
  JOIN cnt ca ON ca.doc_id = i.id_a
  JOIN cnt cb ON cb.doc_id = i.id_b
)
SELECT * FROM scored
WHERE GREATEST(containment_a, containment_b) >= {_CONTAIN_T}
""",
    tags=("dedup", "minhash", "containment", "asymmetric", "quotes"),
)
def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection via CONTAINMENT (Broder): Jaccard
    misses subset relationships — a short document quoted verbatim
    inside a long one has Jaccard ≈ |short|/|long| (tiny) but
    containment C(short→long) ≈ 1 — and quote/inclusion pairs are
    exactly what crawl dedup and benchmark decontamination must catch.
    The corpus is augmented with synthetic quoting docs (every 10th
    doc concatenated with its successor, id-shifted) so genuine
    containment pairs exist; candidates come from the SAME capped
    MinHash-LSH band join as dedup_minhash_lsh (containment-aware
    indexes like LSH Ensemble partition by set size first — here the
    corpus is length-homogeneous, so plain bands recall the pairs);
    verification computes both containments exactly and keeps pairs
    with max(C) >= {_CONTAIN_T} REGARDLESS of Jaccard — the pairs a
    Jaccard threshold would discard.

    Plan: operators/dedup.py:containment_pairs — identical shape to
    jaccard_pairs (semi-prefilter, doc→shingle-array side table joined
    to the pair table twice, per-row set intersection), only the
    output arithmetic differs. Scale story matches dedup_minhash_lsh:
    no pairwise blowup, hot buckets capped.
    """
    from quick_and_easy_vectordb_spark.operators.dedup import (
        containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("t2")
    )
    quotes = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .join(nxt, "doc_id")
        .select(
            (F.col("doc_id") + _QUOTE_SHIFT).alias("doc_id"),
            F.concat_ws(" ", "text", "t2").alias("text"),
        )
    )
    corpus = docs.unionByName(quotes)
    sh = shingle_table(corpus, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    scored = containment_pairs(
        sh, cands, prefilter=_corpus_is_big(sf_dir)
    )
    return scored.filter(
        F.greatest("containment_a", "containment_b") >= _CONTAIN_T
    )


# --------------------------------------------------------------------------
# Round 10: incremental cluster maintenance (CC merge without recompute)
# --------------------------------------------------------------------------


@query(
    "dedup_cc_incremental",
    oracle=f"""
WITH RECURSIVE {SQL_VERIFIED_PAIRS},
sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id_a, id_a FROM pairs
  UNION SELECT id_b, id_b FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, e.v FROM reach r JOIN sym e ON e.u = r.v
),
comp AS (SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u)
SELECT CAST(component AS BIGINT) AS component,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN id >= {_INCR_NEW_START} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new_members
FROM comp GROUP BY component HAVING COUNT(*) >= 2
""",
    tags=("dedup", "graph", "incremental", "connected-components"),
)
def dedup_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL duplicate-cluster maintenance: a daily batch of new
    docs (doc_id >= {_INCR_NEW_START}) arrives against an EXISTING
    clustered corpus — instead of re-running connected components over
    all edges, the new edges are CONTRACTED onto the base labels (each
    endpoint replaced by its existing component, a plain label join)
    and CC runs only on that contracted graph, whose size is
    O(new edges), independent of the historical corpus. Base labels
    merged by the increment are then remapped with one more join.
    Correctness pin: min-id labels are stable under contraction (the
    contracted min over merged components IS the global min), so the
    output is bit-identical to a full recompute — which is exactly
    what the oracle computes (recursive closure over ALL verified
    pairs). This is the O(delta) shape that turns daily dedup from a
    full-graph job into an append job at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET)
    pairs = jaccard_pairs(
        sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir)
    ).select("id_a", "id_b").persist()

    n0 = _INCR_NEW_START
    old_edges = pairs.filter(
        (F.col("id_a") < n0) & (F.col("id_b") < n0)
    )
    new_edges = pairs.filter(
        (F.col("id_a") >= n0) | (F.col("id_b") >= n0)
    )
    base = connected_components(old_edges).persist()  # (id, component)

    # SCALE-CRITICAL: the base labeling is corpus-sized, so it must
    # never broadcast whole. Only the labels of endpoints the delta
    # actually touches are needed — a broadcast SEMI-filter of base by
    # the O(delta) endpoint set (base scans map-side, no shuffle of
    # base), and THAT O(delta) slice broadcasts into the label joins.
    touched = (
        new_edges.select(F.col("id_a").alias("id"))
        .unionByName(new_edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    base_touched = base.join(F.broadcast(touched), "id", "left_semi")
    la = base_touched.select(
        F.col("id").alias("id_a"), F.col("component").alias("ca")
    )
    lb = base_touched.select(
        F.col("id").alias("id_b"), F.col("component").alias("cb")
    )
    contracted = (
        new_edges.join(F.broadcast(la), "id_a", "left")
        .join(F.broadcast(lb), "id_b", "left")
        .select(
            F.coalesce("ca", F.col("id_a")).alias("u"),
            F.coalesce("cb", F.col("id_b")).alias("v"),
        )
        .distinct()
    )
    merged = connected_components(contracted, "u", "v")  # O(delta) rows

    # remap base labels through the merge result; docs untouched by the
    # increment keep their label (left join, coalesce)
    remap = merged.select(
        F.col("id").alias("component"), F.col("component").alias("final")
    )
    base_final = base.join(F.broadcast(remap), "component", "left").select(
        "id", F.coalesce("final", F.col("component")).alias("component")
    )
    # vertices of the contracted graph that are NOT base members: new
    # docs AND old docs whose first-ever edge arrived with this batch
    # (they never appeared in old_edges, so base has no row for them)
    new_final = merged.join(
        base.select("id"), "id", "left_anti"
    ).select("id", "component")
    all_labeled = base_final.unionByName(new_final)
    return (
        all_labeled.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum((F.col("id") >= n0).cast("int"))
            .cast("long")
            .alias("n_new_members"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            F.col("component").cast("long").alias("component"),
            "n_members",
            "n_new_members",
        )
    )


# --------------------------------------------------------------------------
# Round 10: shingle-size sensitivity (the other MinHash tuning knob)
# --------------------------------------------------------------------------

_SENS_NS = (2, 3, 4)


def _shingle_sens_oracle() -> str:
    parts = [f"""norm AS (SELECT doc_id, {SQL_NORM} AS t FROM documents),
toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm WHERE t <> '')"""]
    for n in _SENS_NS:
        gram = " || ' ' || ".join(f"w[i+{k}]" if k else "w[i]"
                                  for k in range(n))
        parts.append(f"""sh{n} AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(w) >= {n} THEN
        list_transform(range(1, len(w) - {n} + 2), i -> {gram})
      ELSE [array_to_string(w, ' ')] END) AS shingle
    FROM toks))""")
        parts.append(f"""hp{n} AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h1,
         ('0x' || substr(md5(shingle), 17, 12))::BIGINT AS h2
  FROM sh{n})""")
        parts.append(f"""mh{n} AS (
  SELECT doc_id, s.seed, MIN(h1 + s.seed * h2) AS sig
  FROM hp{n} CROSS JOIN (SELECT unnest(range({NUM_HASHES})) AS seed) s
  GROUP BY doc_id, s.seed)""")
        parts.append(f"""bands{n} AS (
  SELECT doc_id, seed // {NUM_HASHES // BANDS} AS band,
         substr(md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY seed)), 1, 16) AS key
  FROM mh{n} GROUP BY doc_id, seed // {NUM_HASHES // BANDS})""")
        parts.append(f"""bsz{n} AS (
  SELECT band, key, COUNT(*) AS n_members FROM bands{n} GROUP BY band, key)""")
        parts.append(f"""cand{n} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands{n} a JOIN bands{n} b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  JOIN bsz{n} z ON z.band = a.band AND z.key = a.key
   AND z.n_members <= {LSH_MAX_BUCKET})""")
        parts.append(f"""cnt{n} AS (
  SELECT doc_id, COUNT(*) AS cshn FROM sh{n} GROUP BY doc_id)""")
        parts.append(f"""jac{n} AS (
  SELECT i.id_a, i.id_b,
         CAST(n_inter AS DOUBLE)
           / CAST(ca.cshn + cb.cshn - n_inter AS DOUBLE) AS j
  FROM (
    SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
    FROM cand{n} c
    JOIN sh{n} s1 ON s1.doc_id = c.id_a
    JOIN sh{n} s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
    GROUP BY c.id_a, c.id_b
  ) i
  JOIN cnt{n} ca ON ca.doc_id = i.id_a
  JOIN cnt{n} cb ON cb.doc_id = i.id_b)""")
        parts.append(f"""agg{n} AS (
  SELECT CAST({n} AS BIGINT) AS shingle_n,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{n}) AS n_candidates,
         CAST(COUNT(*) AS BIGINT) AS n_verified,
         CAST(COUNT(*) AS DOUBLE)
           / (SELECT COUNT(*) FROM cand{n}) AS precision,
         CAST(CAST(SUM(CAST(j AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS mean_verified_jaccard
  FROM jac{n} WHERE j >= {JACCARD_T})""")
    sel = " UNION ALL ".join(f"SELECT * FROM agg{n}" for n in _SENS_NS)
    return "WITH " + ",\n".join(parts) + "\n" + sel


@query(
    "dedup_shingle_size_sensitivity",
    oracle=_shingle_sens_oracle(),
    tags=("dedup", "minhash", "shingles", "tuning", "sensitivity"),
)
def dedup_shingle_size_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHINGLE-SIZE SENSITIVITY — the OTHER MinHash tuning knob
    (dedup_band_tuning sweeps (b, r); this sweeps n): word n-gram size
    trades recall for precision (bigger shingles → rarer collisions →
    fewer, higher-Jaccard candidates), and the right n is corpus-
    dependent (boilerplate-heavy crawls want larger n). For each
    n ∈ {2, 3, 4} the FULL capped pipeline runs — shingle → 12
    minhashes → 4-band LSH → exact-Jaccard verify — and reports
    candidate volume, verified count, precision, and the decimal-exact
    mean verified Jaccard: the table a deployment consults next to the
    band-tuning table before committing a config to 100 TB.

    Plan: three independent capped pipelines (each the
    dedup_minhash_lsh shape — no pairwise blowup, hot buckets
    diverted), each reduced to ONE summary row map-side; per-n shingle
    tables persist so text is shingled once per n."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    big = _corpus_is_big(sf_dir)
    rows = None
    for n in _SENS_NS:
        sh = shingle_table(docs, "text", "doc_id", n).persist()
        sigs = minhash_signatures(sh, NUM_HASHES)
        cands = lsh_candidate_pairs(
            sigs, NUM_HASHES, BANDS, LSH_MAX_BUCKET
        ).persist()
        jac = jaccard_pairs(sh, cands, threshold=0.0, prefilter=big)
        nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
        v = jac.filter(F.col("jaccard") >= JACCARD_T).agg(
            F.count(F.lit(1)).alias("n_verified"),
            F.sum(F.col("jaccard").cast("decimal(30,10)"))
            .cast("double")
            .alias("jsum"),
        )
        row = nc.crossJoin(v).select(
            F.lit(n).cast("long").alias("shingle_n"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_verified").cast("long").alias("n_verified"),
            (
                F.col("n_verified").cast("double") / F.col("n_candidates")
            ).alias("precision"),
            (F.col("jsum") / F.col("n_verified"))
            .alias("mean_verified_jaccard"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


# ---------------------------------------------------------------------------
# Round 11: canonical assignment — the production dedup OUTPUT table
# ---------------------------------------------------------------------------


@query(
    "dedup_canonical_assignment",
    oracle=f"""
WITH RECURSIVE {SQL_VERIFIED_PAIRS},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id_a, id_a FROM pairs
  UNION SELECT id_b, id_b FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u),
all_docs AS (
  SELECT d.doc_id, length(d.text) AS len,
         COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
ranked AS (
  SELECT doc_id, component,
         first_value(doc_id) OVER (PARTITION BY component
                                   ORDER BY len DESC, doc_id) AS canonical_id,
         count(*) OVER (PARTITION BY component) AS cluster_size
  FROM all_docs
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(canonical_id AS BIGINT) AS canonical_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END AS BIGINT)
         AS is_kept
FROM ranked
""",
    tags=("dedup", "canonical", "graph", "pipeline-output"),
)
def dedup_canonical_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANONICAL ASSIGNMENT — the table a dedup pipeline actually
    SHIPS: every document mapped to its cluster's canonical
    representative (LONGEST text wins, lowest doc_id breaks ties — the
    'keep the most complete copy' rule real pipelines use, richer than
    dedup_clusters' min-id convention), plus cluster size and a kept
    flag. Docs outside every near-dup cluster are their own canonical
    (cluster_size 1): downstream consumers filter is_kept = 1 to
    materialize the deduped corpus, or join canonical_id to remap
    references.

    Pipeline: verified MinHash-LSH pairs → alternating-star connected
    components (operators/graph.py) → LEFT join back to ALL docs
    (coalesce component to self) → per-component argmax via one
    window. The oracle recomputes components by recursive-CTE
    transitive closure and ranks with the identical total order.

    Scale: CC runs on O(pairs) edges; the canonical election is one
    window over docs partitioned by component (bounded per-cluster
    state); the remap join is a shuffle on component — all linear."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS)
    pairs = jaccard_pairs(
        sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir)
    )
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    all_docs = (
        docs.select("doc_id", F.length("text").alias("len"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "len",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("len"), F.asc("doc_id")
    )
    wall = Window.partitionBy("component")
    ranked = all_docs.select(
        "doc_id",
        F.first("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(wall).alias("cluster_size"),
    )
    return ranked.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.when(F.col("doc_id") == F.col("canonical_id"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_kept"),
    )


@query(
    "dedup_two_stage_funnel",
    oracle=f"""
WITH RECURSIVE {SQL_VERIFIED_PAIRS},
url AS (
  SELECT doc_id,
         'https://site' || (doc_id % 7) || '.example.com/art/'
           || (doc_id % 40) || '?id=' || (doc_id % 20) AS canonical
  FROM documents
),
surv AS (SELECT MIN(doc_id) AS doc_id FROM url GROUP BY canonical),
sp AS (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN surv a ON a.doc_id = p.id_a
  JOIN surv b ON b.doc_id = p.id_b
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM sp
  UNION SELECT id_b, id_a FROM sp
  UNION SELECT id_a, id_a FROM sp
  UNION SELECT id_b, id_b FROM sp
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
comp AS (SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u),
kept AS (
  SELECT s.doc_id, COALESCE(c.component, s.doc_id) AS component
  FROM surv s LEFT JOIN comp c ON c.id = s.doc_id
)
SELECT * FROM (
  SELECT 'raw' AS stage, CAST(1 AS BIGINT) AS ord,
         CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  UNION ALL
  SELECT 'url_dedup', CAST(2 AS BIGINT),
         CAST(COUNT(*) AS BIGINT) FROM surv
  UNION ALL
  SELECT 'content_dedup', CAST(3 AS BIGINT),
         CAST(COUNT(DISTINCT component) AS BIGINT) FROM kept
)
""",
    tags=("dedup", "funnel", "url", "minhash", "two-stage"),
)
def dedup_two_stage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TWO-STAGE DEDUP FUNNEL — how production crawls actually
    dedupe: stage 1 collapses URL-canonical duplicates (O(1) per row,
    queries/text.py:canonicalize_urls — real Catalyst string surgery,
    min-id survivor per canonical URL); stage 2 runs MinHash content
    dedup and counts the clusters REMAINING AMONG THE SURVIVORS. The
    output is the reduction funnel (raw → url_dedup → content_dedup
    doc counts) — the one-look table that tells you how much each
    stage buys before you pay for the next.

    Candidate generation runs over the full corpus (the shared-LSH-
    index pattern: one index, many consumers — bucket caps are
    corpus-level properties) and the pair set is then SEMI-JOINED to
    survivors on both endpoints; CC and the component count see only
    survivor pairs. The oracle mirrors the full chain, components by
    recursive CTE.

    Scale: stage 1 is a projection + groupBy; stage 2 adds nothing
    beyond the standard capped-LSH pipeline; the semi-joins are
    broadcastable (survivor ids ≪ corpus)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from quick_and_easy_vectordb_spark.queries.text import (
        canonicalize_urls,
        synth_messy_urls,
    )

    surv = (
        canonicalize_urls(synth_messy_urls(docs.select("doc_id")))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sh = shingle_table(docs, "text", "doc_id", 3).persist()
    sigs = minhash_signatures(sh, NUM_HASHES)
    cands = lsh_candidate_pairs(sigs, NUM_HASHES, BANDS)
    pairs = jaccard_pairs(
        sh, cands, JACCARD_T, prefilter=_corpus_is_big(sf_dir)
    )
    sp = pairs.join(
        F.broadcast(surv.select(F.col("doc_id").alias("id_a"))),
        "id_a",
        "leftsemi",
    ).join(
        F.broadcast(surv.select(F.col("doc_id").alias("id_b"))),
        "id_b",
        "leftsemi",
    )
    comp = connected_components(sp, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    kept = surv.join(comp, "doc_id", "left").select(
        F.coalesce("component", "doc_id").alias("component")
    )
    n_raw = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_surv = surv.agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_kept = kept.agg(F.countDistinct("component").cast("long").alias("n"))

    def stage(tag: str, ordv: int, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(tag).alias("stage"),
            F.lit(ordv).cast("long").alias("ord"),
            F.col("n").alias("n_docs"),
        )

    return (
        stage("raw", 1, n_raw)
        .unionByName(stage("url_dedup", 2, n_surv))
        .unionByName(stage("content_dedup", 3, n_kept))
    )
