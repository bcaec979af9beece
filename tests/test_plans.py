"""Physical-plan assertions — the scale contract, checked in CI.

These tests pin the plan *shapes* that make the operators viable at
100 TB (BASELINE.md "Engine targets"): distributed top-k instead of
global sort, filter/column pushdown into parquet, broadcast of the
small join side, and no Python in JVM-expressible hot paths.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.functions.vector import dot_product
from quick_and_easy_vectordb_spark.operators.search import batch_knn, top_k_by_dot
from quick_and_easy_vectordb_spark.queries.common import QUERY_VEC
from quick_and_easy_vectordb_spark.sources.catalog import load_table


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    """Plan-shape assertions must see the query's OWN plan. Other tests
    (e.g. the fixture smoke suite) run registered queries that persist
    shared subplans (shingle/span tables); Spark's cache manager then
    substitutes InMemoryTableScan into any matching fragment here,
    changing exchange counts order-dependently. Clear before each
    plan test."""
    spark.catalog.clearCache()
    yield


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "chunk_id")
    plan = physical(top_k_by_dot(emb, QUERY_VEC, k=5, vector_col="embedding"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort shuffle


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = physical(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning_excludes_vector_payload(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.groupBy("label").count()
    plan = physical(q)
    # the wide embedding column must not be read for a metadata-only agg
    assert "embedding" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_batch_knn_broadcasts_query_side(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv"))
    plan = physical(batch_knn(q, c, k=2, query_vec="qv", corpus_id="corpus_id", corpus_vec="cv"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "BuildRight" in plan  # corpus side streams, query side is built


def test_lsh_batch_knn_is_bucket_equijoin(spark, sf_dir):
    """The large-query-set escape hatch must NOT be a nested loop: both
    sides carry an LSH bucket string and the join is a shuffle (or
    broadcast-hash at test scale) EQUI-join on it — the shape that
    hash-partitions by bucket at 100 TB instead of replicating a side."""
    from quick_and_easy_vectordb_spark.operators.search import lsh_batch_knn

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("cv"))
    plan = physical(
        lsh_batch_knn(
            q, c, k=3, num_planes=4, dim=64,
            query_vec="qv", corpus_id="corpus_id", corpus_vec="cv",
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # equi-join on the bucket key (any hash-based strategy qualifies)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "__bucket" in plan


def test_gram_matrix_has_partial_aggregation(spark, sf_dir):
    """vdb_gram_matrix's scale claim: the d² cells aggregate with
    MAP-SIDE partial sums (two HashAggregate stages around one
    exchange), so shuffle volume is O(partitions·d²), independent of
    row count."""
    from quick_and_easy_vectordb_spark.queries import QUERIES

    plan = physical(QUERIES["vdb_gram_matrix"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    # exactly one exchange between the partial and final aggregate
    assert plan.count("Exchange") == 1


def test_vector_math_is_jvm_side_no_python(spark, sf_dir):
    """The dot product must be JVM-side — no Python worker round-trip
    — and a call of the compiled kernel, not an interpreted
    higher-order-function fold; the scan stays columnar."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id", dot_product("embedding", QUERY_VEC).alias("s")
    )
    plan = physical(scored)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Batched: true" in plan  # columnar parquet scan
    assert "qev_dot(" in plan and "aggregate(" not in plan


def test_dimension_join_is_broadcast(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    j = customer.join(F.broadcast(nation),
                      customer.c_nationkey == nation.n_nationkey)
    plan = physical(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---- plans.inspect module-backed assertions (newer operators) ----

from quick_and_easy_vectordb_spark.operators.asof import asof_join
from quick_and_easy_vectordb_spark.plans import (
    assert_plan,
    broadcast_join_count,
    is_top_k,
    shuffle_count,
)


def test_asof_join_is_single_shuffle(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    j = asof_join(purchases, clicks, on="user_id", suffix="_click")
    # union of both sides + ONE window exchange on user_id — the whole
    # point of the union-and-window technique
    assert shuffle_count(j) == 1
    assert j.count() > 0


def test_q19_broadcasts_part_and_pushes_brand_filter(spark, sf_dir):
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["rel_q19_disjunctive"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    # Catalyst extracts p_brand IN (...) from the OR and pushes it
    assert_plan(df, pushed_filters=("p_brand",))


def test_inspect_helpers_consistent_with_raw_plan(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id").orderBy("vec_id").limit(3)
    assert is_top_k(q)
    assert_plan(q, not_read={"embedding"}, top_k=True)


def test_tpch_joins_broadcast_dims_single_shuffle(spark, sf_dir):
    """The star-schema joins must broadcast every dim side and shuffle
    exactly once (the final aggregation) — the plan shape that keeps a
    100 TB fact scan from re-shuffling through each join."""
    from quick_and_easy_vectordb_spark.queries import QUERIES

    for name, min_bc in [
        ("rel_q5_region_revenue", 3),
        ("rel_q7_nation_volume", 3),
        ("rel_q10_returned_items", 2),
    ]:
        df = QUERIES[name].fn(spark, sf_dir)
        assert broadcast_join_count(df) >= min_bc, name
        assert shuffle_count(df) <= 2, name


def test_scatter_preserves_scan_pushdown(spark, sf_dir):
    """ensure_parallelism sits ABOVE the filter, so the shipdate
    predicate must still reach the parquet scan despite the
    repartition exchange (the subtle way to lose pushdown is to
    repartition the raw scan before filtering)."""
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["rel_q1_pricing_summary"].fn(spark, sf_dir)
    assert_plan(df, pushed_filters=("l_shipdate",))


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """The 100 TB selective-join path: when a dim-side filter is
    selective but the fact side is too big to broadcast, Catalyst's
    runtime bloom filter (spark.sql.optimizer.runtime.bloomFilter,
    on by default in session.py) builds a bloom filter from the dim
    side and row-level-prunes the fact scan BEFORE the join shuffle.

    At fixture scale every join broadcasts and the size thresholds
    (creation side <= 10 MB, application side >= 10 GB scan) suppress
    injection, so this test simulates scale by forcing a shuffle join
    and zeroing the application threshold — then asserts the filter
    actually lands in the optimized plan (bloom_filter_agg on the
    build side, might_contain on the probe side)."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
        j = (
            li.join(part, F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("p_type")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized
        assert "might_contain" in optimized
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_span_dedup_single_shuffle(spark, sf_dir):
    """Span dedup must be ONE map-side-combined shuffle on the span key:
    spans are distinct-ed per row at map time, so the exchange carries
    aggregation partials, never the exploded corpus. (ensure_parallelism
    adds one scatter repartition of the tiny doc scan — at 100 TB the
    scan has natural splits and that round-robin disappears.)"""
    from quick_and_easy_vectordb_spark.plans.inspect import shuffle_count
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["text_span_dedup"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 2  # scatter + groupBy(span); no joins
    plan = physical(df)
    assert "partial_count" in plan or "HashAggregate" in plan


def test_containment_broadcasts_benchmark(spark, sf_dir):
    """Containment decontamination must broadcast the benchmark gram
    set (and sizes) to the corpus side — the corpus never shuffles for
    the match itself."""
    from quick_and_easy_vectordb_spark.plans.inspect import broadcast_join_count
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["text_containment_decontaminate"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 2  # gram set + size table


def test_count_min_probe_broadcasts_cells(spark, sf_dir):
    """The 256-cell CMS table must be the broadcast side of the probe
    join — never a shuffle of the sketch."""
    from quick_and_easy_vectordb_spark.plans.inspect import broadcast_join_count
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["udf_count_min_topk"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 1


def test_histogram_stats_broadcast_one_row(spark, sf_dir):
    """The global min/max must come back as a broadcast of a 1-row
    aggregate (BroadcastNestedLoopJoin is fine for 1 row), and the
    final aggregation must be map-side combined on (type, bin)."""
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["ev_value_histogram"].fn(spark, sf_dir)
    plan = physical(df)
    assert "Broadcast" in plan
    assert "partial_count" in plan


def test_scd2_single_shuffle(spark, sf_dir):
    """SCD2 interval build must be ONE shuffle (the dimension-key
    hash partition for the lead window) — the no-self-join shape."""
    from quick_and_easy_vectordb_spark.plans.inspect import shuffle_count
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["rel_scd2_intervals"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1


def test_ewma_pre_aggregates_before_window(spark, sf_dir):
    """EWMA must aggregate to hourly buckets BEFORE the window pass —
    the window input is (types × hours), never raw events."""
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["ev_ewma_hourly"].fn(spark, sf_dir)
    plan = physical(df)
    # partial aggregation happens below the Window node
    assert plan.index("Window") < plan.index("HashAggregate") or (
        "partial_count" in plan
    )


def test_dq_audit_uses_anti_joins(spark, sf_dir):
    """Referential checks must plan as anti-joins (violations counted
    from the streamed probe side), not as distinct-collect + isin."""
    from quick_and_easy_vectordb_spark.queries import QUERIES

    df = QUERIES["rel_dq_audit"].fn(spark, sf_dir)
    plan = physical(df)
    assert "LeftAnti" in plan


def test_pq_encode_no_shuffle_after_codebook(spark, sf_dir):
    """The map-side pq_encode: given a materialized codebook, encoding
    adds NO exchange beyond the codebook's own broadcast (the scale
    probe caught the previous formulation's window sort at 34x/30x)."""
    from quick_and_easy_vectordb_spark.operators.ann import pq_codebook, pq_encode
    from quick_and_easy_vectordb_spark.plans.inspect import shuffle_count
    from quick_and_easy_vectordb_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, "embedding", 8, 8)
    cb_shuffles = shuffle_count(cb)
    codes = pq_encode(emb, cb, "embedding", "vec_id", 8)
    # encode adds exactly the codebook DENSIFICATION aggregations
    # (256-row → 32-row → 1-row, trivially small) and NOTHING keyed by
    # vector id — the per-vector work is a broadcast + pure map
    assert shuffle_count(codes) <= cb_shuffles + 2
    plan = physical(codes)
    assert "BroadcastExchange" in plan
    assert "hashpartitioning(id" not in plan  # no per-vector exchange
