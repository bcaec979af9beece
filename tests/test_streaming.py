"""Structured Streaming tests: batch equivalence of the windowed
aggregations (the streaming analog of the DuckDB oracle gate) and
late-data watermark behavior."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quick_and_easy_vectordb_spark.sources.catalog import load_table
from quick_and_easy_vectordb_spark.streaming.windows import (
    drain,
    read_events_stream,
    stream_tumbling_counts,
    stream_user_sessions,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """sf0.001 events re-written as µs-timestamp parquet files (several
    files → several stream triggers)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.repartition(4).write.mode("overwrite").parquet(path)
    return path


def run_stream_to_memory(spark, sdf, name: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_equals_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    out = run_stream_to_memory(
        spark, stream_tumbling_counts(stream), "t_tumbling"
    ).collect()
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))
    assert len(out) > 0


def test_session_stream_sane(spark, events_dir):
    # all files in one trigger: with file-per-trigger the unordered
    # files would advance the watermark past later files' events and
    # (correctly) drop them — late-data semantics are pinned separately
    # in test_watermark_drops_late_data
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=100)
    out = run_stream_to_memory(
        spark, stream_user_sessions(stream, watermark="40 days"), "t_sessions"
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1
    # total events across sessions == total input events
    assert sum(r.n_events for r in out) == spark.read.parquet(events_dir).count()


def test_watermark_drops_late_data(spark, tmp_path):
    """Two micro-batches: the second carries an event older than the
    watermark → it must NOT create/modify a window in append output."""
    import time

    d = str(tmp_path / "late")
    rows1 = [(1, "2024-01-01 10:05:00", 1, "click", 1.0, ""),
             (2, "2024-01-01 13:00:00", 1, "click", 1.0, "")]
    rows2 = [(3, "2024-01-01 10:10:00", 1, "click", 1.0, "")]  # 3h late
    schema = "event_id long, ts_s string, user_id long, event_type string, value double, props string"

    def write(rows, i):
        (spark.createDataFrame(rows, schema)
         .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
         .select("event_id", "ts", "user_id", "event_type", "value", "props")
         .write.mode("append").parquet(d))

    write(rows1, 0)
    stream = read_events_stream(spark, d, max_files_per_trigger=10)
    from quick_and_easy_vectordb_spark.streaming.windows import stream_tumbling_counts
    agg = stream_tumbling_counts(stream, watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("t_late")
         .outputMode("append").trigger(processingTime="1 second").start())
    try:
        time.sleep(8)
        write(rows2, 1)
        time.sleep(8)
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM t_late").collect()
    # in append mode only windows finalized below the watermark emit;
    # the 10:00 window was finalized by the 13:00 event's watermark and
    # the late 10:10 event must not re-emit or inflate it
    for r in got:
        if r.window_start == 1704103200:  # 2024-01-01 10:00 UTC
            assert r.n_events == 1


def test_stream_dedup_drops_replays(spark, tmp_path):
    """Replayed event_ids (same file content written twice) must come
    out exactly once, matching batch dropDuplicates."""
    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_dedup_events,
    )

    src = str(tmp_path / "dup_events")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)  # replay every event once

    assert spark.read.parquet(src).count() == 400

    stream = read_events_stream(spark, src)
    # dedup streams emit rows as they arrive -> append mode (complete
    # is only for aggregations)
    q = (
        stream_dedup_events(stream)
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM t_dedup")
    got = sorted(r.event_id for r in out.select("event_id").collect())
    want = sorted(r.event_id for r in ev.select("event_id").collect())
    assert got == want


def test_stream_stream_join_equals_batch(spark, events_dir):
    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_click_attribution,
    )

    # single trigger: with file-per-trigger the unordered files would
    # advance the watermark past later files' events (late-drop
    # semantics are pinned in test_watermark_drops_late_data)
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=100)
    q = (
        stream_click_attribution(stream)
        .writeStream.format("memory")
        .queryName("t_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.click_ts)
        for r in spark.sql("SELECT * FROM t_attr").collect()
    }

    ev = spark.read.parquet(events_dir)
    p = ev.filter("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id", "user_id AS p_uid", "ts AS purchase_ts"
    )
    c = ev.filter("event_type = 'click'").selectExpr(
        "user_id AS c_uid", "ts AS click_ts"
    )
    want = {
        (r.purchase_id, r.click_ts)
        for r in p.join(
            c,
            F.expr(
                "p_uid = c_uid AND click_ts >= purchase_ts - INTERVAL 30 MINUTES"
                " AND click_ts <= purchase_ts"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stateful_running_totals_equal_batch(spark, events_dir):
    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_user_running_totals,
    )

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = (
        stream_user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("t_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # multiple batches -> several emissions per user; the LAST one is
    # the final running total
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY n_events DESC) AS rn FROM t_totals)
               WHERE rn = 1"""
        ).collect()
    }
    batch = {
        r.user_id: (r.n, r.t)
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, total) in final.items():
        assert n == batch[uid][0]
        assert abs(total - batch[uid][1]) < 1e-6  # python vs JVM fold order


def test_stream_upsert_sink_end_to_end(spark, tmp_path):
    """streaming -> dedup -> merge-upsert -> parquet: replayed events
    land exactly once; a re-keyed second wave updates in place."""
    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_dedup_events,
        stream_upsert_sink,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)  # replay

    stream = read_events_stream(spark, src, max_files_per_trigger=100)
    q = stream_upsert_sink(stream_dedup_events(stream), tgt)
    q.awaitTermination(120)

    out = spark.read.parquet(tgt)
    assert out.count() == 100  # replays collapsed
    assert out.select("event_id").distinct().count() == 100

    # second wave: same keys, changed value -> update wins, count stable
    wave2 = ev.limit(10).withColumn("value", F.lit(-1.0))
    src2 = str(tmp_path / "src2")
    wave2.write.mode("overwrite").parquet(src2)
    stream2 = read_events_stream(spark, src2, max_files_per_trigger=100)
    q2 = stream_upsert_sink(stream_dedup_events(stream2), tgt)
    q2.awaitTermination(120)

    out2 = spark.read.parquet(tgt)
    assert out2.count() == 100
    assert out2.filter(F.col("value") == -1.0).count() == 10


def test_stream_static_enrich_equals_batch(spark, events_dir):
    from quick_and_easy_vectordb_spark.streaming.ingest import stream_static_enrich

    dim = (
        spark.read.parquet(events_dir)
        .select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type").cast("long"))
    )
    stream = read_events_stream(spark, events_dir)
    enriched = stream_static_enrich(stream, dim, on="event_type").groupBy(
        "event_type", "type_weight"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = run_stream_to_memory(spark, enriched, "t_enrich").collect()
    batch = (
        spark.read.parquet(events_dir)
        .join(dim, "event_type")
        .groupBy("event_type", "type_weight")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))
    assert len(out) > 0


def test_stream_vector_ingest_exactly_once(spark, tmp_path):
    from quick_and_easy_vectordb_spark.operators.search import top_k_by_dot
    from quick_and_easy_vectordb_spark.streaming.ingest import (
        canonicalize_vectors,
        stream_vector_ingest,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.repartition(5).write.mode("overwrite").parquet(src)

    q = stream_vector_ingest(spark, src, store, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(store)
    assert got.count() == emb.count()
    assert dict(got.dtypes)["embedding"] == "array<double>"
    assert dict(got.dtypes)["norm"] == "double"

    # The streamed corpus must answer searches identically to batch
    # canonicalization of the same source.
    qv = [0.1] * len(emb.first().embedding)
    stream_top = top_k_by_dot(
        got, qv, k=5, vector_col="embedding", id_col="vec_id"
    ).select("vec_id", "similarity").collect()
    batch_top = top_k_by_dot(
        canonicalize_vectors(spark.read.parquet(src)),
        qv, k=5, vector_col="embedding", id_col="vec_id",
    ).select("vec_id", "similarity").collect()
    assert [tuple(r) for r in stream_top] == [tuple(r) for r in batch_top]

    # Restarting against the same checkpoint re-ingests nothing.
    q2 = stream_vector_ingest(spark, src, store, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(store).count() == emb.count()


def test_incremental_lsh_index_equals_batch_rebuild(spark, tmp_path):
    """Index maintained incrementally across micro-batches must be
    row-identical to a from-scratch batch build over the same corpus
    (same lsh_signature expression ⇒ same buckets), and compaction
    must shrink the streaming sink's file count without changing a
    single row."""
    import glob

    from quick_and_easy_vectordb_spark.operators.ann import lsh_signature
    from quick_and_easy_vectordb_spark.streaming.index_maintenance import (
        compact_lsh_index,
        read_lsh_index,
        stream_lsh_index_maintenance,
    )
    from quick_and_easy_vectordb_spark.streaming.ingest import canonicalize_vectors

    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first().embedding)
    # 6 source files + maxFilesPerTrigger=2 → 3 micro-batches
    emb.repartition(6).write.mode("overwrite").parquet(src)

    q = stream_lsh_index_maintenance(spark, src, idx, ckpt, num_planes=4, dim=dim)
    q.awaitTermination(120)

    incremental = read_lsh_index(spark, idx).select("vec_id", "lsh_bucket")
    batch = (
        canonicalize_vectors(spark.read.parquet(src))
        .withColumn("lsh_bucket", lsh_signature("embedding", 4, dim))
        .select("vec_id", "lsh_bucket")
    )
    assert sorted(map(tuple, incremental.collect())) == sorted(map(tuple, batch.collect()))

    # restart with same checkpoint: no duplicate index entries
    q2 = stream_lsh_index_maintenance(spark, src, idx, ckpt, num_planes=4, dim=dim)
    q2.awaitTermination(120)
    assert read_lsh_index(spark, idx).count() == emb.count()

    # probing one bucket prunes the scan to that partition directory
    bucket = read_lsh_index(spark, idx).first().lsh_bucket
    probe = read_lsh_index(spark, idx).filter(F.col("lsh_bucket") == bucket)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lsh_bucket" in plan.split("PartitionFilters")[1][:200]

    # compaction: fewer files, identical content
    before = len(glob.glob(f"{idx}/lsh_bucket=*/*.parquet"))
    compacted = str(tmp_path / "index_compacted")
    compact_lsh_index(spark, idx, compacted, files_per_bucket=1)
    after = len(glob.glob(f"{compacted}/lsh_bucket=*/*.parquet"))
    n_buckets = read_lsh_index(spark, idx).select("lsh_bucket").distinct().count()
    assert after == n_buckets < before
    assert sorted(
        map(tuple, read_lsh_index(spark, compacted).select("vec_id", "lsh_bucket").collect())
    ) == sorted(map(tuple, incremental.collect()))


def test_ntz_source_stream_equals_batch(spark, tmp_path):
    """Round-3 regression pin: a source whose parquet stores ts as
    timestamp_ntz (the regenerated driver fixture encoding) must stream
    with correct event time — schema is probed from the footer, NTZ
    cast to session-tz timestamp, watermark + window applied on top."""
    d = str(tmp_path / "ntz_events")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    (ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
       .repartition(2).write.mode("overwrite").parquet(d))
    # confirm the fixture really is NTZ on disk
    from pyspark.sql import types as T
    assert isinstance(
        spark.read.parquet(d).schema["ts"].dataType, T.TimestampNTZType
    )
    stream = read_events_stream(spark, d, max_files_per_trigger=100)
    out = run_stream_to_memory(
        spark, stream_tumbling_counts(stream), "t_ntz"
    ).collect()
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))
    assert len(out) > 100  # windows must NOT collapse (1970 bug shape)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_stream_rows_equal_load_table(spark, sf_dir, tmp_path, unit):
    """An events file written by pyarrow with ``ts`` as timestamp[us]
    (read as TIMESTAMP_NTZ) or timestamp[ns] (parquet TIMESTAMP(NANOS))
    streams exactly the rows the batch reader loads: the stream and
    load_table share one ``ts`` rule."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp(unit)))
    sf = tmp_path / "sf"
    src = tmp_path / "src"
    sf.mkdir()
    src.mkdir()
    pq.write_table(t, str(sf / "events.parquet"))
    os.symlink(sf / "events.parquet", src / "events.parquet")
    got = drain(
        read_events_stream(spark, str(src)), f"t_reader_{unit}", "append"
    )
    want = load_table(spark, str(sf), "events").select(*got.columns)
    assert dict(got.dtypes)["ts"] == "timestamp"
    rows = sorted(map(repr, got.collect()))
    assert rows == sorted(map(repr, want.collect()))
    assert len(rows) == t.num_rows
