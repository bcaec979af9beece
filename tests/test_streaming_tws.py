"""transformWithStateInPandas surface (streaming/windows.py:
stream_type_activity_tws) — environment-gated: the worker-side state
protocol needs google.protobuf, absent in this container."""

from __future__ import annotations

import pytest


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def test_gate_raises_clearly_without_protobuf(spark):
    from quick_and_easy_vectordb_spark.streaming.windows import (
        stream_type_activity_tws,
    )

    if _has_protobuf():
        pytest.skip("protobuf present; gate does not fire")
    ev = spark.readStream.format("rate").load()
    with pytest.raises(ImportError, match="protobuf"):
        stream_type_activity_tws(ev)


@pytest.mark.skipif(not _has_protobuf(), reason="no protobuf in env")
def test_tws_matches_batch(spark, sf_dir):
    """Where protobuf exists: per-type final state == batch GROUP BY."""
    import os

    from pyspark.sql import functions as F

    from quick_and_easy_vectordb_spark.sources.scratch import staged
    from quick_and_easy_vectordb_spark.streaming.windows import (
        drain,
        read_events_stream,
        stream_type_activity_tws,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = os.path.join(os.path.abspath(sf_dir), "events.parquet")
        d = staged(
            "tws_test",
            sf_dir,
            lambda d: os.symlink(events, os.path.join(d, "events.parquet")),
        )
        src = read_events_stream(spark, d, max_files_per_trigger=None)
        out = drain(stream_type_activity_tws(src), "tws_test_sink", "update")
        got = {
            r["event_type"]: (r["n"], r["f"], r["l"])
            for r in out.groupBy("event_type")
            .agg(
                F.max("n_events").alias("n"),
                F.min("first_us").alias("f"),
                F.max("last_us").alias("l"),
            )
            .collect()
        }
        want = {
            r["event_type"]: (r["n"], r["f"], r["l"])
            for r in spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.unix_micros("ts")).alias("f"),
                F.max(F.unix_micros("ts")).alias("l"),
            )
            .collect()
        }
        assert got == want
    finally:
        spark.conf.unset(provider_key)
