"""Round-6 source/sink rows: partition pruning actually prunes, the
foreachBatch merge sink is idempotent under replay, and the JSONL
roundtrip preserves values — the plan/filesystem facts the docstrings
promise, beyond the oracle's value equality.
"""

from __future__ import annotations

import os

import pandas as pd

from quick_and_easy_vectordb_spark.plans.inspect import formatted_plan
from quick_and_easy_vectordb_spark.queries import QUERIES
from quick_and_easy_vectordb_spark.sources.scratch import lookup

SF = "/root/testdata/sf0.001"


def test_partitioned_parquet_scan_prunes_directories(spark):
    """The scan must carry the date bounds as PartitionFilters (pruning
    happens at planning, before any file is opened) — a scan with
    empty PartitionFilters reads all ~30 day directories."""
    df = QUERIES["src_partitioned_parquet_prune"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "2024-01-08" in seg and "2024-01-14" in seg
    # and the layout on disk really is hive-partitioned by date
    root = lookup("part_prune", SF)
    days = [
        p
        for p in os.listdir(os.path.join(root, "events_by_date"))
        if p.startswith("event_date=")
    ]
    assert len(days) > 7  # the filter keeps 7 of these


def test_foreachbatch_upsert_ran_multiple_batches_and_deduped(spark):
    """The availableNow drain must produce >=2 merge versions (the
    replay arrives in later batches, so idempotence is actually
    exercised across batches), and the final table must hold exactly
    one row per event_id — the single-copy corpus."""
    out = QUERIES["ev_stream_foreachbatch_upsert"].fn(spark, SF).toPandas()
    root = lookup("fbatch_upsert", SF)
    versions = [v for v in os.listdir(root) if v.startswith("v")]
    assert len(versions) >= 2
    final = max(versions, key=lambda v: int(v[1:]))
    table = pd.read_parquet(os.path.join(root, final))
    assert table["event_id"].is_unique
    ev = pd.read_parquet(f"{SF}/events.parquet")
    assert len(table) == len(ev)
    want = ev.groupby("user_id").size()
    got = out.set_index("user_id")["n_events"]
    assert got.sort_index().equals(want.sort_index().astype(got.dtype))


def test_jsonl_roundtrip_loses_no_rows_or_values(spark):
    """Explicit-schema JSONL read: full row count, no nulled columns
    (a schema drift would silently null mismatched fields), and the
    per-type double totals equal a pandas recomputation to the bit."""
    QUERIES["src_json_lines_roundtrip"].fn(spark, SF).toPandas()
    root = lookup("jsonl", SF)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, us long, value double"
    ).json(os.path.join(root, "events_jsonl"))
    ev = pd.read_parquet(f"{SF}/events.parquet")
    assert back.count() == len(ev)
    assert back.filter("event_id IS NULL OR us IS NULL").count() == 0
    got = {
        r["event_id"]: r["value"]
        for r in back.select("event_id", "value").toPandas().to_dict("records")
    }
    want = dict(zip(ev["event_id"], ev["value"]))
    assert got == want  # bit-exact double roundtrip through JSON text
