"""Perf decomposition for the streaming harness queries (round-15,
VERDICT r14 item 5 — "the streaming operators have no perf story").

For each named ev_stream_* / *_streamed query this runs the query
function end-to-end (it drives its own availableNow stream inside),
then pulls the LAST StreamingQuery's progress events and splits the
wall into:

  - harness: staging symlinks + schema probe + plan build (wall minus
    the stream's own trigger time and the final sink read)
  - trigger: sum of triggerExecution durations over all micro-batches
    (the streaming engine's own work: offset tracking, planning,
    addBatch)
  - addBatch: the executed-plan part of that (actual batch compute)
  - batches: micro-batch count
  - state: max stateOperators numRowsTotal / memory across batches

and writes the last batch's executed plan to
plans/r15/<query>_stream_batchplan.txt.

Usage: python tools/profile_stream.py [query ...] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quick_and_easy_vectordb_spark.queries import QUERIES  # noqa: E402
from quick_and_easy_vectordb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLAN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans", "r15",
)

DEFAULT = (
    "ev_stream_hll_distinct",
    "ev_stream_dedup_ingest",
    "ev_sessionize_streamed",
    "ev_sliding_window_streamed",
    "ev_click_attribution_streamed",
)


def profile(spark, name: str, runs: int) -> None:
    qd = QUERIES[name]
    walls = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = qd.fn(spark, SF_DIR)
        df.write.mode("overwrite").format("noop").save()
        walls.append(time.perf_counter() - t0)
    # the query fn ran its stream to completion and keeps no handle,
    # and terminated queries aren't in spark.streams.active: re-run
    # once and capture the query as it is awaited
    spark.catalog.clearCache()
    holder = {}
    orig_await = None
    from pyspark.sql.streaming import StreamingQuery

    orig_await = StreamingQuery.awaitTermination

    def capture(self, *a, **k):
        holder["q"] = self
        return orig_await(self, *a, **k)

    StreamingQuery.awaitTermination = capture
    try:
        t0 = time.perf_counter()
        df = qd.fn(spark, SF_DIR)
        df.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
    finally:
        StreamingQuery.awaitTermination = orig_await
    q = holder.get("q")
    prog = []
    if q is not None:
        prog = [
            p if isinstance(p, dict) else json.loads(str(p.json))
            for p in q.recentProgress
        ]
        try:
            plan = q._jsq.explainInternal(True)
            os.makedirs(PLAN_DIR, exist_ok=True)
            with open(
                os.path.join(PLAN_DIR, f"{name}_stream_batchplan.txt"), "w"
            ) as f:
                f.write(plan)
        except Exception as e:  # noqa: BLE001
            print(f"  (plan dump failed: {e})")
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in prog)
    addb = sum(p["durationMs"].get("addBatch", 0) for p in prog)
    rows = sum(p.get("numInputRows", 0) for p in prog)
    state_rows = max(
        (so.get("numRowsTotal", 0) for p in prog
         for so in p.get("stateOperators", [])),
        default=0,
    )
    state_mem = max(
        (so.get("memoryUsedBytes", 0) for p in prog
         for so in p.get("stateOperators", [])),
        default=0,
    )
    print(
        f"=== {name}: walls {[round(w, 2) for w in walls]} s | capture run "
        f"{wall:.2f} s = trigger {trig/1000:.2f} s (addBatch "
        f"{addb/1000:.2f} s) + harness {wall - trig/1000:.2f} s | "
        f"{len(prog)} batches, {rows} rows, state_rows={state_rows}, "
        f"state_mem={state_mem/1048576:.1f} MiB"
    )


def main() -> None:
    argv = sys.argv[1:]
    runs = 2
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        del argv[i: i + 2]
    names = argv or list(DEFAULT)
    spark = get_spark("qev-stream-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        profile(spark, n, runs)


if __name__ == "__main__":
    main()
