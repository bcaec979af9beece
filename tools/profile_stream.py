"""Perf decomposition for the streaming harness queries (round-15,
VERDICT r14 item 5 — "the streaming operators have no perf story").

For each named ev_stream_* / *_streamed query this runs the query
function end-to-end (it drives its own availableNow stream inside)
with a StreamingQueryListener registered, and splits the last run's
wall into:

  - harness: staging symlinks + schema probe + plan build (wall minus
    the streams' own trigger time and the final sink read)
  - trigger: sum of triggerExecution durations over all micro-batches
    (the streaming engine's own work: offset tracking, planning,
    addBatch)
  - addBatch: the executed-plan part of that (actual batch compute)
  - batches: micro-batch count
  - state: max stateOperators numRowsTotal / memory across batches,
    and each stateful operator's numShufflePartitions

Progress comes from every stream the run starts.

Usage: python tools/profile_stream.py [query ...] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from quick_and_easy_vectordb_spark.queries import QUERIES  # noqa: E402
from quick_and_easy_vectordb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = (
    "ev_stream_hll_distinct",
    "ev_stream_dedup_ingest",
    "ev_sessionize_streamed",
    "ev_sliding_window_streamed",
    "ev_click_attribution_streamed",
)

# How long ``ProgressListener.wait`` lets the listener bus deliver the
# last termination events after the run returns.
WAIT_S = 30.0


class ProgressListener(StreamingQueryListener):
    """Collects every progress event of the streams started while it is
    registered. Events arrive asynchronously on the listener bus, so
    ``wait`` blocks until each started stream has reported its end."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.ended: set[str] = set()

    def onQueryStarted(self, event) -> None:
        self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event) -> None:
        self.ended.add(str(event.id))

    def wait(self) -> None:
        deadline = time.monotonic() + WAIT_S
        while self.started - self.ended:
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"{len(self.started - self.ended)} stream(s) reported no "
                    f"end within {WAIT_S:.0f} s; their progress is incomplete"
                )
            time.sleep(0.05)


def profile(spark, name: str, runs: int) -> None:
    qd = QUERIES[name]
    walls = []
    for _ in range(runs):
        spark.catalog.clearCache()
        listener = ProgressListener()
        spark.streams.addListener(listener)
        try:
            t0 = time.perf_counter()
            df = qd.fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
            listener.wait()
        finally:
            spark.streams.removeListener(listener)
    prog, wall = listener.progress, walls[-1]
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in prog)
    addb = sum(p["durationMs"].get("addBatch", 0) for p in prog)
    rows = sum(p.get("numInputRows", 0) for p in prog)
    ops = [so for p in prog for so in p.get("stateOperators", [])]
    state_rows = max((so.get("numRowsTotal", 0) for so in ops), default=0)
    state_mem = max((so.get("memoryUsedBytes", 0) for so in ops), default=0)
    # each stateful operator's state-store partition count: the session's
    # shuffle partitions when its checkpoint was made
    parts = sorted({f"{so.get('operatorName')}={so.get('numShufflePartitions')}"
                    for so in ops})
    print(
        f"=== {name}: walls {[round(w, 2) for w in walls]} s | last run "
        f"{wall:.2f} s = trigger {trig/1000:.2f} s (addBatch "
        f"{addb/1000:.2f} s) + harness {wall - trig/1000:.2f} s | "
        f"{len(prog)} batches, {rows} rows, state_rows={state_rows}, "
        f"state_mem={state_mem/1048576:.1f} MiB, "
        f"state_partitions=[{', '.join(parts)}]"
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
