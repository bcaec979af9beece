"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search|build --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The workload's inputs are generated
from ``--seed``, its operations run in a closed loop with one client
for ``--seconds``, every answer is checked, and the last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics. With
``--trace 1`` the loop runs twice as long and traces every other group
of operations; the metrics are the per-layer metrics of the traced
operations, and the line before carries the tracing overhead. See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402
    EVENT_LOG_METRICS,
    Tracer,
    parse_event_log,
    read_event_log,
    self_times,
)
from perfbench.workloads import BUILD_JOBS, WORKLOADS, Op  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
}
# Span names, each reported as the per-layer metric "<name>_s".
SPANS = ("sources.load_table", "queries.plan_build", "catalyst.plan",
         "spark.action", "streaming.start", "streaming.await")
PER_LAYER_UNITS = {
    **{f"{s}_s": "s" for s in SPANS},
    "driver.py4j_calls": "count",
    **EVENT_LOG_METRICS,
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "sources.index_files": "count",
    "sources.index_bytes": "B",
    **{f"job.{name}_s": "s" for name in BUILD_JOBS},
    "session.get_spark_s": "s",
    "trace.overhead_p50_frac": "ratio",
}
# The engine's default driver heap (32g) is sized for a large dedicated
# host; 2g holds both workloads on a small shared one.
JVM_HEAP = "2g"


def tail_latency(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it:
    the 11th largest value, with its percentile rank and the sample
    count. ``None`` with fewer than 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    j = n - 11
    return {"value": sorted(samples)[j], "percentile": round(100 * (j + 1) / n, 2),
            "samples": n, "beyond": n - j - 1}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for {pid}")


def start_spark(tmp: str, trace: bool):
    """A session with the engine's defaults; every file Spark, py4j and
    the JVM write goes under ``tmp``."""
    from quick_and_easy_vectordb_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    local = os.path.join(tmp, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    conf = {
        "spark.driver.memory": JVM_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # zstandard is not installed, so only the uncompressed form
            # can be read with the standard library
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM's gateway server exits on end of input
    proc.wait(timeout=60)


def timed_loop(wl, spark, seconds: float, tracer: Tracer, trace: bool):
    """Closed loop, one client: operations back to back until ``seconds``
    have passed, finishing the current group (a ``build`` pass, else one
    operation). With ``trace`` the loop runs twice as long and traces
    every other group, so traced and untraced operations share one
    warm session. Returns the untraced and the traced operations, each
    as ``[(op id, Op, py4j commands)]``."""
    per_group = len(BUILD_JOBS) if wl.name == "build" else 1
    untraced, traced = [], []
    t_end = time.perf_counter() + seconds * (1 + trace)
    i = 0
    while time.perf_counter() < t_end or i % (per_group * (1 + trace)):
        on = trace and (i // per_group) % 2 == 1
        if on != tracer.enabled:
            (tracer.enable if on else tracer.disable)(spark)
        op_id = f"op{i}"
        py4j0 = tracer.begin_op(spark, op_id) if on else 0
        t0 = time.perf_counter()
        try:
            op = wl.op(spark, i)
        except Exception as e:  # noqa: BLE001 — a raising op is a failed op
            op = Op(ok=False, rows=0, latency_s=time.perf_counter() - t0,
                    kind="error", error=f"{type(e).__name__}: {e}")
        py4j = tracer.py4j.count - py4j0 if on else 0
        if op.error:
            print(f"failed {wl.name} {op_id}: {op.error}", file=sys.stderr)
        (traced if on else untraced).append((op_id, op, py4j))
        i += 1
    if tracer.enabled:
        tracer.disable(spark)
    return untraced, traced


def end_to_end(ops) -> dict:
    lat = [op.latency_s for _, op, _ in ops]
    busy = sum(lat)
    return {
        "latency_p50_s": statistics.median(lat),
        "ops_per_s": sum(op.ok for _, op, _ in ops) / busy,
        "rows_per_s": sum(op.rows for _, op, _ in ops if op.ok) / busy,
    }


def per_layer(ops, spans, events) -> dict:
    """Mean per operation of every per-layer metric over the traced
    ``ops``; a span's metric is its self time."""
    selfs = self_times(spans)
    totals = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    jobs: dict[str, list[float]] = {}
    for op_id, op, py4j in ops:
        totals["driver.py4j_calls"] += py4j
        for name, sec in selfs.get(op_id, {}).items():
            totals[f"{name}_s"] += sec
        for name, v in events.get(op_id, {}).items():
            totals[name] += v
        for name, v in op.layers.items():
            if name.startswith("job."):
                jobs.setdefault(name, []).append(v)
            else:
                totals[name] += v
    n = len(ops)
    out = {k: v / n for k, v in totals.items()}
    for name, v in jobs.items():
        out[name] = statistics.median(v)
    return out


def run(args) -> tuple[dict, dict]:
    """Returns (result line, detail line)."""
    runs_dir = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(runs_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=runs_dir)
    spark = None
    try:
        tracer = Tracer()
        wl = WORKLOADS[args.workload](args.seed, tmp, tracer)
        t = time.perf_counter()
        input_info = wl.generate()
        excluded = time.perf_counter() - t
        import quick_and_easy_vectordb_spark.queries  # noqa: F401 — set-up, not a check
        t = time.perf_counter()
        wl.prepare_checks()
        excluded += time.perf_counter() - t
        t = time.perf_counter()
        spark = start_spark(tmp, args.trace)
        get_spark_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.setup(spark)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - excluded

        ops, traced = timed_loop(wl, spark, args.seconds, tracer, bool(args.trace))
        from pyspark import SparkContext

        rss = vm_hwm_mb(SparkContext._gateway.proc.pid) + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
        stop_spark(spark)
        spark = None

        all_ops = ops + traced
        failed = sum(not op.ok for _, op, _ in all_ops)
        e2e = {"setup_s": setup_s, **end_to_end(ops)}
        detail = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "inputs": input_info,
            "end_to_end": {k: {"value": e2e[k], "unit": END_TO_END_UNITS[k]}
                           for k in END_TO_END_UNITS},
            "latency_tail_s": tail_latency([op.latency_s for _, op, _ in ops]),
            # not a gated metric: the JVM's resident peak moves by up to
            # a fifth between runs of identical work, with GC timing
            "peak_rss_mb": rss,
            "failed_frac": failed / len(all_ops),
            "setup_phases_s": {"get_spark": get_spark_s, "warmup": warmup_s,
                               "untimed_inputs_and_checks": excluded},
        }
        if args.trace:
            events = parse_event_log(
                read_event_log(os.path.join(tmp, "eventlog")), tracer.groups)
            layers = per_layer(traced, tracer.spans, events)
            layers["session.get_spark_s"] = get_spark_s
            traced_e2e = end_to_end(traced)
            overhead = {k: traced_e2e[k] / e2e[k] - 1 for k in traced_e2e}
            layers["trace.overhead_p50_frac"] = overhead["latency_p50_s"]
            py4j: dict[str, set[int]] = {}
            for _, op, calls in traced:
                py4j.setdefault(op.kind, set()).add(calls)
            detail.update({
                "traced_end_to_end": traced_e2e,
                "tracing_overhead_frac": overhead,
                # a count that repeats exactly shows as one value per kind
                "py4j_calls_by_kind": {k: sorted(v) for k, v in py4j.items()},
                "spans": tracer.spans,
            })
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = detail["end_to_end"]
        result = {"correct": failed == 0, "attempted": len(all_ops), "failed": failed,
                  "metrics": metrics}
        return result, detail
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(runs_dir)
            except OSError:  # another run is still using it
                pass


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    result, detail = run(args)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
