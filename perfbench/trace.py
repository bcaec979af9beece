"""Tracing for the traced benchmark run: spans, py4j command counts and
Spark event-log sums, all attributed to one operation id.

Everything here observes the engine from outside. Spans are recorded
by the benchmark around its own calls into the engine's layers; the
py4j counter wraps the gateway client's ``send_command``; the runtime
layers (jobs, stages, tasks, executors, shuffle, Python workers) are
read from Spark's own event log after the session stops.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# py4j's garbage-collection detach command ("m\nd\n<id>\ne\n") is sent
# whenever CPython frees a JavaObject proxy, so its count depends on the
# Python GC and not on the work an operation asks of the JVM.
_DETACH_PREFIX = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands sent through one gateway client, not
    counting GC detach commands. ``install`` wraps the client's
    ``send_command``; ``uninstall`` restores it."""

    def __init__(self) -> None:
        self.count = 0
        self._client = None

    def install(self, client) -> None:
        send = client.send_command

        def counting_send(command, *args, **kwargs):
            if not command.startswith(_DETACH_PREFIX):
                self.count += 1
            return send(command, *args, **kwargs)

        client.send_command = counting_send
        self._client = client

    def uninstall(self) -> None:
        if self._client is not None:
            del self._client.send_command  # drop the instance override
            self._client = None


class Tracer:
    """In-memory spans and per-operation attribution.

    Each span is ``(op_id, name, start, end, parent)``; times are
    ``time.perf_counter`` seconds. Each traced operation runs in its own
    Spark job group, so event-log metrics can be attributed to it, and
    its py4j commands are counted. A disabled tracer records nothing
    and costs one attribute test per span."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str | None, str, float, float, str | None]] = []
        self.groups: dict[str, str] = {}  # Spark job group -> op id
        self.op_id: str | None = None
        self.py4j = Py4jCounter()
        self._stack: list[str] = []

    def enable(self, spark) -> None:
        self.py4j.install(spark.sparkContext._gateway._gateway_client)
        self.enabled = True

    def disable(self, spark) -> None:
        self.enabled = False
        self.py4j.uninstall()
        spark.sparkContext.setJobGroup("untraced", "untraced")

    def begin_op(self, spark, op_id: str) -> int:
        """Start attributing to ``op_id``; returns the py4j count to
        subtract at the end of the operation."""
        self.op_id = op_id
        self.groups[op_id] = op_id
        spark.sparkContext.setJobGroup(op_id, op_id)
        return self.py4j.count

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((self.op_id, name, start, time.perf_counter(), parent))

    def plan(self, df) -> None:
        """Force Catalyst analysis, optimisation and physical planning of
        ``df`` ahead of its action, as the ``catalyst.plan`` span. Its
        own py4j commands are not counted for the operation."""
        if not self.enabled:
            return
        before = self.py4j.count
        with self.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        self.py4j.count = before

    def stream_started(self, query) -> None:
        """Attribute the jobs of a started streaming query, which run in
        the query's own job group (its run id), to the current op."""
        if self.enabled:
            self.groups[str(query.runId)] = self.op_id


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[str, dict[str, float]]:
    """``{op_id: {span name: self seconds}}``. Children are matched to
    their parent by name within one operation; a name that repeats in
    an operation is summed."""
    children: dict[tuple, list[tuple[float, float]]] = defaultdict(list)
    for op, name, start, end, parent in spans:
        if parent is not None:
            children[(op, parent)].append((start, end))
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for op, name, start, end, _parent in spans:
        kids = [(max(s, start), min(e, end)) for s, e in children[(op, name)]
                if e > start and s < end]
        out[op][name] += (end - start) - _covered(kids)
    return {op: dict(v) for op, v in out.items()}


# Event-log task metrics summed per operation, as (output name, path
# into the "Task Metrics" object, scale to output units).
_TASK_METRICS = (
    ("spark.task_deser_s", ("Executor Deserialize Time",), 1e-3),
    ("exec.run_s", ("Executor Run Time",), 1e-3),
    ("exec.cpu_s", ("Executor CPU Time",), 1e-9),
    ("exec.gc_s", ("JVM GC Time",), 1e-3),
    ("scan.rows_read", ("Input Metrics", "Records Read"), 1),
    ("scan.bytes_read", ("Input Metrics", "Bytes Read"), 1),
    ("shuffle.write_bytes", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    ("shuffle.read_bytes", ("Shuffle Read Metrics", "Local Bytes Read"), 1),
    ("shuffle.read_bytes", ("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    ("spill.bytes", ("Disk Bytes Spilled",), 1),
)
# SQL metrics of Python-evaluating plan nodes, found by name in each
# task's accumulator updates.
_TASK_ACCUMS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
# Every metric the parser returns, with its unit.
EVENT_LOG_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_deser_s": "s", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "scan.rows_read": "count", "scan.bytes_read": "B",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "spill.bytes": "B",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
}


def _dig(d: dict, path: tuple[str, ...]):
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
    return d or 0


def parse_event_log(lines, group_to_op: dict[str, str]) -> dict[str, dict[str, float]]:
    """Sum runtime metrics per operation from Spark's JSON event log.

    A job belongs to an operation through its ``spark.jobGroup.id``
    property, looked up in ``group_to_op``; jobs of unknown groups
    (set-up, checks) are ignored. Returns ``{op_id: {metric: value}}``
    with every name in ``EVENT_LOG_METRICS``."""
    stage_op: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(op: str) -> dict[str, float]:
        if op not in out:
            out[op] = dict.fromkeys(EVENT_LOG_METRICS, 0)
        return out[op]

    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            op = group_to_op.get(group)
            if op is None:
                continue
            bucket(op)["spark.jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_op[sid] = op
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(e["Stage Info"]["Stage ID"])
            if op is not None:
                bucket(op)["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(e.get("Stage ID"))
            if op is None:
                continue
            b = bucket(op)
            b["spark.tasks"] += 1
            tm = e.get("Task Metrics") or {}
            for name, path, scale in _TASK_METRICS:
                b[name] += _dig(tm, path) * scale
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = _TASK_ACCUMS.get(acc.get("Name"))
                if name is not None:
                    b[name] += int(acc.get("Update") or 0)
    return out


def read_event_log(log_dir: str) -> list[str]:
    """Lines of the single uncompressed event log in ``log_dir``."""
    lines: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            lines.extend(f)
    return lines
