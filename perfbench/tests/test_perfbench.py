"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import inputs, run  # noqa: E402
from perfbench.trace import Py4jCounter, parse_event_log, self_times  # noqa: E402
from perfbench.workloads import check_top_k, lsh_buckets  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for run_dir in ("a", "b"):
        inputs.write_base(7, str(tmp_path / run_dir / "base"))
        inputs.write_copies(str(tmp_path / run_dir / "base"),
                            str(tmp_path / run_dir / "x2"), 2)
    for sub in ("base", "x2"):
        assert _files(str(tmp_path / "a" / sub)) == _files(str(tmp_path / "b" / sub))
    qa, ma = inputs.search_requests(7, 50)
    qb, mb = inputs.search_requests(7, 50)
    assert qa.tobytes() == qb.tobytes() and ma == mb


def test_other_seed_gives_other_inputs(tmp_path):
    inputs.write_base(7, str(tmp_path / "a"))
    inputs.write_base(8, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert all(a[n] != b[n] for n in a)


def test_every_seed_sends_the_same_scorer_mix():
    for seed in (1, 2, 3):
        _, metrics = inputs.search_requests(seed, 30)
        assert sorted(metrics) == sorted(list(inputs.SCORERS) * 10)


def test_copies_follow_the_tier_rules():
    docs = inputs.documents_table(3)
    x = inputs.copies(docs, "documents", 2)
    assert x.num_rows == 2 * docs.num_rows
    assert x.column("doc_id")[docs.num_rows].as_py() == inputs.DOC_ID_MULT * inputs.SHIFT
    first = docs.column("text")[0].as_py().split()
    assert x.column("text")[docs.num_rows].as_py().split() == ["c1" + w for w in first]
    ids, vecs, labels = inputs.embeddings_arrays(3)
    e = inputs.copies(inputs.vectors_table(ids, vecs, labels), "embeddings", 2)
    assert e.column("label")[len(ids)].as_py() == labels[0] + inputs.LABEL_SHIFT


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    t = run.tail_latency([float(v) for v in range(100, 0, -1)])
    assert t == {"value": 90.0, "percentile": 90.0, "samples": 100, "beyond": 10}
    t = run.tail_latency([float(v) for v in range(11)])
    assert t["value"] == 0.0 and t["beyond"] == 10
    assert run.tail_latency([1.0] * 10) is None


class _FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True, binary=False):
        self.sent.append(command)
        return "yv"


def test_py4j_counter_excludes_gc_detach_commands():
    client, counter = _FakeClient(), Py4jCounter()
    counter.install(client)
    client.send_command("c\no12\ncollectToPython\ne\n")
    client.send_command("m\nd\no12\ne\n")  # GC detach
    client.send_command("r\nu\norg\ne\n")
    assert counter.count == 2 and len(client.sent) == 3
    counter.uninstall()
    client.send_command("c\no13\ncount\ne\n")
    assert counter.count == 2 and "send_command" not in vars(client)


def test_event_log_parser_sums_per_operation():
    with open(os.path.join(HERE, "eventlog.jsonl")) as f:
        got = parse_event_log(f, {"op0": "op0", "op1": "op1"})
    # jobs of the "setup" group belong to no operation
    assert set(got) == {"op0", "op1"}
    op0 = got["op0"]
    # job 1 lists a skipped stage; only completed stages count
    assert (op0["spark.jobs"], op0["spark.stages"], op0["spark.tasks"]) == (2, 2, 3)
    assert op0["scan.rows_read"] == 1000
    assert op0["shuffle.write_bytes"] == op0["shuffle.read_bytes"] == 266
    assert (op0["python.bytes_sent"], op0["python.bytes_returned"]) == (8608, 16448)
    assert op0["spark.task_deser_s"] == pytest.approx(0.125)
    assert op0["exec.run_s"] == pytest.approx(4.635)
    assert op0["exec.gc_s"] == pytest.approx(0.08)
    op1 = got["op1"]
    assert (op1["spark.jobs"], op1["spark.tasks"], op1["scan.rows_read"]) == (2, 4, 100)
    assert op1["python.bytes_sent"] == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        ("op0", "child", 1.0, 2.0, "parent"),
        ("op0", "child", 1.5, 3.0, "parent"),  # overlaps the first child
        ("op0", "parent", 0.0, 4.0, None),
        ("op1", "parent", 0.0, 1.0, None),
    ]
    got = self_times(spans)
    assert got["op0"]["parent"] == pytest.approx(2.0)
    assert got["op0"]["child"] == pytest.approx(2.5)
    assert got["op1"]["parent"] == pytest.approx(1.0)


def test_top_k_check_allows_ties_and_catches_wrong_answers():
    ids = np.array([10, 11, 12, 13])
    mat = np.array([[1.0, 0.0], [0.5, 0.5], [0.5, 0.5], [0.0, 1.0]])
    q = np.array([1.0, 0.0])
    assert check_top_k([(10, 1.0), (11, 0.5)], ids, mat, q, "dot", 2) == ""
    assert check_top_k([(10, 1.0), (12, 0.5)], ids, mat, q, "dot", 2) == ""
    assert check_top_k([(10, 1.0), (13, 0.0)], ids, mat, q, "dot", 2) != ""
    assert check_top_k([(10, 1.0)], ids, mat, q, "dot", 2) != ""
    assert check_top_k([(10, 0.0), (11, 1.0)], ids, mat, q, "l2", 2) != ""


def test_lsh_buckets_match_a_sequential_fold():
    r = np.random.default_rng(0)
    vecs, planes = r.normal(size=(20, 64)), r.normal(size=(8, 64))

    def fold(v, h):  # Spark's aggregate(zip_with(...)): left to right from 0.0
        acc = 0.0
        for a, b in zip(v, h):
            acc += a * b
        return acc

    want = ["".join("1" if fold(v, h) >= 0 else "0" for h in planes) for v in vecs]
    assert lsh_buckets(vecs, planes) == want


def test_benchmark_json_lists_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
