"""sources/scratch.py: staged dirs become ready only once their write
returns, fresh dirs replace their predecessor, and the per-process root
is gone once the interpreter exits. Pure Python, no Spark."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from quick_and_easy_vectordb_spark.sources import scratch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _writer(calls: list[str], fail: bool = False):
    def write(d: str) -> None:
        calls.append(d)
        with open(os.path.join(d, "part"), "w") as f:
            f.write("x")
        if fail:
            raise RuntimeError("write failed")

    return write


def test_failed_write_is_not_ready_and_is_removed(tmp_path):
    calls: list[str] = []
    with pytest.raises(RuntimeError):
        scratch.staged("t_fail", str(tmp_path), _writer(calls, fail=True))
    assert not os.path.exists(calls[0])
    assert scratch.lookup("t_fail", str(tmp_path)) is None
    d = scratch.staged("t_fail", str(tmp_path), _writer(calls))
    assert len(calls) == 2 and d == calls[1]
    assert os.path.isfile(os.path.join(d, "part"))


def test_staged_writes_once_and_again_after_removal(tmp_path):
    import shutil

    calls: list[str] = []
    d = scratch.staged("t_once", str(tmp_path), _writer(calls))
    assert scratch.staged("t_once", str(tmp_path), _writer(calls)) == d
    assert len(calls) == 1
    shutil.rmtree(d)
    d2 = scratch.staged("t_once", str(tmp_path), _writer(calls))
    assert len(calls) == 2 and os.path.isfile(os.path.join(d2, "part"))


def test_fresh_keeps_one_dir_per_key(tmp_path):
    a = scratch.fresh("t_fresh", str(tmp_path))
    b = scratch.fresh("t_fresh", str(tmp_path))
    assert a != b and os.listdir(b) == []
    assert not os.path.exists(a)
    assert scratch.lookup("t_fresh", str(tmp_path)) == b
    siblings = [n for n in os.listdir(os.path.dirname(b)) if n.startswith("t_fresh_")]
    assert siblings == [os.path.basename(b)]


def test_process_exit_removes_its_scratch_root(tmp_path):
    code = (
        "from quick_and_easy_vectordb_spark.sources import scratch\n"
        "d = scratch.staged('t_exit', '.', lambda d: open(d + '/f', 'w').close())\n"
        "f = scratch.fresh('t_exit_fresh', '.')\n"
        "print(d); print(f)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    assert len(out) == 2 and all(p.startswith(str(tmp_path)) for p in out)
    assert os.listdir(tmp_path) == []
