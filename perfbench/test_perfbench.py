"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload once untraced and once traced with
a one-second window (several minutes on 4 cores); the other tests need
no Spark session.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from run import Runner, failed_calls  # noqa: E402
from spans import _union_ms, metric_total  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


class _FakeWorkload:
    calls = ("a", "b")
    tracer = None

    def __init__(self, outputs):
        self.outputs = outputs

    def iteration(self, index):
        return 1, {k: (lambda v=v: v) for k, v in self.outputs.items()}

    def invariants(self, results):
        return []


def test_corrupted_digest_counts_as_failure():
    outputs = {"a": (3, "123"), "b": (5, "456")}
    pinned = {"a": [3, "123"], "b": [5, "456"]}
    good = Runner(_FakeWorkload(outputs), None, pinned)
    good.one_pass()
    good.check_all()
    assert (good.attempted, good.failed) == (2, 0)

    corrupted = dict(pinned, b=[5, "457"])
    bad = Runner(_FakeWorkload(outputs), None, corrupted)
    bad.one_pass()
    bad.check_all()
    assert (bad.attempted, bad.failed) == (2, 1)
    assert failed_calls(outputs, corrupted, []) == {"b"}


def test_metric_total_parses_spark_formats():
    assert metric_total("9.5 s") == 9.5
    assert metric_total(
        "total (min, med, max (stageId: taskId))\n"
        "807.9 KiB (202.0 KiB, 202.0 KiB, 202.0 KiB (stage 0.0: task 2))"
    ) == pytest.approx(807.9 * 1024)
    assert metric_total("total (min, med, max)\n120 ms (1 ms, 2 ms, 3 ms)") \
        == pytest.approx(0.12)


def test_union_clips_and_merges_intervals():
    assert _union_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 23


def test_tree_usage_sees_a_child_process():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(2)"])
    try:
        cpu, rss = procstat.tree_usage(os.getpid())
        _, alone = procstat.tree_usage(child.pid)
        assert cpu > 0 and rss > alone > 0
    finally:
        child.wait(timeout=10)


def _run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "42", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(out["metrics"][m["name"]]["value"], float)


def test_exits_nonzero_without_the_engine(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "geo_pipeline", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
