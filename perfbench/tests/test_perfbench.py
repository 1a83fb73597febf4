"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke runs use sf0.01 inputs and a short window, so the whole file takes a
few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import measure  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

SCALE = 0.1  # sf0.01 inputs
SLOW_LAYER = "sinks.append_ledger"
SLOW_SECONDS = 1.0
# Self-time metrics of the layers beside the slowed one inside a micro-batch.
SIBLING_METRICS = [
    "materialize.pin_s",
    "dedup.keep_first_s",
    "dedup.gate_anti_join_s",
    "sinks.read_ledger_s",
    "sinks.output_write_s",
]

# Runs run.main in a fresh interpreter with smaller inputs and, optionally,
# one engine function made to sleep before each call. The patch is in place
# before the session starts, as the workload's own wrappers expect.
WRAPPER = """
import importlib, sys, time
import perfbench.run as run
run.SCALE = {scale}
if {slow!r}:
    mod_name, attr = {slow!r}.rsplit(".", 1)
    module = importlib.import_module(run.PACKAGE + "." + mod_name)
    fn = getattr(module, attr)
    def slowed(*args, **kwargs):
        time.sleep({seconds})
        return fn(*args, **kwargs)
    setattr(module, attr, slowed)
sys.exit(run.main(sys.argv[1:]))
"""


def bench(workload: str, trace: int, slow: str = "") -> tuple[int, list[str]]:
    code = WRAPPER.format(scale=SCALE, slow=slow, seconds=SLOW_SECONDS)
    cmd = [sys.executable, "-c", code, "--workload", workload,
           "--seed", "3", "--seconds", "3", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    return proc.returncode, proc.stdout.strip().splitlines()


_cache: dict[tuple, dict] = {}


def result(workload: str, trace: int, slow: str = "", rep: int = 0) -> dict:
    key = (workload, trace, slow, rep)
    if key not in _cache:
        rc, lines = bench(workload, trace, slow)
        assert rc == 0, lines
        _cache[key] = json.loads(lines[-1])
    return _cache[key]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(workload, trace):
    res = result(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_slowed_layer_moves_only_its_own_metric():
    # Base and slowed runs alternate, two of each. A sibling layer may move
    # between the two sides by no more than twice the most it moved between
    # two runs of the same side, plus 20 ms.
    base, slow = [], []
    for rep in (1, 2):
        base.append(result("ingest_stream", 1, rep=rep)["metrics"])
        slow.append(result("ingest_stream", 1, SLOW_LAYER, rep=rep)["metrics"])

    def value(runs, name):
        return [r[name]["value"] for r in runs]

    def moved(name):
        return statistics.fmean(value(slow, name)) - statistics.fmean(value(base, name))

    assert moved(f"{SLOW_LAYER}_s") > 0.8 * SLOW_SECONDS, (base, slow)
    assert moved("trace.latency_p50_s") > 0.8 * SLOW_SECONDS, (base, slow)
    for name in SIBLING_METRICS:
        b, s = value(base, name), value(slow, name)
        drift = max(abs(b[0] - b[1]), abs(s[0] - s[1]))
        assert abs(moved(name)) < 2 * drift + 0.02, (name, b, s)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_stream", "--seed", "3",
         "--seconds", "3", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    rc, lines = proc.returncode, proc.stdout.splitlines()
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.request = 7
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.05)
    st = tr.self_times()
    assert 0.015 < st[("outer", 7)][0] < 0.045
    assert st[("inner", 7)][0] >= 0.05


def test_event_log_attribution_by_group_and_window():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "perfbench-1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5200, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5400},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 2e9, "Memory Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
    ]
    out = measure.per_request_spark(events, [(0, 0), (0.9, 2.0), (5.0, 6.0)])
    assert out[1]["jobs"] == 1 and abs(out[1]["job_s"] - 0.5) < 1e-9
    assert out[2]["jobs"] == 1 and out[2]["stages"] == 1 and out[2]["tasks"] == 1
    assert out[2]["executor_cpu_s"] == 2.0 and out[2]["spill_bytes"] == 5
    assert out[2]["shuffle_write_bytes"] == 7


def test_slope_and_percentile():
    assert measure.slope([1.0, 2.0, 3.0]) == pytest.approx(1.0)
    assert measure.slope([5.0]) == 0.0
    assert measure.percentile([1, 2, 3, 4, 5], 50) == 3
    assert measure.percentile(list(range(11)), 90) == pytest.approx(9.0)
