"""The /proc/stat steal reader bench.py and tools/time_queries.py share
(perfbench/measure.py) and bench.py's previous-run lookup for
box_shift_vs_prev."""

from __future__ import annotations

import io
import json

import bench
from perfbench import measure


def test_cpu_ticks_total_excludes_guest_fields(monkeypatch):
    """guest and guest_nice are already counted inside user and nice, so
    the total-ticks denominator must stop at steal (field 8); summing all
    ten fields double-counts guest time and understates steal%."""
    # user nice system idle iowait irq softirq steal guest guest_nice
    line = "cpu  100 20 30 400 5 6 7 8 50 10\n"
    monkeypatch.setattr(measure, "open", lambda *a, **k: io.StringIO(line), raising=False)
    assert measure.cpu_ticks() == (8, 100 + 20 + 30 + 400 + 5 + 6 + 7 + 8)


def _write_details(path, sf, cpus):
    with open(path, "w") as fh:
        json.dump({"sf": sf, "cpus": cpus, "value": 100.0,
                   "queries_median": {"q": 1.0}}, fh)


def test_prev_details_requires_matching_core_count(tmp_path):
    """A c8 run's details must not become the box-shift basis of a c4 run
    at the same sf: the per-query ratio would be the core-count ratio."""
    _write_details(tmp_path / "BENCH_DETAILS_c8.json", 0.1, 8)
    _write_details(tmp_path / "BENCH_DETAILS.json", 0.1, 8)  # latest-run copy
    assert bench._prev_details(str(tmp_path), 0.1, 4) == {}
    # a per-core file whose recorded cpus disagrees with its name is ignored
    _write_details(tmp_path / "BENCH_DETAILS_c4.json", 0.1, 8)
    assert bench._prev_details(str(tmp_path), 0.1, 4) == {}
    # same sf and cpus: the previous run is the basis
    prev = bench._prev_details(str(tmp_path), 0.1, 8)
    assert prev["queries_median"] == {"q": 1.0} and prev["value"] == 100.0
    # same cpus, different sf: no basis
    assert bench._prev_details(str(tmp_path), 0.01, 8) == {}
