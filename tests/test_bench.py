"""bench.py's /proc/stat steal instrumentation (also used by
tools/time_queries.py)."""

from __future__ import annotations

import io

import bench


def test_cpu_ticks_total_excludes_guest_fields(monkeypatch):
    """guest and guest_nice are already counted inside user and nice, so
    the total-ticks denominator must stop at steal (field 8); summing all
    ten fields double-counts guest time and understates steal%."""
    # user nice system idle iowait irq softirq steal guest guest_nice
    line = "cpu  100 20 30 400 5 6 7 8 50 10\n"
    monkeypatch.setattr(bench, "open", lambda *a, **k: io.StringIO(line), raising=False)
    assert bench._cpu_ticks() == (8, 100 + 20 + 30 + 400 + 5 + 6 + 7 + 8)
