"""Process CPU, box state, summary statistics and Spark event-log reduction.

Linux ``/proc`` is the only source: the JVM's and its child processes' CPU
(utime + stime), the JVM's peak RSS, CPU steal and load average. Where a file
is missing the reader returns zeros, so the benchmark still runs elsewhere.
"""

from __future__ import annotations

import json
import os
import statistics

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat_cpu_s(path: str) -> tuple[str, float]:
    """(command name, utime + stime in seconds) from a ``stat`` file."""
    try:
        with open(path) as fh:
            head, tail = fh.read().rsplit(")", 1)
        fields = tail.split()
        return head.split("(", 1)[1], (int(fields[11]) + int(fields[12])) / _TICK
    except (OSError, IndexError, ValueError):
        return "", 0.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


class CpuMeter:
    """CPU seconds of the JVM, its descendants (Python workers) and this
    driver process, read as one running total. The JVM's JIT compiler
    threads and its code-cache sweeper are counted apart (:meth:`jit_s`):
    compilation is warm-up work whose timing varies from run to run, not work
    the request asked for."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        # Last CPU reading of every thread matched so far: a thread that has
        # exited keeps its CPU in the process total, so it must stay in the
        # subtracted part too. A thread that starts and exits between two
        # readings is never seen, which is why run.py starts the JVM with a
        # fixed set of compiler threads.
        self._seen: dict[tuple[str, str], float] = {}

    def threads_s(self, *markers: str) -> float:
        """CPU seconds of the JVM threads whose name contains a marker,
        including threads that have exited since they were first seen."""
        try:
            tids = os.listdir(f"/proc/{self.jvm_pid}/task")
        except (OSError, TypeError):
            tids = []
        for tid in tids:
            name, cpu = _stat_cpu_s(f"/proc/{self.jvm_pid}/task/{tid}/stat")
            for m in markers:
                if m in name:
                    self._seen[(m, tid)] = cpu
        return sum(v for (m, _), v in self._seen.items() if m in markers)

    def jit_s(self) -> float:
        return self.threads_s("CompilerThre", "Sweeper thread")

    def total_s(self) -> float:
        t = os.times()
        total = t.user + t.system
        if self.jvm_pid:
            stack = [self.jvm_pid]
            while stack:
                pid = stack.pop()
                total += _stat_cpu_s(f"/proc/{pid}/stat")[1]
                stack += _children(pid)
            total -= self.jit_s()
        return total

    def jvm_peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except (OSError, TypeError):
            pass
        return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks from the aggregate ``/proc/stat`` cpu line. Only
    the first 8 fields count: guest and guest_nice are already inside user
    and nice, so summing them too would understate steal."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def loadavg_1m() -> float:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0


def process_age_s() -> float | None:
    """Seconds since this process started, from ``/proc``; None elsewhere."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return uptime - start_ticks / _TICK
    except (OSError, ValueError, IndexError):
        return None


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def slope(values: list[float]) -> float:
    """Least-squares slope of ``values`` over their index (units per request)."""
    n = len(values)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = statistics.fmean(values)
    num = sum((i - mx) * (v - my) for i, v in enumerate(values))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------- #
# Spark event log
# --------------------------------------------------------------------------- #

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the logs under ``log_dir``. Spark 4 writes a rolling
    log: a directory of ``events_<n>_<app>`` files plus an ``appstatus``
    marker; a flat single-file log also reads."""
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for name in names:
            if name.startswith("appstatus"):
                continue
            parts = name.split("_")
            n = int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0
            files.append((dirpath, n, name))
    events: list[dict] = []
    for dirpath, _, name in sorted(files):
        with open(os.path.join(dirpath, name)) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    pass  # a truncated last line of an in-progress log
    return events


def per_request_spark(events: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Reduce an event log to per-request job, stage and task figures.

    A job belongs to the request whose job group (``perfbench-<i>``) it
    carries; jobs without one (a streaming query's own thread) belong to the
    request whose ``[start, end]`` wall window holds the job's submission
    time. The loop is closed with one client, so windows do not overlap.
    ``windows`` are wall-clock seconds; the log's times are milliseconds."""
    job_req: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            t = ev["Submission Time"] / 1000.0
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            req = None
            if group.startswith("perfbench-"):
                req = int(group.split("-", 1)[1])
            else:
                for i, (a, b) in enumerate(windows):
                    if a <= t <= b:
                        req = i
                        break
            if req is None or not 0 <= req < len(windows):
                continue
            job_req[jid] = req
            job_span[jid] = [t, t]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0

    out = [
        dict(jobs=0, stages=0, tasks=0, executor_cpu_s=0.0, shuffle_read_bytes=0,
             shuffle_write_bytes=0, spill_bytes=0, job_s=0.0)
        for _ in windows
    ]
    for jid, req in job_req.items():
        out[req]["jobs"] += 1
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                out[job_req[jid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            r = out[job_req[jid]]
            m = ev.get("Task Metrics") or {}
            r["tasks"] += 1
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    # Time inside jobs = the union of each request's job intervals.
    by_req: dict[int, list[list[float]]] = {}
    for jid, span in job_span.items():
        by_req.setdefault(job_req[jid], []).append(span)
    for req, spans in by_req.items():
        covered, end = 0.0, float("-inf")
        for a, b in sorted(spans):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[req]["job_s"] = covered
    return out
