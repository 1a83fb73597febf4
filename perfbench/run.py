"""Benchmark entry point: one workload, one closed-loop client, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

The run generates its inputs from ``--seed``, starts a ``local[4]`` session,
warms up at the measured scale for the workload's fixed request count, times
requests for ``--seconds`` seconds, checks the outputs, and prints as its last
stdout line ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (Spark event
log on, spans around the engine's public functions). The line before it holds
the run's details: input digest, per-request latencies and their slope, CPU
steal, load average, error rate and the output check.

All files go under ``.perfbench_work/`` in the repository root; the run's own
directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "quill_agent_dashboard_pbi_etl_spark"
SF = 0.1  # the measured scale
#: Multiplies every input size; the benchmark's own tests shrink it.
SCALE = 1.0

# Wall-clock latency and throughput are printed in every run's details but
# not gated: on a VM whose CPU steal swings from run to run (0-22% on four
# vCPUs) they spread beyond any usable bound, while CPU seconds per request,
# which steal does not inflate, hold.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_request": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. All workloads report all of them;
    a layer a workload does not reach reads 0."""
    from perfbench.workloads import DASHBOARD_QUERIES

    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "trace.latency_p50_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_cpu_s": "s",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.driver_gap_s": "s",
        "plans.construct_s": "s",
        "plans.execute_s": "s",
        "adapter.normalize_s": "s",
        "adapter.rows_out": "count",
        "streaming.pickup_s": "s",
        "streaming.latest_offset_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.add_batch_ms": "ms",
        "streaming.wal_commit_ms": "ms",
        "streaming.commit_offsets_ms": "ms",
        "materialize.pin_calls": "count",
        "materialize.pin_s": "s",
        "materialize.release_s": "s",
        "dedup.keep_first_s": "s",
        "dedup.gate_anti_join_s": "s",
        "sinks.read_ledger_s": "s",
        "sinks.append_ledger_s": "s",
        "sinks.output_write_s": "s",
        "ledger.files": "count",
        "ledger.bytes": "bytes",
        "output.files": "count",
        "ingest.received": "count",
        "ingest.dead_letter": "count",
        "ingest.within_batch_dups": "count",
        "ingest.ledger_suppressed": "count",
        "ingest.posted": "count",
        "ingest.posted_ratio": "ratio",
        "corpus.pairs_s": "s",
        "corpus.clusters_s": "s",
        "corpus.survivors_s": "s",
        "corpus.gate_sample_s": "s",
        "corpus.pairs": "count",
        "corpus.survivors": "count",
        "corpus.sampled": "count",
    }
    for q in DASHBOARD_QUERIES:
        units[f"dashboard.{q}_s"] = "s"
    return units


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    from quill_agent_dashboard_pbi_etl_spark.session import get_spark

    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed set of JIT compiler threads, alive for the whole run. The CPU
        # meter leaves compiler threads out by name; with the JVM's default
        # of starting and retiring them on demand, a thread that lived only
        # between two readings went uncounted there and its compile time,
        # 5-8 s per batch refresh, was charged to the request.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            }
        )
    spark = get_spark(app_name="perfbench", master="local[4]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def run(args) -> dict:
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run_in(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_in(args, base: str, work: str) -> dict:
    from perfbench import inputs, measure
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    t_proc = time.perf_counter() - (measure.process_age_s() or 0.0)
    box_start = measure.cpu_ticks()
    load_start = measure.loadavg_1m()
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed, SCALE, tracer)
    # The window holds a fixed number of requests, sized from --seconds by
    # the workload's nominal request time (never fewer than its minimum, so
    # the median is never one sample). Both sides of an A/B then time the
    # same requests at the same point past the warm-up. The window may run
    # to eight times --seconds, so a VM three times slower than nominal still
    # times every request; a run slower still stops early rather than
    # overrun the run's time limit.
    n_timed = max(wl.min_timed, round(args.seconds / wl.nominal_s))
    wl.n_requests = wl.warmup + n_timed
    spark = None
    try:
        t = time.perf_counter()
        digest = inputs.digest(wl.generate())
        t_generate = time.perf_counter() - t

        t = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        t_session = time.perf_counter() - t
        sc = spark.sparkContext
        meter = measure.CpuMeter(sc._jvm.java.lang.ProcessHandle.current().pid())

        t = time.perf_counter()
        wl.prepare(spark)
        t_prepare = time.perf_counter() - t

        def one(i: int, collect: bool = False):
            sc.setJobGroup(f"perfbench-{i}", f"perfbench request {i}")
            tracer.request = i
            try:
                return wl.request(i, collect)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        t = time.perf_counter()
        for i in range(wl.warmup):
            one(i, collect=i == wl.warmup - 1)
            wl.between()
        t_warm = time.perf_counter() - t
        setup_s = time.perf_counter() - t_proc

        lat, cpu, jit, produced, walls, timed, errors = [], [], [], [], [], [], {}
        i = wl.warmup
        t_window = time.perf_counter()
        while (
            len(timed) < n_timed
            and wl.has_more(i)
            and time.perf_counter() - t_window < 8 * args.seconds
        ):
            c0, j0 = meter.total_s(), meter.jit_s()
            w0, t0 = time.time(), time.perf_counter()
            try:
                rows = one(i)
            except Exception as exc:  # a failed request counts against error_rate
                errors[i] = f"{type(exc).__name__}: {exc}"[:300]
                rows = 0
            t1, w1 = time.perf_counter(), time.time()
            c1, j1 = meter.total_s(), meter.jit_s()
            lat.append(t1 - t0)
            cpu.append(c1 - c0)
            jit.append(j1 - j0)
            walls.append((w0, w1))
            produced.append(wl.input_rows(rows))
            timed.append(i)
            tracer.request = i
            wl.between()
            tracer.request = None
            i += 1

        try:
            bad, check = wl.check(timed)
        except Exception:
            bad, check = set(timed), {"check_error": traceback.format_exc(limit=3)}
        bad |= set(errors)
        box_end = measure.cpu_ticks()

        details = {
            "workload": args.workload,
            "seed": args.seed,
            "sf": SF * SCALE,
            "input_digest": digest,
            "requests": len(timed),
            "warmup_requests": wl.warmup,
            "latencies_s": [round(x, 4) for x in lat],
            "latency_slope_s_per_request": measure.slope(lat),
            "cpu_s": [round(x, 3) for x in cpu],
            "jit_cpu_s": [round(x, 3) for x in jit],
            "error_rate": len(bad) / max(1, len(timed)),
            "errors": errors,
            "check": check,
            "steal_pct": measure.steal_pct(box_start, box_end),
            "loadavg_1m_at_start": load_start,
            "setup": {
                "generate_s": t_generate,
                "session_s": t_session,
                "prepare_s": t_prepare,
                "warmup_s": t_warm,
            },
        }
        p50 = statistics.median(lat) if lat else 0.0
        details["latency_p50_s"] = p50
        if len(lat) >= 10:
            details["latency_p90_s"] = measure.percentile(lat, 90)
        details["input_rows_per_s"] = sum(produced) / sum(lat) if lat else 0.0
        if not args.trace:
            values = {
                "setup_s": setup_s,
                "cpu_s_per_request": statistics.median(cpu) if cpu else 0.0,
            }
            units = END_TO_END
        else:
            units = per_layer_units()
            values = {k: 0.0 for k in units}
            values.update(wl.layers(timed, lat))
            tr = tracer
            pins = tr.count("materialize.pin", timed)
            values.update(
                {
                    "session.start_s": t_session,
                    "session.warmup_s": t_warm,
                    "session.jvm_peak_rss_mb": meter.jvm_peak_rss_mb(),
                    "trace.latency_p50_s": p50,
                    "plans.construct_s": measure.median_or_zero(tr.durations("plans.construct", timed)),
                    "plans.execute_s": measure.median_or_zero(tr.durations("plans.execute", timed)),
                    "materialize.pin_calls": measure.median_or_zero(pins),
                    "materialize.pin_s": measure.median_or_zero(tr.per_request("materialize.pin", timed)),
                    "materialize.release_s": measure.median_or_zero(
                        tr.per_request("materialize.release", timed)
                    ),
                }
            )
    finally:
        tracer.restore()
        wl.close()
        if spark is not None:
            stop_session(spark)

    if args.trace:
        per_req = measure.per_request_spark(
            measure.read_event_log(os.path.join(work, "eventlog")),
            [(0.0, 0.0)] * wl.warmup + walls,
        )[wl.warmup:]
        for key in ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            values[f"spark.{key}"] = measure.median_or_zero([r[key] for r in per_req])
        values["spark.driver_gap_s"] = measure.median_or_zero(
            [w - r["job_s"] for w, r in zip(lat, per_req)]
        )
        os.makedirs(base, exist_ok=True)
        tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))

    print(json.dumps(details, sort_keys=True))
    return {
        "correct": not bad and len(timed) > 0,
        "attempted": max(1, len(timed)),
        "failed": len(bad) if timed else 1,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
