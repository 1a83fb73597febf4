"""Weak-scaling probe: REAL separate-JVM executors via local-cluster mode.

Every prior ladder cell ran one JVM (`local[N]`), so the claim that closes the
pair-trunk story — "production relieves the spill by scaling executors WITH
data, holding the per-task slice constant" — was only ever tested by inversion
(local[8] same-heap → spill collapses). Spark's `local-cluster[n,cores,mem]`
test master launches n REAL executor JVMs as separate processes with real
inter-process shuffle, which lets the claim be measured directly on this box:

- **weak-scaling pair**: sf10 on ONE 8-core/14g executor vs sf30 (3x the
  data) on THREE identical executors. If per-executor-slice is what governs,
  the two cells see the same per-executor load: wall-clock stays ~flat and
  per-executor spill stays ~equal while the data tripled.
- **strong-scaling control**: sf30 on the SAME single executor — 3x data, no
  extra hardware. This is the cell the claim says production never runs; its
  spill and wall should blow up ~superlinearly vs the sf10 baseline.

Each cell runs in a fresh subprocess (one JVM generation per measurement) and
reads per-stage ``memoryBytesSpilled``/``diskBytesSpilled`` plus per-executor
GC off the UI REST status API, exactly like tools/probe_pair_trunk.py.
Results merge into ``SCALE_LADDER.json["weak_scaling_probe"][<query>]``.

Round 9 adds the two plans the one-JVM ladder could not answer (r8 verdict
directive 2):

- ``--ledger``: the exact anti-join gate vs the Bloom pre-gate, per cell,
  with the EXECUTED anti-join strategy captured (BroadcastHashJoin vs
  SortMergeJoin) — where does broadcast-vs-SMJ land when the broadcast
  crosses real process boundaries?
- ``--streaming [heap|rocksdb|both]``: the §2.7 ingest drain
  (envelope JSONL → normalize → 14-day watermarked dedup → parquet sink)
  under local-cluster, per state backend — does the heap-vs-RocksDB
  crossover move when dedup state lives in 3 separate 14g executor heaps
  instead of one big one?

Usage:
    python tools/probe_weak_scaling.py [ladder_root]
    python tools/probe_weak_scaling.py --query dedup_minhash_lsh [ladder_root]
    python tools/probe_weak_scaling.py --ledger [ladder_root]
    python tools/probe_weak_scaling.py --streaming both [ladder_root]
    # child modes (internal): --cell <master> <sf_dir> <query>
    #   --ledger-cell <master> <sf_dir> | --stream-cell <master> <sf_dir> <backend>
    #   --prep <sf_dir> <landing_dir>
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

QUERY = "dedup_ngram_jaccard"

# One executor "shape" used for every cell: 8 cores / 16 GiB worker with a
# 14 GiB executor heap (2 GiB worker headroom). Scaling out = more of these.
EXEC_CORES = 8
WORKER_MB = 16384
EXEC_MEM = "14g"


def _master(n_execs: int) -> str:
    return f"local-cluster[{n_execs},{EXEC_CORES},{WORKER_MB}]"


def _child_session(master: str, extra: dict | None = None):
    """One local-cluster session per child JVM tree, with the confs every
    cell needs (see inline comments for the measured reasons)."""
    from quill_agent_dashboard_pbi_etl_spark.session import get_spark

    # local-cluster needs SPARK_HOME to spawn worker/executor JVMs; the pip
    # install ships the launch scripts inside the package dir.
    import pyspark

    os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))

    conf = {
        "spark.ui.enabled": "true",
        "spark.ui.port": "4051",
        "spark.executor.memory": EXEC_MEM,
        # NOT merely a coordinator: under AQE broadcast conversion the
        # DRIVER collects and builds every broadcast relation. At 8g the
        # sf30 cells died in notEnoughMemoryToBuildAndBroadcastTableError
        # while all executors were healthy — the inverted-index join side
        # sits under the 64 MB threshold serialized but not in driver
        # build form. 16g fits it; executor memory still dominates cells.
        "spark.driver.memory": "16g",
        # Three executors spilling tens of GB to one local disk can
        # stall RPC threads past the 120s default; ride out writeback
        # storms instead of declaring executors dead mid-spill.
        "spark.network.timeout": "600s",
        "spark.executor.heartbeatInterval": "60s",
        # If executors genuinely cannot start, fail the app after a few
        # tries — the default standalone behavior relaunched 1,546
        # executors in 60s before giving up (measured).
        "spark.deploy.maxExecutorRetries": "3",
    }
    conf.update(extra or {})
    spark = get_spark(
        app_name=f"weak-scaling-{master}", master=master, extra_conf=conf
    )
    # WARN, not ERROR: in local-cluster mode the standalone Master/Worker log
    # through the driver's log4j, and executor exit statuses are the only
    # diagnosable trace of a crash loop. WEAK_PROBE_LOG=INFO for a post-mortem
    # rerun — the master states WHY it replaced an executor only at INFO.
    spark.sparkContext.setLogLevel(os.environ.get("WEAK_PROBE_LOG", "WARN"))
    return spark


def _rest_counters(spark, master: str, sf_dir: str) -> dict:
    """Per-stage spill + per-executor GC off the UI REST status API."""
    ui = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{ui}/api/v1/applications") as r:
        app_id = json.load(r)[0]["id"]
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        stages = json.load(r)
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/executors"
    ) as r:
        execs = json.load(r)

    workers = [e for e in execs if e["id"] != "driver"]
    total_mem = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    total_disk = sum(s.get("diskBytesSpilled", 0) for s in stages)
    gc_ms = sum(e.get("totalGCTime", 0) for e in workers)
    task_ms = sum(e.get("totalDuration", 0) for e in workers)
    return {
        "master": master,
        "n_executors": len(workers),
        "executor_shape": f"{EXEC_CORES}c/{EXEC_MEM}",
        "sf_dir": sf_dir,
        "memory_spill_gb": round(total_mem / 2**30, 2),
        "disk_spill_gb": round(total_disk / 2**30, 2),
        "memory_spill_gb_per_executor": round(
            total_mem / 2**30 / max(1, len(workers)), 2
        ),
        "shuffle_write_gb": round(
            sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**30, 2
        ),
        "gc_time_sec": round(gc_ms / 1000, 1),
        "gc_fraction": round(gc_ms / task_ms, 3) if task_ms else None,
    }


def run_cell(master: str, sf_dir: str, query: str = QUERY) -> None:
    """Child: one (master, rung) measurement in a fresh JVM tree; prints ONE
    JSON line on stdout (everything else goes to stderr)."""
    from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
    from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES

    spark = _child_session(master)
    t0 = time.perf_counter()
    QUERIES[query](spark, sf_dir).write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0

    out = _rest_counters(spark, master, sf_dir)
    out["wall_sec"] = round(wall, 1)
    spark.stop()
    print(json.dumps(out))


def _last_join_lines(spark) -> list[str]:
    """Join operators of the most recent EXECUTED SQL plan, off the REST
    endpoint (a DataFrame's own queryExecution never finalizes under AQE
    unless that exact QueryExecution ran — see tools/plan_audit.py)."""
    sys.path.insert(0, "/root/repo/tools")
    import plan_audit

    return plan_audit.join_lines(plan_audit.last_sql_plan(spark))


def run_ledger_cell(master: str, sf_dir: str) -> None:
    """Child: the exact ledger gate vs the Bloom pre-gate on one cell, with
    the executed anti-join strategy captured — bench_ledger_gates.py's setup
    (synthetic prior-run ledger, 14-day TTL, NOW_ANCHOR clock) on real
    separate-JVM executors."""
    import datetime as dt

    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark.operators import dedup
    from quill_agent_dashboard_pbi_etl_spark.operators.materialize import pin
    from quill_agent_dashboard_pbi_etl_spark.plans.registry import (
        NOW_ANCHOR,
        normalized_fact,
    )

    spark = _child_session(master)
    now_epoch = int(
        dt.datetime.strptime(NOW_ANCHOR, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )
    fact = pin(
        normalized_fact(spark, sf_dir).withColumnRenamed("EventID", "dedup_key"),
        required=True,
    )
    ledger = pin(
        fact.filter(
            F.col("EventTime") < F.lit("2024-01-10 00:00:00").cast("timestamp")
        ).select(
            F.col("dedup_key").alias("pk"),
            F.col("EventTime").alias("seenAt"),
            (F.unix_timestamp("EventTime") + 14 * 86400).alias("expiresAt"),
        ),
        required=True,
    )

    t0 = time.perf_counter()
    exact = dedup.ledger_gate(fact, ledger, key_col="dedup_key", now_epoch=now_epoch)
    exact.write.mode("overwrite").format("noop").save()
    exact_sec = round(time.perf_counter() - t0, 3)
    exact_joins = _last_join_lines(spark)

    t0 = time.perf_counter()
    live_n = ledger.filter(F.col("expiresAt") >= F.lit(now_epoch)).count()
    num_bits = max(1 << 16, int(1.44 * live_n * math.log2(1 / 0.01)))
    bloom = dedup.ledger_gate_bloom(
        fact,
        ledger,
        key_col="dedup_key",
        now_epoch=now_epoch,
        num_bits=num_bits,
    )
    bloom.write.mode("overwrite").format("noop").save()
    bloom_sec = round(time.perf_counter() - t0, 3)
    bloom_joins = _last_join_lines(spark)

    n_exact, n_bloom = exact.count(), bloom.count()
    assert n_exact == n_bloom, (n_exact, n_bloom)

    out = _rest_counters(spark, master, sf_dir)
    out.update(
        {
            "exact_sec": exact_sec,
            "bloom_sec": bloom_sec,
            "events": fact.count(),
            "live_keys": live_n,
            "bloom_mbits": round(num_bits / 1e6, 1),
            "survivors": n_exact,
            "exact_join_nodes": exact_joins,
            "bloom_join_nodes": bloom_joins,
        }
    )
    spark.stop()
    print(json.dumps(out))


STREAM_N_FILES = 256  # 4 micro-batches at maxFilesPerTrigger=64


def prep_landing(sf_dir: str, landing: str) -> None:
    """Child: re-encode the rung's events as envelope JSONL ONCE (local[32],
    untimed prep shared by every streaming cell of that rung)."""
    sys.path.insert(0, "/root/repo/tools")
    import bench_streaming

    from quill_agent_dashboard_pbi_etl_spark.session import get_spark

    spark = get_spark(app_name="weak-scaling-prep", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    n = bench_streaming.write_landing(spark, sf_dir, landing, STREAM_N_FILES)
    # underscore-prefixed → invisible to Spark's file stream source
    with open(os.path.join(landing, "_events_count"), "w") as fh:
        fh.write(str(n))
    spark.stop()
    print(json.dumps({"events": n}))


def run_stream_cell(master: str, sf_dir: str, backend: str) -> None:
    """Child: the §2.7 streaming ingest drain (landing JSONL → normalize →
    14-day watermarked dedup → partitioned parquet sink) on real
    separate-JVM executors, one state backend per cell. State lives in the
    EXECUTORS here (n × 14g heaps or n RocksDB instances), not one big
    driver-side JVM — the cell the one-JVM ladder could not run."""
    import shutil
    import tempfile

    from quill_agent_dashboard_pbi_etl_spark.streaming.pipeline import (
        read_envelope_stream,
        start_fact_sink,
        streaming_fact_pipeline,
    )

    landing = _landing_dir(sf_dir)
    if not os.path.isdir(landing):
        sys.exit(f"landing dir {landing} missing — parent must --prep first")
    with open(os.path.join(landing, "_events_count")) as fh:
        n_events = int(fh.read())

    extra = {}
    if backend == "rocksdb":
        extra["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    spark = _child_session(master, extra)
    work = tempfile.mkdtemp(prefix="weak_stream_")
    try:
        t0 = time.perf_counter()
        stream = streaming_fact_pipeline(read_envelope_stream(spark, landing))
        q = start_fact_sink(
            stream,
            os.path.join(work, "out"),
            os.path.join(work, "ckpt"),
            available_now=True,
        )
        q.awaitTermination(3600)
        wall = time.perf_counter() - t0
        progress = q.lastProgress or {}
        state_rows = sum(
            op.get("numRowsTotal", 0) for op in progress.get("stateOperators", [])
        )
        facts_out = spark.read.parquet(os.path.join(work, "out")).count()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = _rest_counters(spark, master, sf_dir)
    out.update(
        {
            "backend": backend,
            "wall_sec": round(wall, 1),
            "events_in": n_events,
            "facts_out": facts_out,
            "events_per_sec": int(n_events / wall),
            "dedup_state_rows": state_rows,
            "micro_batches": math.ceil(STREAM_N_FILES / 64),
        }
    )
    spark.stop()
    print(json.dumps(out))


def _landing_dir(sf_dir: str) -> str:
    rung = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return f"/tmp/weak_stream_landing_{rung}"


def _run_plan(
    path: str, store_key: str, plan: list, cell_filter, child_args_fn
) -> dict:
    """Run the (label, rung, master) plan, one fresh child JVM tree per cell,
    merging into SCALE_LADDER.json[weak_scaling_probe][store_key] after
    every cell so a mid-plan kill loses nothing."""
    data = json.load(open(path)) if os.path.exists(path) else {}
    cells = dict(
        data.get("weak_scaling_probe", {}).get(store_key, {}).get("cells", {})
    )
    for label, rung, master in plan:
        if cell_filter is not None and label not in cell_filter:
            continue
        sf_dir = (
            rung if os.path.isabs(rung) else os.path.join(_run_plan.root, rung)
        )
        if not os.path.isdir(sf_dir):
            print(f"skip {label}: {sf_dir} missing", file=sys.stderr)
            continue
        print(f"=== {store_key}/{label}: {master} @ {rung} ===", file=sys.stderr)
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)]
                + child_args_fn(master, sf_dir),
                capture_output=True,
                text=True,
                env=dict(os.environ),
                timeout=7200,
            )
        except subprocess.TimeoutExpired:
            cells[label] = {"error": "timeout after 7200s", "rung": rung}
            _write(path, store_key, cells, _summary(cells))
            continue
        if proc.returncode != 0:
            # keep going: a dead cell must not discard the measured ones.
            print(proc.stderr[-3000:], file=sys.stderr)
            cells[label] = {
                "error": proc.stderr.strip().splitlines()[-1][-300:]
                if proc.stderr.strip()
                else f"exit {proc.returncode}",
                "rung": rung,
            }
            _write(path, store_key, cells, _summary(cells))
            continue
        # A zero-exit child with empty/non-JSON stdout (e.g. killed between
        # print and flush, or a stray stdout write from a library) must be
        # recorded like any other dead cell, not abort the remaining plan.
        try:
            cell = json.loads(proc.stdout.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError) as exc:
            print(proc.stderr[-3000:], file=sys.stderr)
            cells[label] = {
                "error": f"unparseable child stdout ({exc}): "
                f"{proc.stdout.strip()[-200:]!r}",
                "rung": rung,
            }
            _write(path, store_key, cells, _summary(cells))
            continue
        cell["rung"] = rung
        cells[label] = cell
        print(json.dumps(cell, indent=1), file=sys.stderr)
        _write(path, store_key, cells, _summary(cells))  # survive mid-plan kill
    return cells


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--cell":
        run_cell(sys.argv[2], sys.argv[3], sys.argv[4] if len(sys.argv) > 4 else QUERY)
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "--ledger-cell":
        run_ledger_cell(sys.argv[2], sys.argv[3])
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "--stream-cell":
        run_stream_cell(sys.argv[2], sys.argv[3], sys.argv[4])
        return
    if len(sys.argv) >= 2 and sys.argv[1] == "--prep":
        prep_landing(sys.argv[2], sys.argv[3])
        return

    argv = sys.argv[1:]
    query = QUERY
    mode = "query"
    if "--query" in argv:
        i = argv.index("--query")
        query = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--ledger" in argv:
        mode = "ledger"
        argv.remove("--ledger")
    backends = []
    if "--streaming" in argv:
        mode = "streaming"
        i = argv.index("--streaming")
        which = argv[i + 1] if len(argv) > i + 1 and not argv[i + 1].startswith("/") else "both"
        consumed = 2 if which in ("heap", "rocksdb", "both") else 1
        which = which if which in ("heap", "rocksdb", "both") else "both"
        backends = ["heap", "rocksdb"] if which == "both" else [which]
        argv = argv[:i] + argv[i + consumed :]
    cell_filter = None
    if "--cells" in argv:
        i = argv.index("--cells")
        cell_filter = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    sf100 = "--sf100" in argv
    if sf100:
        argv.remove("--sf100")
    ladder_root = argv[0] if argv else "/root/repo/scale_ladder"
    _run_plan.root = ladder_root

    path = "/root/repo/SCALE_LADDER.json"
    plan = [
        ("baseline_sf10_1exec", "sf10", _master(1)),
        ("weak_scaled_sf30_3exec", "sf30", _master(3)),
        ("control_sf30_1exec", "sf30", _master(1)),
    ]
    if sf100:
        # The decade the r9 crossover rule extrapolates past: 50M state keys
        # on 3 real 14g executors (~17M live keys per executor). The r9
        # cells stop at sf30/14M total; this cell either confirms the ~4x
        # per-executor crossover shift or bounds it.
        plan.append(("sf100_3exec", "sf100", _master(3)))

    if mode == "ledger":
        cells = _run_plan(
            path,
            "ledger_gates",
            plan,
            cell_filter,
            lambda m, d: ["--ledger-cell", m, d],
        )
        print(json.dumps(_summary(cells)))
        return

    if mode == "streaming":
        # prep each rung's landing JSONL once (local[32], untimed), shared
        # by every cell of that rung across both backends. Respect --cells:
        # a filtered run must not spend 10+ minutes encoding landings for
        # rungs whose cells it will skip.
        active = [
            (label, r)
            for label, r, _ in plan
            if cell_filter is None or label in cell_filter
        ]
        for rung in sorted({r for _, r in active}):
            sf_dir = os.path.join(ladder_root, rung)
            landing = _landing_dir(sf_dir)
            if os.path.isdir(sf_dir) and not os.path.isdir(landing):
                print(f"=== prep landing {rung} ===", file=sys.stderr)
                subprocess.run(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--prep",
                        sf_dir,
                        landing,
                    ],
                    check=True,
                    timeout=7200,
                )
        for backend in backends:
            cells = _run_plan(
                path,
                f"streaming_ingest_{backend}",
                plan,
                cell_filter,
                lambda m, d, b=backend: ["--stream-cell", m, d, b],
            )
            print(json.dumps({backend: _summary(cells)}))
        return

    cells = _run_plan(
        path, query, plan, cell_filter, lambda m, d: ["--cell", m, d, query]
    )
    print(json.dumps(_summary(cells)))


def _summary(cells: dict) -> dict:
    summary = {}
    base = cells.get("baseline_sf10_1exec")
    weak = cells.get("weak_scaled_sf30_3exec")
    ctrl = cells.get("control_sf30_1exec")
    base = None if base and "error" in base else base
    weak = None if weak and "error" in weak else weak
    ctrl = None if ctrl and "error" in ctrl else ctrl

    # wall metric: plain cells carry wall_sec; ledger cells carry
    # exact_sec/bloom_sec — summarize every timing key the cells share.
    timing_keys = [
        k
        for k in ("wall_sec", "exact_sec", "bloom_sec")
        if base and k in base
    ]
    for k in timing_keys:
        tag = "" if k == "wall_sec" else f"_{k.removesuffix('_sec')}"
        if base and weak and k in weak:
            # 1.0 = perfect weak scaling (3x data on 3x executors costs the
            # same wall-clock as 1x on 1x). local-cluster shuffles over
            # loopback TCP, so anything near 1 on a REAL cluster fabric is
            # the claim confirmed.
            summary[f"weak_scaling_wall_ratio{tag}"] = round(
                weak[k] / base[k], 2
            )
        if base and ctrl and k in ctrl:
            summary[f"strong_control_wall_exponent{tag}"] = round(
                math.log(ctrl[k] / base[k]) / math.log(3.0), 2
            )
    if base and weak:
        summary["spill_per_executor_ratio"] = (
            round(
                weak["memory_spill_gb_per_executor"]
                / base["memory_spill_gb_per_executor"],
                2,
            )
            if base.get("memory_spill_gb_per_executor")
            else None
        )
    if base and ctrl:
        summary["strong_control_spill_growth"] = (
            round(ctrl["memory_spill_gb"] / base["memory_spill_gb"], 1)
            if base.get("memory_spill_gb")
            else None
        )
    return summary


def _write(path: str, query: str, cells: dict, summary: dict) -> None:
    data = json.load(open(path)) if os.path.exists(path) else {}
    # MERGE the freshly computed summary over the stored one rather than
    # replacing it: partial reruns (--cells) must not drop extra summary
    # fields recorded earlier (e.g. the hand-annotated control_outcome).
    stored = dict(
        data.get("weak_scaling_probe", {}).get(query, {}).get("summary", {})
    )
    stored.update(summary)
    data.setdefault("weak_scaling_probe", {})[query] = {
        "note": (
            "REAL separate-JVM executors (local-cluster master): weak-scaling "
            "pair holds per-executor slice constant as data grows 3x; the "
            "control cell is the same 3x data denied the extra executors."
        ),
        "cells": cells,
        "summary": stored,
    }
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
