"""Measure streaming-ingest throughput: envelopes → normalize → watermarked
dedup → partitioned parquet, end to end through the real §2.7 graph.

The batch bench (bench.py) times the ingest graph under spark.read; this
tool times the SAME graph compiled under readStream with
``dropDuplicatesWithinWatermark`` state and the foreachBatch fact sink —
the number that tells you whether the streaming path can keep up with a
webhook firehose, and what the per-micro-batch overhead is.

Per rung:
1. (untimed prep) re-encode the rung's events table into raw webhook
   envelope JSONL — the exact wire shape the reference's HTTP/Lambda
   sources receive (aloware body JSON inside an envelope), split into
   ``n_files`` landing files;
2. (timed) drain the landing dir with availableNow through
   ``streaming_fact_pipeline`` → ``start_fact_sink``; report events/s over
   the wall clock and the micro-batch count (maxFilesPerTrigger=64 → the
   drain runs ceil(n_files/64) batches, so n_files > 64 also measures
   cross-batch dedup-state carry).

Results merge into SCALE_LADDER.json under "streaming_ingest"; with
``--rocksdb`` the dedup state runs on the RocksDBStateStoreProvider
(the production backend SCALE.md prescribes for TTL-horizon key volumes)
and results land under "streaming_ingest_rocksdb" instead.

Usage: python tools/bench_streaming.py [--rocksdb] [ladder_root] [rung ...]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from quill_agent_dashboard_pbi_etl_spark.functions.adapter import (
    normalize_webhooks,
)
from quill_agent_dashboard_pbi_etl_spark.session import get_spark
from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table
from quill_agent_dashboard_pbi_etl_spark.sources.webhook_mapping import (
    events_as_webhooks,
)
from quill_agent_dashboard_pbi_etl_spark.streaming.pipeline import (
    read_envelope_stream,
    start_fact_sink,
    streaming_fact_pipeline,
)

RUNGS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": None,  # filled from ladder_root
    "sf10": None,
    "sf30": None,
    "sf100": None,
}


def write_landing(spark, sf_dir: str, landing: str, n_files: int, events=None) -> int:
    """Re-encode the events table as envelope JSONL landing files; returns
    the event count. The aloware body JSON is rebuilt from the same
    webhook-shape mapping the batch oracle uses, so the streamed pipeline
    normalizes byte-identical facts. ``events`` (optional) substitutes a
    pre-filtered events DataFrame for the rung's full table, so a caller can
    vary per-batch volume independently of the rung."""
    wh = events_as_webhooks(
        events if events is not None else load_table(spark, sf_dir, "events")
    )
    body = F.to_json(
        F.struct(
            F.col("event_name").alias("event"),
            F.struct(
                F.col("ext_id").alias("id"),
                F.col("uuid_v4"),
                F.col("direction"),
                F.col("type_code").alias("type"),
                F.col("created_at_raw").alias("created_at"),
                F.col("owner_id"),
                F.col("user_id"),
                F.struct(F.col("tz").alias("timezone")).alias("contact"),
            ).alias("body"),
        )
    )
    env = wh.select(
        "source",
        body.alias("body"),
        F.date_format("receivedAt", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias(
            "receivedAt"
        ),
    )
    n = env.count()
    # Files must land in TIME ORDER (range-partitioned on arrival time, and
    # part-file numbering = range order = the file source's processing
    # order): this is what a real webhook replay looks like. A random file
    # split replays a month of history shuffled across micro-batches, and
    # after the first batch the 14-day dedup watermark correctly classifies
    # ~a quarter of the remaining events as late and DROPS them — measured
    # 36,887 facts instead of 50,273 at sf0.1 before this fix. That is the
    # operator working as specified (late data beyond the dedup horizon is
    # discarded), but it makes the throughput number measure a different
    # workload than the batch graph; main() asserts equivalence instead.
    env.repartitionByRange(n_files, "receivedAt").write.mode(
        "overwrite"
    ).json(landing)
    return n


def run_ledger_mode(
    ladder_root: str, wanted: list[str], single_batch: bool = False
) -> None:
    """`--ledger`: time the EXTERNAL-parquet-ledger sink
    (start_ledger_gated_fact_sink) draining each rung against a pre-seeded
    ledger through the exact anti-join gate — the streaming twin of
    bench_ledger_gates.py. The ledger is seeded with every event before
    2024-01-10 (the batch queries' synthetic prior run, live at the
    NOW_ANCHOR clock), so each micro-batch gates against a realistic
    live-key population instead of an empty table. Streamed survivors must
    equal the batch ledger_gate survivor count (same anchor) — the
    equivalence assert that keeps the throughput number honest.

    ``single_batch=True`` writes 32 landing files (< maxFilesPerTrigger=64)
    so the whole rung drains as ONE micro-batch, separating per-batch fixed
    costs from per-event costs. Results land under "<rung>_single_batch".

    Results merge into SCALE_LADDER.json["streaming_ledger_gate"]."""
    from quill_agent_dashboard_pbi_etl_spark.operators import dedup
    from quill_agent_dashboard_pbi_etl_spark.plans.registry import (
        NOW_EPOCH,
        _synthetic_ledger,
        normalized_fact,
    )
    from quill_agent_dashboard_pbi_etl_spark.streaming.pipeline import (
        envelopes_to_webhook_shape,
        start_ledger_gated_fact_sink,
    )

    spark = get_spark(app_name="bench-streaming-ledger")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for rung in wanted:
        sf_dir = RUNGS.get(rung) or os.path.join(ladder_root, rung)
        if not os.path.isdir(sf_dir):
            continue
        work = tempfile.mkdtemp(prefix=f"stream_ledger_{rung.replace('.', '_')}_")
        landing = os.path.join(work, "landing")
        try:
            n_files = 32 if single_batch else 256
            n_events = write_landing(spark, sf_dir, landing, n_files)

            # Seed ledger + batch-side expected survivor count.
            fact_b = normalized_fact(spark, sf_dir)
            seed = _synthetic_ledger(fact_b, "EventID").withColumn(
                "writer_id", F.lit("seed")
            )
            seed_path = os.path.join(work, "ledger_seed")
            seed.write.mode("overwrite").parquet(seed_path)
            expected = dedup.ledger_gate(
                fact_b.dropDuplicates(["EventID"]).withColumnRenamed(
                    "EventID", "dedup_key"
                ),
                spark.read.parquet(seed_path),
                key_col="dedup_key",
                now_epoch=NOW_EPOCH,
            ).count()

            cell: dict = {"events_in": n_events, "expected_survivors": expected}
            ledger_path = os.path.join(work, "ledger")
            sink = os.path.join(work, "out")
            spark.read.parquet(seed_path).write.mode("overwrite").parquet(
                ledger_path
            )
            t0 = time.perf_counter()
            stream = envelopes_to_webhook_shape(read_envelope_stream(spark, landing))
            q = start_ledger_gated_fact_sink(
                normalize_webhooks(stream),
                ledger_path,
                sink,
                os.path.join(work, "ckpt"),
                available_now=True,
                now_epoch=NOW_EPOCH,
            )
            q.awaitTermination(3600)
            wall = time.perf_counter() - t0
            written = spark.read.parquet(sink).count()
            assert written == expected, (rung, written, expected)
            cell["exact"] = {
                "wall_sec": round(wall, 3),
                "events_per_sec": int(n_events / wall),
            }
            cell["micro_batches"] = math.ceil(n_files / 64)
            key = f"{rung}_single_batch" if single_batch else rung
            out[key] = cell
            print(f"{key}: {cell}")
        finally:
            shutil.rmtree(work, ignore_errors=True)

    path = os.path.join(ROOT, "SCALE_LADDER.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    data.setdefault("streaming_ledger_gate", {}).update(out)
    data["streaming_ledger_gate"]["note"] = (
        "External-parquet-ledger streaming sink drained against a seeded "
        "prior-run ledger (events before 2024-01-10 live at NOW_ANCHOR), "
        "exact anti-join per micro-batch; survivors asserted equal to the "
        "batch ledger_gate count."
    )
    json.dump(data, open(path, "w"), indent=1)
    print(json.dumps(out, indent=1))
    spark.stop()


def main() -> None:
    argv = sys.argv[1:]
    rocksdb = "--rocksdb" in argv
    if rocksdb:
        argv.remove("--rocksdb")
    if "--ledger" in argv:
        argv.remove("--ledger")
        single_batch = "--single-batch" in argv
        if single_batch:
            argv.remove("--single-batch")
        ladder_root = argv[0] if argv else os.path.join(ROOT, "scale_ladder")
        run_ledger_mode(
            ladder_root, argv[1:] or list(RUNGS), single_batch=single_batch
        )
        return
    ladder_root = argv[0] if argv else os.path.join(ROOT, "scale_ladder")
    wanted = argv[1:] or list(RUNGS)
    spark = get_spark(app_name="bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    if rocksdb:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )

    out: dict[str, dict[str, float | int]] = {}
    for rung in wanted:
        sf_dir = RUNGS.get(rung) or os.path.join(ladder_root, rung)
        if not os.path.isdir(sf_dir):
            continue
        work = tempfile.mkdtemp(prefix=f"stream_bench_{rung.replace('.', '_')}_")
        landing = os.path.join(work, "landing")
        sink = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")
        try:
            n_files = 256  # 4 micro-batches at maxFilesPerTrigger=64
            n_events = write_landing(spark, sf_dir, landing, n_files)

            t0 = time.perf_counter()
            stream = streaming_fact_pipeline(read_envelope_stream(spark, landing))
            q = start_fact_sink(stream, sink, ckpt, available_now=True)
            q.awaitTermination(1800)
            wall = time.perf_counter() - t0

            written = spark.read.parquet(sink).count()
            # Workload-equivalence check: the streamed drain must produce
            # exactly what the batch graph produces on the same events —
            # otherwise the throughput number describes a different job.
            batch_facts = (
                normalize_webhooks(
                    events_as_webhooks(load_table(spark, sf_dir, "events"))
                )
                .dropDuplicates(["EventID"])
                .count()
            )
            assert written == batch_facts, (rung, written, batch_facts)
            out[rung] = {
                "events_in": n_events,
                "facts_out": written,
                "wall_sec": round(wall, 3),
                "events_per_sec": int(n_events / wall),
                "micro_batches": math.ceil(n_files / 64),
            }
            print(f"{rung}: {out[rung]}")
        finally:
            shutil.rmtree(work, ignore_errors=True)

    path = os.path.join(ROOT, "SCALE_LADDER.json")
    section = "streaming_ingest_rocksdb" if rocksdb else "streaming_ingest"
    data = json.load(open(path)) if os.path.exists(path) else {}
    data.setdefault(section, {}).update(out)
    json.dump(data, open(path, "w"), indent=1)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
