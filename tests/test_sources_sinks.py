"""Source connectors (S3 file replay, S4 roster) and sinks (K1-K6)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from quill_agent_dashboard_pbi_etl_spark import sinks
from quill_agent_dashboard_pbi_etl_spark.sources.readers import (
    load_roster_snapshot,
    replay_json_dir,
)


def test_token_bucket_cadence():
    """The push-sink rate limiter enforces the 120 POSTs/min contract
    in-repo (reference: SDK-side, README.md:69): one POST per 0.5 s after the
    burst token, idle time banks at most `burst` tokens."""
    t = [0.0]
    sleeps: list[float] = []

    def clock() -> float:
        return t[0]

    def sleep(s: float) -> None:
        sleeps.append(round(s, 9))
        t[0] += s

    b = sinks.TokenBucket(rate_per_minute=120, burst=1, clock=clock, sleep=sleep)
    b.acquire()  # burst token — immediate
    b.acquire()  # must wait one interval
    b.acquire()
    assert sleeps == [0.5, 0.5]
    t[0] += 5.0  # long idle banks only up to burst=1 token
    b.acquire()  # banked token — immediate
    b.acquire()  # next must wait a full interval again
    assert sleeps == [0.5, 0.5, 0.5]


def test_token_bucket_paces_a_posting_minute():
    """121 sequential POSTs at 120/min must span >= ~60 s of (fake) time."""
    t = [0.0]

    def clock() -> float:
        return t[0]

    def sleep(s: float) -> None:
        t[0] += s

    b = sinks.TokenBucket(rate_per_minute=120, burst=1, clock=clock, sleep=sleep)
    for _ in range(121):
        b.acquire()
    assert t[0] >= 59.9


def test_replay_json_dir_filters_sorts_limits(spark, tmp_path):
    """S3/P13 (tools/harness/run-aloware.ts:35-48,61-69): recursive listing,
    substring pattern filter, .json extension filter, lexicographic order,
    first-N-files limit."""
    (tmp_path / "sub").mkdir()
    files = {
        "a_aloware_1.json": {"id": 1},
        "b_other_2.json": {"id": 2},
        "sub/c_aloware_3.json": {"id": 3},
        "d_aloware_4.txt": {"id": 4},  # wrong extension → excluded
    }
    for name, payload in files.items():
        with open(tmp_path / name, "w") as f:
            f.write(json.dumps(payload))

    all_json = replay_json_dir(spark, str(tmp_path))
    assert all_json.count() == 3  # txt excluded, recursive included

    filtered = replay_json_dir(spark, str(tmp_path), pattern="aloware")
    assert filtered.count() == 2

    limited = replay_json_dir(spark, str(tmp_path), pattern="aloware", limit=1)
    rows = limited.collect()
    assert len(rows) == 1
    assert "a_aloware_1" in rows[0].file_name  # lexicographically first


def test_roster_snapshot_projection(spark, tmp_path):
    """S4 (dimagent.sync.service.ts:35-46): testResults[].{id,name,email} →
    DimAgent rows; null name/email → ''."""
    report = {"testResults": [
        {"id": 1, "name": "Ann", "email": "a@x.com"},
        {"id": 2, "name": None, "email": None},
    ]}
    path = tmp_path / "roster.json"
    path.write_text(json.dumps(report))
    rows = {r.AgentID: r for r in load_roster_snapshot(spark, str(path)).collect()}
    assert rows["1"].AgentName == "Ann"
    assert rows["2"].AgentName == "" and rows["2"].Email == ""
    assert all(r.ActiveFlag for r in rows.values())


def test_create_dataset_and_fact_roundtrip(spark, tmp_path):
    """K3 dataset DDL + K1 append + K2 overwrite."""
    paths = sinks.create_dataset(spark, str(tmp_path / "ds"))
    assert set(paths) == {"FactEvent", "DimAgent", "DimMetric", "DimDate", "DimShift"}
    fact = spark.createDataFrame(
        [("e1", "a1", "2024-01-15", "CALLS", "")],
        "EventID string, AgentID string, FactDateKey string, MetricID string, Notes string",
    )
    sinks.append_fact(fact, paths["FactEvent"] + "_data")
    back = spark.read.parquet(paths["FactEvent"] + "_data")
    assert back.count() == 1

    dim = spark.createDataFrame([("a1", "Ann", "", "", True)],
        "AgentID string, AgentName string, Email string, TimezoneIANA string, ActiveFlag boolean")
    sinks.overwrite_dim(dim, paths["DimAgent"])
    sinks.overwrite_dim(dim.limit(0), paths["DimAgent"])  # K2 clear
    assert spark.read.parquet(paths["DimAgent"]).count() == 0


def test_ledger_bootstrap_append_prune(spark, tmp_path):
    """K4/K5 + TTL prune: only the live entry still gates its key."""
    from quill_agent_dashboard_pbi_etl_spark.operators import dedup

    path = str(tmp_path / "ledger")
    sinks.ledger_bootstrap(spark, path)
    import datetime as dt

    entries = spark.createDataFrame(
        [("k1", dt.datetime(2024, 1, 1), 100), ("k2", dt.datetime(2024, 1, 2), 900)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    sinks.append_ledger(entries, path)
    ledger = sinks.read_ledger(spark, path)
    keys = ledger.select("pk")
    admitted = dedup.ledger_gate(keys, ledger, "pk", now_epoch=500)
    live = keys.subtract(admitted)
    assert {r.pk for r in live.collect()} == {"k2"}


def test_compact_ledger_rewrites_in_place(spark, tmp_path):
    """TTL compaction actually reclaims storage: expired rows are gone from
    the files at the SAME path, extra columns (the streaming sink's
    writer_id claim tags) survive verbatim, rerun is a no-op, and the
    ledger lock file is released."""
    import datetime as dt
    import os

    path = str(tmp_path / "ledger")
    rows = spark.createDataFrame(
        [
            ("k1", dt.datetime(2024, 1, 1), 100, "aaaabbbbcccc-b0"),
            ("k2", dt.datetime(2024, 1, 2), 900, "aaaabbbbcccc-b1"),
            ("k3", dt.datetime(2024, 1, 3), 901, None),
        ],
        "pk string, seenAt timestamp, expiresAt long, writer_id string",
    )
    rows.write.mode("overwrite").parquet(path)

    dropped = sinks.compact_ledger(spark, path, now_epoch=500)
    assert dropped == 1
    got = {r.pk: r.writer_id for r in spark.read.parquet(path).collect()}
    assert got == {"k2": "aaaabbbbcccc-b1", "k3": None}
    # idempotent; no scratch/lock debris left behind
    assert sinks.compact_ledger(spark, path, now_epoch=500) == 0
    assert not os.path.exists(path + ".reclaim-new")
    assert not os.path.exists(path + ".reclaim-old")
    assert not os.path.exists(path + ".lock")


def test_legacy_partitioned_ledger_is_refused_then_migrated_by_compaction(
    spark, tmp_path
):
    """A root holding expiryDay= directories (the layout an older release
    wrote) is never appended to: a flat file in it would be invisible to
    every reader. check_and_mark refuses it and names compact_ledger; one
    compact_ledger run rewrites it flat, drops the expired claim, and every
    live claim still gates its key."""
    import datetime as dt
    import os

    now = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    day = 86400
    path = str(tmp_path / "ledger")
    (
        spark.createDataFrame(
            [
                ("A:1", dt.datetime(2024, 1, 1), now - 2 * day, "old-b0"),
                ("A:2", dt.datetime(2024, 1, 2), now + 3 * day, "old-b1"),
                ("A:3", dt.datetime(2024, 1, 3), now + 9 * day, "old-b2"),
            ],
            "pk string, seenAt timestamp, expiresAt long, writer_id string",
        )
        .withColumn(
            "expiryDay",
            F.date_from_unix_date(F.floor(F.col("expiresAt") / day).cast("int")),
        )
        .write.partitionBy("expiryDay")
        .parquet(path)
    )
    open(os.path.join(path, "_LEDGER_LAYOUT_PARTITIONED"), "w").close()

    events = spark.createDataFrame(
        [(f"A:{i}", dt.datetime(2024, 1, 9)) for i in (1, 2, 3, 4)],
        "EventID string, EventTime timestamp",
    )
    with pytest.raises(ValueError, match="compact_ledger"):
        sinks.check_and_mark(events, path, "new-b0", now_epoch=now)
    assert not [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert not os.path.exists(path + ".lock")

    assert sinks.compact_ledger(spark, path, now_epoch=now) == 1
    assert not [d for d in os.listdir(path) if d.startswith("expiryDay=")]
    assert set(sinks.read_ledger(spark, path).columns) == {
        "pk", "seenAt", "expiresAt", "writer_id"
    }
    out = sinks.check_and_mark(events, path, "new-b0", now_epoch=now)
    assert sorted(r.EventID for r in out.collect()) == ["A:1", "A:4"]
    owners = {r.pk: r.writer_id for r in sinks.read_ledger(spark, path).collect()}
    assert owners == {
        "A:1": "new-b0", "A:2": "old-b1", "A:3": "old-b2", "A:4": "new-b0"
    }


def test_push_rows_rest_chunking(spark):
    """K1 REST push shape: ≤ max rows per POST, all rows delivered."""
    df = spark.createDataFrame([(i,) for i in range(25)], "id long").coalesce(2)
    from quill_agent_dashboard_pbi_etl_spark.sinks import push_rows_rest

    class Collector:
        def __init__(self):
            self.batches = []

        def __call__(self, rows):
            self.batches.append(len(rows))

    # foreachPartition runs on executors; in local mode the closure state
    # lives in the same process only for the driver-side check via accumulator
    acc = spark.sparkContext.accumulator(0)

    def post(rows):
        assert len(rows) <= 10
        acc.add(len(rows))

    push_rows_rest(df, post, max_rows_per_post=10)
    assert acc.value == 25


def test_ensure_min_partitions_sees_through_nominal_split_lie(spark, tmp_path):
    """A single parquet file reports up to defaultParallelism nominal scan
    partitions, but a row group goes whole to the split holding its midpoint
    — only the row-group count bounds effective parallelism. The guard must
    count row groups (driver footer read), not nominal splits: measured on
    the sf30 ladder rung, trusting nominal splits serialized the minhash
    signature stage to ~12/32 cores and masqueraded as super-linear scaling."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quill_agent_dashboard_pbi_etl_spark.sources.readers import (
        ensure_min_partitions,
    )

    path = str(tmp_path / "fat.parquet")
    pq.write_table(
        pa.table({"x": list(range(10_000))}), path, row_group_size=2_500
    )  # 1 file, 4 row groups
    df = spark.read.parquet(path)

    # fewer row groups than min_parts → repartition regardless of what the
    # nominal split count claims
    assert ensure_min_partitions(df, 8).rdd.getNumPartitions() == 8
    # row groups already ≥ min_parts → trusted as-is, no shuffle inserted
    assert ensure_min_partitions(df, 4) is df
    assert ensure_min_partitions(df, 2) is df


def test_ensure_min_partitions_many_files_and_memory_noop(spark, tmp_path):
    """≥ min_parts FILES (the real 100 TB layout) must short-circuit without
    any footer reads; in-memory DataFrames keep the partition-count guard."""
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import (
        ensure_min_partitions,
    )

    out = str(tmp_path / "many")
    spark.range(1000).repartition(6).write.parquet(out)
    many = spark.read.parquet(out)
    assert ensure_min_partitions(many, 4) is many

    mem = spark.range(100).repartition(5)
    assert ensure_min_partitions(mem, 4) is mem
    assert ensure_min_partitions(mem, 16).rdd.getNumPartitions() == 16


def test_load_table_refresh_sees_new_files(spark, tmp_path):
    """r15 staleness guard: the per-session analyzed-plan memo snapshots the
    file listing at first construction; a writer that re-reads through the
    public path must pass refresh=True and then MUST see the new files
    (without it, the memoized view-like snapshot is allowed to stay stale —
    that is its documented contract)."""
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    sf_dir = str(tmp_path)
    table_dir = tmp_path / "events.parquet"
    spark.range(5).selectExpr("id AS event_id").write.mode("overwrite").parquet(
        str(table_dir)
    )
    first = load_table(spark, sf_dir, "events")
    assert first.count() == 5
    # append more files under the same table path
    spark.range(7).selectExpr("id + 100 AS event_id").write.mode("append").parquet(
        str(table_dir)
    )
    refreshed = load_table(spark, sf_dir, "events", refresh=True)
    assert refreshed.count() == 12, "refresh=True must re-list the table files"
    # and the refreshed plan replaces the memo entry for later callers
    assert load_table(spark, sf_dir, "events").count() == 12
