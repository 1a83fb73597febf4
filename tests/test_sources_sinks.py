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
    ledger = sinks.read_ledger(spark, path, now_epoch=500)
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


def test_expiry_partitioned_ledger_layout_and_gate_parity(spark, tmp_path):
    """append_ledger(partition_by_expiry=True) lays out expiryDay=<D>/
    partitions; read_ledger returns the same logical rows as the flat
    layout (partition column dropped) and partition-prunes expired days
    when given now_epoch; the gate result is identical across layouts."""
    import datetime as dt
    import os

    from quill_agent_dashboard_pbi_etl_spark.operators.dedup import ledger_gate

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1), t0 - 2 * day),   # expired, old day
            ("b", dt.datetime(2024, 1, 2), t0 - 3600),      # expired TODAY
            ("c", dt.datetime(2024, 1, 3), t0 + 3600),      # live, today
            ("d", dt.datetime(2024, 1, 4), t0 + 5 * day),   # live, future day
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    sinks.append_ledger(entries, flat)
    sinks.append_ledger(entries, part, partition_by_expiry=True)
    assert any(d.startswith("expiryDay=") for d in os.listdir(part))

    got = {
        (r.pk, r.expiresAt)
        for r in sinks.read_ledger(spark, part).collect()
    }
    assert got == {(r.pk, r.expiresAt) for r in entries.collect()}
    assert "expiryDay" not in sinks.read_ledger(spark, part).columns

    events = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "dedup_key string"
    )
    survivors_flat = {
        r.dedup_key
        for r in ledger_gate(
            events, sinks.read_ledger(spark, flat), now_epoch=t0
        ).collect()
    }
    survivors_part = {
        r.dedup_key
        for r in ledger_gate(
            events, sinks.read_ledger(spark, part, now_epoch=t0), now_epoch=t0
        ).collect()
    }
    # expired a/b re-admit; live c/d blocked; e unseen
    assert survivors_flat == survivors_part == {"a", "b", "e"}


def test_read_ledger_prunes_expired_partitions_in_plan(spark, tmp_path):
    """The now_epoch predicate must land as a PARTITION filter on the scan
    (whole expired days never leave the manifest), not a post-scan row
    filter. Partition filters are fixed at analysis time, so the initial
    plan is the right object here."""
    import datetime as dt

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1), t0 - 2 * day),
            ("d", dt.datetime(2024, 1, 4), t0 + 5 * day),
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    path = str(tmp_path / "ledger")
    sinks.append_ledger(entries, path, partition_by_expiry=True)
    plan = (
        sinks.read_ledger(spark, path, now_epoch=t0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "expiryDay" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "2024-01-10" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_compact_ledger_partitioned_drops_whole_days(spark, tmp_path):
    """On the expiry-partitioned layout, compaction drops exactly the fully
    expired day directories (no rewrite, no swap debris), keeps the
    boundary day whole (row-level TTL still gates it), counts the dropped
    rows, and reruns as a no-op."""
    import datetime as dt
    import os

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1), t0 - 2 * day),   # day 2024-01-08
            ("a2", dt.datetime(2024, 1, 1), t0 - 2 * day),  # same dead day
            ("b", dt.datetime(2024, 1, 2), t0 - 3600),      # boundary day, expired
            ("c", dt.datetime(2024, 1, 3), t0 + 3600),      # boundary day, live
            ("d", dt.datetime(2024, 1, 4), t0 + 5 * day),   # future day
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    path = str(tmp_path / "ledger")
    sinks.append_ledger(entries, path, partition_by_expiry=True)

    dropped = sinks.compact_ledger(spark, path, now_epoch=t0)
    assert dropped == 2  # only the 2024-01-08 partition is fully past
    left = {r.pk for r in sinks.read_ledger(spark, path).collect()}
    assert left == {"b", "c", "d"}  # boundary day intact (b still gated out row-level)
    days = sorted(
        d for d in os.listdir(path) if d.startswith("expiryDay=")
    )
    assert days == ["expiryDay=2024-01-10", "expiryDay=2024-01-15"]
    # idempotent; no lock/swap debris
    assert sinks.compact_ledger(spark, path, now_epoch=t0) == 0
    assert not os.path.exists(path + ".lock")
    assert not os.path.exists(path + ".reclaim-new")
    # the NEXT day's run retires the then-complete boundary day
    assert sinks.compact_ledger(spark, path, now_epoch=t0 + day) == 2
    assert {r.pk for r in sinks.read_ledger(spark, path).collect()} == {"d"}


def _seed_accreted_ledger(spark, path, t0):
    """Partitioned ledger with per-append file accretion: 3 live days
    (d+1, d+2, d+3 — the max is the OPEN day) × 3 appends each, plus one
    fully expired day. Returns the expected live row set."""
    import datetime as dt

    day = 86400
    for i in range(3):  # three appends -> three files per day dir
        entries = spark.createDataFrame(
            [
                (f"a{i}", dt.datetime(2024, 1, 9), t0 + 1 * day + i),
                (f"b{i}", dt.datetime(2024, 1, 9), t0 + 2 * day + i),
                (f"c{i}", dt.datetime(2024, 1, 9), t0 + 3 * day + i),
            ],
            "pk string, seenAt timestamp, expiresAt long",
        )
        sinks.append_ledger(entries, path, partition_by_expiry=True)
    dead = spark.createDataFrame(
        [("x", dt.datetime(2024, 1, 1), t0 - 2 * day)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    sinks.append_ledger(dead, path, partition_by_expiry=True)
    return {f"{p}{i}" for p in "abc" for i in range(3)}


def test_binpack_closed_days_packs_and_preserves_rows(spark, tmp_path):
    """Directive r13-2: bin-packing rewrites each CLOSED live day (not the
    max/open day, not expired days) down to one file, preserves the exact
    row set and the partitioned layout, heals exact-duplicate crash
    debris, and is idempotent."""
    import datetime as dt
    import os
    import shutil

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    path = str(tmp_path / "ledger")
    live_pks = _seed_accreted_ledger(spark, path, t0)

    def files_of(d):
        full = os.path.join(path, d)
        return sorted(
            f for f in os.listdir(full) if f.endswith(".parquet")
        )

    days = sorted(d for d in os.listdir(path) if d.startswith("expiryDay="))
    assert len(days) == 4  # 1 expired + 3 live
    for d in days[1:]:
        assert len(files_of(d)) == 3

    # exact-duplicate crash debris in a closed day: a previous pack died
    # between the rename and the unlinks
    debris_day = days[1]
    src = os.path.join(path, debris_day, files_of(debris_day)[0])
    shutil.copy(src, os.path.join(path, debris_day, "packed-debris.parquet"))

    before = {
        tuple(r)
        for r in sinks.read_ledger(spark, path, now_epoch=t0)
        .filter(F.col("expiresAt") >= t0)
        .collect()
    }
    packed = sinks.binpack_ledger_closed_days(
        spark, path, now_epoch=t0, min_files=2
    )
    # the two CLOSED live days packed (debris counted); open + expired untouched
    assert packed == {days[1]: 4, days[2]: 3}
    assert len(files_of(days[1])) == 1
    assert len(files_of(days[2])) == 1
    assert len(files_of(days[3])) == 3  # open day keeps its files
    assert len(files_of(days[0])) >= 1  # expired day untouched

    after_df = sinks.read_ledger(spark, path, now_epoch=t0).filter(
        F.col("expiresAt") >= t0
    )
    after = {tuple(r) for r in after_df.collect()}
    assert after == before
    assert after_df.count() == len(before)  # debris duplicates healed
    assert {r.pk for r in after_df.collect()} == live_pks

    # idempotent: a second run finds nothing above the threshold
    assert sinks.binpack_ledger_closed_days(
        spark, path, now_epoch=t0, min_files=2
    ) == {}
    assert not os.path.exists(os.path.join(path, ".binpack-scratch"))
    assert not os.path.exists(path + ".lock")


def test_compact_ledger_binpack_optin(spark, tmp_path):
    """compact_ledger(binpack_min_files=N) drops expired days AND packs
    closed live days in one maintenance call; the default keeps the pure
    TTL contract (no live-day rewrites)."""
    import datetime as dt
    import os

    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    path = str(tmp_path / "ledger")
    live_pks = _seed_accreted_ledger(spark, path, t0)

    # default: expired day dropped, live days untouched
    assert sinks.compact_ledger(spark, path, now_epoch=t0) == 1
    days = sorted(d for d in os.listdir(path) if d.startswith("expiryDay="))
    assert len(days) == 3
    assert all(
        sum(
            1
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        )
        == 3
        for d in days
    )

    # opt-in: closed days packed
    assert sinks.compact_ledger(spark, path, now_epoch=t0, binpack_min_files=2) == 0
    counts = [
        sum(
            1
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        )
        for d in days
    ]
    assert counts == [1, 1, 3]
    assert {
        r.pk for r in sinks.read_ledger(spark, path, now_epoch=t0).collect()
    } == live_pks


def test_ledger_layout_survives_full_expiry_compaction(spark, tmp_path):
    """ADVICE r13 (layout amnesia): after compaction drops EVERY expiryDay=
    directory of a fully-expired partitioned ledger, the layout choice must
    stay durable — the next auto-detected append (partition_by_expiry=None,
    e.g. a sink started with the default) must re-establish the PARTITIONED
    layout, not silently flip the production ledger to flat."""
    import datetime as dt
    import os

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), t0 - 2 * day)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    path = str(tmp_path / "ledger")
    sinks.append_ledger(entries, path, partition_by_expiry=True)

    assert sinks.compact_ledger(spark, path, now_epoch=t0) == 1
    assert not any(d.startswith("expiryDay=") for d in os.listdir(path))
    # the emptied root still knows it is partitioned...
    assert sinks.ledger_layout(path) is True
    # ...so an auto-detect append stays partitioned
    fresh = spark.createDataFrame(
        [("b", dt.datetime(2024, 1, 11), t0 + 5 * day)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    sinks.append_ledger(fresh, path, partition_by_expiry=None)
    assert any(d.startswith("expiryDay=") for d in os.listdir(path))
    # and an explicit flat append against the emptied root fails loudly
    with pytest.raises(ValueError, match="already holds a"):
        sinks.append_ledger(fresh, path, partition_by_expiry=False)
    # read path unaffected by the marker file
    assert {r.pk for r in sinks.read_ledger(spark, path).collect()} == {"b"}


def test_ledger_layout_marker_survives_atomic_rewrite(spark, tmp_path):
    """The durable layout marker must ride through rewrite_ledger_atomic's
    two-rename swap (the marker lives in the dir being swapped out), even
    when the transform drops every row."""
    import datetime as dt
    import os

    from quill_agent_dashboard_pbi_etl_spark.operators.dedup import (
        rewrite_ledger_atomic,
    )

    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), t0 + 86400)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    path = str(tmp_path / "ledger")
    sinks.append_ledger(entries, path, partition_by_expiry=True)

    rewrite_ledger_atomic(
        spark,
        path,
        lambda df: df.filter("1=0"),
        schema="pk string, seenAt timestamp, expiresAt long",
    )
    assert not any(d.startswith("expiryDay=") for d in os.listdir(path))
    assert sinks.ledger_layout(path) is True
    # explicit reset is the one path that forgets the layout
    sinks.ledger_bootstrap(spark, path)
    assert sinks.ledger_layout(path) is False or not os.path.isfile(
        os.path.join(path, sinks.LEDGER_LAYOUT_MARKER)
    )


def test_ledger_expiry_day_is_utc_under_non_utc_session(spark, tmp_path):
    """Directive r12-4: the expiryDay derivation must be hard-UTC epoch
    arithmetic, immune to spark.sql.session.timeZone — otherwise a non-UTC
    session writing or reading the ledger shifts day boundaries against
    compact_ledger's hard-UTC cutoff. Pin: under America/New_York, the
    layout, the read-side pruning cutoff, and the compaction cutoff all
    agree with the UTC session's."""
    import datetime as dt

    day = 86400
    # 2024-01-10 02:00 UTC == 2024-01-09 21:00 in New York: a session-tz
    # derivation would bucket this expiry into the WRONG day (01-09).
    t_edge = int(dt.datetime(2024, 1, 10, 2, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [
            ("edge", dt.datetime(2024, 1, 1), t_edge),
            ("old", dt.datetime(2024, 1, 1), t_edge - 3 * day),
            ("new", dt.datetime(2024, 1, 1), t_edge + 3 * day),
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    path = str(tmp_path / "ledger")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        sinks.append_ledger(entries, path, partition_by_expiry=True)
        import os

        days = sorted(
            d for d in os.listdir(path) if d.startswith("expiryDay=")
        )
        assert days == [
            "expiryDay=2024-01-07",
            "expiryDay=2024-01-10",  # NOT 2024-01-09 (the NY-local day)
            "expiryDay=2024-01-13",
        ]
        # read-side pruning at now = t_edge keeps the UTC boundary day
        live = {
            r.pk
            for r in sinks.read_ledger(spark, path, now_epoch=t_edge).collect()
        }
        assert live == {"edge", "new"}
        # compaction cutoff agrees: drops exactly the 01-07 dir
        assert sinks.compact_ledger(spark, path, now_epoch=t_edge) == 1
        left = {r.pk for r in sinks.read_ledger(spark, path).collect()}
        assert left == {"edge", "new"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_append_ledger_auto_matches_existing_layout(spark, tmp_path):
    """append_ledger's default (partition_by_expiry=None) auto-detects the
    existing layout — a default append into a partitioned root must land
    partitioned (a flat file there breaks partition discovery for every
    later reader), and a default append to a fresh/flat path stays flat."""
    import datetime as dt
    import os

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    first = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), t0 + day)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    more = spark.createDataFrame(
        [("b", dt.datetime(2024, 1, 2), t0 + 2 * day)],
        "pk string, seenAt timestamp, expiresAt long",
    )

    part = str(tmp_path / "part")
    sinks.append_ledger(first, part, partition_by_expiry=True)
    sinks.append_ledger(more, part)  # default: must match the layout
    assert not [
        f for f in os.listdir(part) if f.endswith(".parquet")
    ], "default append dropped a flat file into a partitioned root"
    got = {r.pk for r in sinks.read_ledger(spark, part).collect()}
    assert got == {"a", "b"}

    flat = str(tmp_path / "flat")
    sinks.append_ledger(first, flat)  # fresh path: default stays flat
    sinks.append_ledger(more, flat)
    assert not [
        d for d in os.listdir(flat) if d.startswith("expiryDay=")
    ]
    assert {r.pk for r in sinks.read_ledger(spark, flat).collect()} == {"a", "b"}

    # An EXPLICIT flag contradicting the existing layout must raise, both
    # directions — Spark reads a mixed root by silently dropping the flat
    # rows, which would hide prior claims from every gate.
    import pytest

    with pytest.raises(ValueError, match="already holds a flat ledger"):
        sinks.append_ledger(more, flat, partition_by_expiry=True)
    with pytest.raises(ValueError, match="already holds a expiry-partitioned"):
        sinks.append_ledger(more, part, partition_by_expiry=False)
    # nothing was written by the refused appends
    assert {r.pk for r in sinks.read_ledger(spark, flat).collect()} == {"a", "b"}
    assert {r.pk for r in sinks.read_ledger(spark, part).collect()} == {"a", "b"}


def test_compact_ledger_partitioned_counts_only_verified_deletes(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: (a) a failed rmtree must not contribute its rows to the
    returned dropped count (they'd be double-counted next run); (b) a
    crash-leftover EMPTY expiryDay= dir must not break the next run's read
    (explicit schema, no inference over empty dirs)."""
    import datetime as dt
    import os
    import shutil

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1), t0 - 3 * day),
            ("a2", dt.datetime(2024, 1, 1), t0 - 3 * day),
            ("b", dt.datetime(2024, 1, 2), t0 - 2 * day),
            ("c", dt.datetime(2024, 1, 3), t0 + 3 * day),
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    path = str(tmp_path / "ledger")
    sinks.append_ledger(entries, path, partition_by_expiry=True)
    blocked = os.path.join(path, "expiryDay=2024-01-07")
    assert os.path.isdir(blocked)

    real_rmtree = shutil.rmtree

    def failing_rmtree(p, *a, **k):
        if str(p) == blocked:
            raise OSError("injected delete failure")
        return real_rmtree(p, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", failing_rmtree)
    # 2024-01-07 (a, a2) delete fails -> only 2024-01-08 (b) counts
    assert sinks.compact_ledger(spark, path, now_epoch=t0) == 1
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    # retry drops the previously-failed dir, counting it exactly once
    assert sinks.compact_ledger(spark, path, now_epoch=t0) == 2

    # crash-leftover EMPTY partition dir: next run must not choke on it
    os.makedirs(os.path.join(path, "expiryDay=2024-01-05"))
    assert sinks.compact_ledger(spark, path, now_epoch=t0) == 0
    assert {r.pk for r in sinks.read_ledger(spark, path).collect()} == {"c"}


def test_append_ledger_partitioned_writes_one_file_per_day(spark, tmp_path):
    """Small-files hygiene: one append = one parquet file per expiry day,
    however many shuffle partitions the entries arrive in. Without the
    day-key repartition each append fans out into (shuffle partitions ×
    days) files and every later gate scan pays per-file open cost for all
    of them — measured 2.9× slower on the 20M-key streaming drain
    (SCALE_LADDER.json streaming_ledger_layout, pre-fix cell)."""
    import datetime as dt
    import os

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.range(2000).select(
        F.concat(F.lit("pk-"), F.col("id")).alias("pk"),
        F.lit(dt.datetime(2024, 1, 1)).alias("seenAt"),
        (F.lit(t0) + (F.col("id") % 3) * day).alias("expiresAt"),
    ).repartition(16)  # deliberately many input partitions
    path = str(tmp_path / "ledger")
    sinks.append_ledger(entries, path, partition_by_expiry=True)
    day_dirs = [d for d in os.listdir(path) if d.startswith("expiryDay=")]
    assert len(day_dirs) == 3
    for d in day_dirs:
        files = [
            f
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)
    # a second append adds exactly one more file per touched day
    sinks.append_ledger(entries, path)  # auto-detects the layout
    for d in day_dirs:
        files = [
            f
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 2, (d, files)


def test_read_ledger_tolerates_concurrent_partition_drop(spark, tmp_path):
    """ADVICE r12: a gate scan holds no lock, so compact_ledger's partition
    drops can delete files between this reader's listing and its tasks.
    The partitioned read sets ignoreMissingFiles — semantically exact,
    because compaction only removes fully-expired days the row-level TTL
    filter would drop anyway."""
    import datetime as dt
    import shutil

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1), t0 - 3 * day),
            ("c", dt.datetime(2024, 1, 3), t0 + 3 * day),
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    path = str(tmp_path / "ledger")
    sinks.append_ledger(entries, path, partition_by_expiry=True)

    led = sinks.read_ledger(spark, path, now_epoch=t0)  # listing happens here
    # concurrent compaction drops the expired day before the scan runs
    shutil.rmtree(str(tmp_path / "ledger" / "expiryDay=2024-01-07"))
    assert {r.pk for r in led.collect()} == {"c"}
    # an unpruned read (no now_epoch) survives too: the vanished rows are
    # exactly the ones every gate's TTL filter would discard
    led_all = sinks.read_ledger(spark, path)
    assert {r.pk for r in led_all.collect()} == {"c"}


def test_rewrite_ledger_atomic_preserves_partitioned_layout(spark, tmp_path):
    """Directive r12-3: the locked rewrite on an expiry-partitioned ledger
    must keep the layout (expiryDay= dirs re-derived from expiresAt), so
    orphan-release reclaims never silently flatten the production layout;
    transforms stay layout-agnostic (they see no expiryDay column)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark.operators.dedup import (
        rewrite_ledger_atomic,
    )

    day = 86400
    t0 = int(dt.datetime(2024, 1, 10, 12, tzinfo=dt.timezone.utc).timestamp())
    entries = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1), t0 - 3 * day),
            ("c", dt.datetime(2024, 1, 3), t0 + 3 * day),
            ("d", dt.datetime(2024, 1, 4), t0 + 5 * day),
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    path = str(tmp_path / "ledger")
    sinks.append_ledger(entries, path, partition_by_expiry=True)
    before = sorted(d for d in os.listdir(path) if d.startswith("expiryDay="))

    seen_cols = {}

    def drop_a(df):
        seen_cols["cols"] = df.columns
        return df.filter(F.col("pk") != "a")

    rewrite_ledger_atomic(spark, path, drop_a)
    assert "expiryDay" not in seen_cols["cols"]  # transform is layout-blind
    after = sorted(d for d in os.listdir(path) if d.startswith("expiryDay="))
    assert after == [d for d in before if d != "expiryDay=2024-01-07"]
    got = {r.pk for r in sinks.read_ledger(spark, path).collect()}
    assert got == {"c", "d"}
    # pruning still plans as a partition filter on the rewritten ledger
    plan = (
        sinks.read_ledger(spark, path, now_epoch=t0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


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
