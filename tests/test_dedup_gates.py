"""Dedup operators (D1-D3) and the roster gate (D4), incl. the reference's
fail-open contract and TTL semantics."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from quill_agent_dashboard_pbi_etl_spark import sinks
from quill_agent_dashboard_pbi_etl_spark.operators import dedup, gates


def test_keep_first_preserves_first_in_order(spark):
    df = spark.createDataFrame(
        [
            ("k1", 2, "second"),
            ("k1", 1, "first"),
            ("k2", 5, "only"),
        ],
        "key string, seq long, payload string",
    )
    out = dedup.keep_first(df, ["key"], [F.col("seq")]).collect()
    got = {r.key: r.payload for r in out}
    assert got == {"k1": "first", "k2": "only"}


def test_dedup_key_format(spark):
    df = spark.createDataFrame([("ALOWARE", "42")], "src string, eid string")
    r = df.select(dedup.dedup_key(F.col("src"), F.col("eid")).alias("k")).collect()[0]
    assert r.k == "ALOWARE:42"


def test_ledger_gate_drops_seen_keeps_expired(spark):
    now = 1_700_000_000
    events = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "dedup_key string"
    )
    ledger = spark.createDataFrame(
        [
            ("a", dt.datetime(2023, 1, 1), now + 1000),  # live → blocks
            ("b", dt.datetime(2023, 1, 1), now - 1),     # expired → passes
        ],
        "pk string, seenAt timestamp, expiresAt long",
    )
    out = {r.dedup_key for r in dedup.ledger_gate(events, ledger, now_epoch=now).collect()}
    assert out == {"b", "c"}


def test_check_and_mark_concurrent_writers(spark, tmp_path):
    """Two pipeline runs racing on OVERLAPPING keys must never both mark the
    same pk — the parquet analogue of DynamoDB's conditional write
    (ledger.repo.ts:16-27), serialized by the O_EXCL ledger lock."""
    import threading

    ledger_path = str(tmp_path / "ledger")
    mk = lambda keys: spark.createDataFrame(  # noqa: E731
        [(k, dt.datetime(2024, 1, 15, 12)) for k in keys], "EventID string, EventTime timestamp"
    )
    batches = [mk(["A:1", "A:2", "A:3"]), mk(["A:2", "A:3", "A:4"])]
    survivors: dict[int, list[str]] = {}

    def run(i: int) -> None:
        out = sinks.check_and_mark(
            batches[i], ledger_path, f"w{i + 1}", now_epoch=1705320000
        )
        survivors[i] = [r.EventID for r in out.collect()]

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    ledger = spark.read.parquet(ledger_path)
    pks = [r.pk for r in ledger.collect()]
    assert sorted(pks) == ["A:1", "A:2", "A:3", "A:4"]  # no duplicate pk
    # overlapping keys went to exactly one batch's survivors
    all_surv = survivors[0] + survivors[1]
    assert sorted(all_surv) == ["A:1", "A:2", "A:3", "A:4"]


def test_check_and_mark_calls_wrappable_module_attributes(spark, tmp_path, monkeypatch):
    """check_and_mark reaches read_ledger, append_ledger, gate_anti_join and
    pin through their module attributes at call time, so a wrapper
    installed on any of them (perfbench's per-layer timers) sees the call."""
    from quill_agent_dashboard_pbi_etl_spark.operators import materialize

    ledger_path = str(tmp_path / "ledger")
    sinks.append_ledger(
        spark.createDataFrame(
            [("E:0", dt.datetime(2024, 1, 15, 12), 1705320000 + 86400, "w0")],
            "pk string, seenAt timestamp, expiresAt long, writer_id string",
        ),
        ledger_path,
    )
    calls: dict[str, int] = {}

    def count(module, name):
        fn = getattr(module, name)

        def wrapped(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapped)

    count(sinks, "read_ledger")
    count(sinks, "append_ledger")
    count(dedup, "gate_anti_join")
    count(materialize, "pin")
    events = spark.createDataFrame(
        [("E:1", dt.datetime(2024, 1, 15, 12))], "EventID string, EventTime timestamp"
    )
    out = sinks.check_and_mark(events, ledger_path, "w1", now_epoch=1705320000)
    assert [r.EventID for r in out.collect()] == ["E:1"]
    assert set(calls) == {"read_ledger", "append_ledger", "gate_anti_join", "pin"}
    assert all(n >= 1 for n in calls.values())


def test_ledger_lock_released_on_error(spark, tmp_path):
    """A failed cycle must not leave the ledger permanently locked."""
    import os

    from quill_agent_dashboard_pbi_etl_spark.operators.dedup import LedgerLock

    path = str(tmp_path / "ledger")
    try:
        with LedgerLock(path):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not os.path.exists(path + ".lock")
    with LedgerLock(path, timeout_sec=1):  # reacquirable immediately
        pass


def test_roster_gate_filters_and_fail_modes(spark):
    events = spark.createDataFrame([("1",), ("2",), ("9",)], "AgentID string")
    roster = spark.createDataFrame([("1",), ("2",)], "AgentID string")
    assert {r.AgentID for r in gates.roster_gate(events, roster).collect()} == {"1", "2"}
    # fetch failure → fail-open passes all (orchestrator.ts:59-61)
    assert gates.roster_gate(events, None, fail_open=True).count() == 3
    assert gates.roster_gate(events, None, fail_open=False).count() == 0


def test_exact_dedup_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = dedup.exact_dedup(docs).collect()
    kept = {r.doc_id for r in out}
    assert kept == {1, 3}  # 2 is a normalized dup of 1


def test_minhash_finds_identical_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely unrelated text about spark query planning and shuffles"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=2).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_ngram_jaccard_exact_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),   # shingles: abc bcd cde
            (2, "a b c d x"),   # shingles: abc bcd cdx → inter=2, union=4 → 0.5
            (3, "z z z z z"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert out == {(1, 2): 0.5}


def test_simhash_identical_docs_distance_zero(spark):
    docs = spark.createDataFrame(
        [(1, "spark engine test text"), (2, "spark engine test text"), (3, "zebra xylophone quartz")],
        "doc_id long, text string",
    )
    fps = dedup.simhash_df(docs)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_near_pairs(fps, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0


def test_bloom_no_false_negatives_and_sane_fpp(spark):
    """Bloom contract: every inserted key is flagged maybe (NO false
    negatives — this is what makes ledger_gate_bloom exact), and the false-
    positive rate on disjoint keys stays near the design point (64 Kbit / 7
    hashes / 1k keys → well under 5%)."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(1000)], "pk string")
    nbits = 1 << 16
    words = dedup.bloom_words(keys, "pk", num_bits=nbits)
    flagged = dedup.bloom_maybe_flag_bucketed(keys, words, nbits, "pk")
    assert flagged.filter(~F.col("__bloom_maybe")).count() == 0

    other = spark.createDataFrame([(f"X:{i}",) for i in range(2000)], "pk string")
    fp = dedup.bloom_maybe_flag_bucketed(other, words, nbits, "pk").filter(
        F.col("__bloom_maybe")
    ).count()
    assert fp / 2000 < 0.05


def test_bloom_non_word_multiple_bits(spark):
    """num_bits is rounded up to a 64-bit word multiple (a raw 100_000 —
    what the sizing formula actually yields — used to IndexError), and the
    probe side applies the same rounding so build and test always agree."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(500)], "pk string")
    words = dedup.bloom_words(keys, "pk", num_bits=100_000)
    assert words.agg(F.max("w")).first()[0] < (100_000 + 63) // 64
    flagged = dedup.bloom_maybe_flag_bucketed(keys, words, 100_000, "pk")
    assert flagged.filter(~F.col("__bloom_maybe")).count() == 0


def test_ledger_gate_bloom_equals_exact_gate(spark):
    """The Bloom pre-gate must be a pure scan-reduction: its survivors are
    row-identical to the exact anti-join gate, including expired-entry
    readmission."""
    events = spark.createDataFrame(
        [(f"E:{i}", dt.datetime(2024, 1, 15, 12)) for i in range(200)],
        "dedup_key string, ts timestamp",
    )
    now = 1705320000
    ledger = spark.createDataFrame(
        # E:0..49 live, E:50..59 expired (must NOT block)
        [(f"E:{i}", dt.datetime(2024, 1, 10), now + 1000) for i in range(50)]
        + [(f"E:{i}", dt.datetime(2023, 12, 1), now - 1000) for i in range(50, 60)],
        "pk string, seenAt timestamp, expiresAt long",
    )
    exact = {
        r.dedup_key
        for r in dedup.ledger_gate(events, ledger, now_epoch=now).collect()
    }
    bloomed = {
        r.dedup_key
        for r in dedup.ledger_gate_bloom(events, ledger, now_epoch=now).collect()
    }
    assert bloomed == exact
    assert len(exact) == 150  # 200 − 50 live


def test_bloom_bucketed_probe_stays_map_side(spark):
    """The probed side must not shuffle: every word-table probe is a
    BroadcastHashJoin (the word table carries an explicit broadcast hint,
    so this holds regardless of its post-shuffle size estimate)."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(100)], "pk string")
    words = dedup.bloom_words(keys, "pk", num_bits=1 << 12)
    probe = spark.createDataFrame([(f"K:{i}",) for i in range(50)], "pk string")
    out = dedup.bloom_maybe_flag_bucketed(
        probe, words, 1 << 12, "pk", num_hashes=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_bucketed_probe_single_broadcast_materialization(spark):
    """The k probe joins must materialize the word-table broadcast ONCE —
    the other k−1 joins read it through ReusedExchange (AQE exchange reuse
    on the canonically-equal broadcast subplans). Broadcast traffic is
    therefore 1× the word table regardless of num_hashes; executed-plan
    evidence, not an assumption. Also: exactly one shuffle stage total (the
    word-table bit_or aggregation) — the probed events never shuffle."""
    import re

    keys = spark.createDataFrame([(f"K:{i}",) for i in range(500)], "pk string")
    nbits = 1 << 14
    words = dedup.bloom_words(keys, "pk", num_bits=nbits)
    probe = spark.createDataFrame([(f"K:{i}",) for i in range(1000)], "pk string")
    k = 7
    out = dedup.bloom_maybe_flag_bucketed(probe, words, nbits, "pk", num_hashes=k)
    out.collect()  # AQE: reuse is decided at runtime; audit the FINAL plan
    # VERSION-SENSITIVITY NOTE (tools/plan_audit.py lesson): under AQE a
    # DataFrame's own queryExecution().executedPlan() is a DERIVED execution
    # — .collect() runs its own QueryExecution. This works here because the
    # collect-first ordering populates the AQE final plan on this exact
    # QueryExecution and the "== Initial Plan ==" split drops the pre-reuse
    # text, and it passes on Spark 4.1 — but the toString layout is not a
    # stable API across minor versions. If this assertion ever breaks on a
    # Spark upgrade, port it to the UI REST SQL endpoint's final executed
    # plan (the approach tools/plan_audit.py and tools/capture_plans.py
    # already use), which reports the plan that actually ran.
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]  # drop the pre-reuse initial plan
    )
    reused_broadcasts = len(
        re.findall(r"ReusedExchange \[[^\]]*\], BroadcastExchange", plan)
    )
    real_broadcasts = len(
        [
            ln
            for ln in plan.splitlines()
            if "BroadcastExchange" in ln and "ReusedExchange" not in ln
        ]
    )
    assert real_broadcasts == 1, plan
    assert reused_broadcasts == k - 1, plan
    shuffle_stages = set(re.findall(r"ShuffleQueryStage (\d+)", plan))
    assert len(shuffle_stages) == 1, plan


def test_bloom_bucketed_probe_preserves_caller_w_bits_columns(spark):
    """Regression (r9 ADVICE): the word-table probe's scratch columns were
    briefly bare `w`/`bits`, so a caller df with its own `w` column lost it
    silently and a caller `bits` column failed analysis. The probe must
    treat those as ordinary user columns: values intact, flags unchanged."""
    keys = spark.createDataFrame([(f"K:{i}",) for i in range(100)], "pk string")
    nbits = 1 << 13
    words = dedup.bloom_words(keys, "pk", num_bits=nbits)
    probe = spark.createDataFrame(
        [(f"K:{i}", i, i * 10) for i in range(50)]
        + [(f"Z:{i}", -i, -i * 10) for i in range(50)],
        "pk string, w int, bits long",
    )
    out = dedup.bloom_maybe_flag_bucketed(probe, words, nbits, "pk").collect()
    assert len(out) == 100
    for r in out:
        # caller columns survive with their values
        if r.pk.startswith("K:"):
            i = int(r.pk[2:])
            assert (r.w, r.bits) == (i, i * 10)
            assert r["__bloom_maybe"] is True  # member keys always flag
        else:
            i = int(r.pk[2:])
            assert (r.w, r.bits) == (-i, -i * 10)


def test_ledger_crash_between_gate_and_append(spark, tmp_path):
    """Crash injection: writer 1 dies holding the lock BEFORE appending its
    keys (simulated by an acquired-never-released lock). Writer 2 must break
    the stale lock after stale_sec and complete a consistent cycle."""
    import os
    import time as _time

    from quill_agent_dashboard_pbi_etl_spark.operators.dedup import LedgerLock

    ledger_path = str(tmp_path / "ledger")
    # Writer 1 "dies": lock file exists, no ledger rows were appended.
    dead = LedgerLock(ledger_path)
    dead.__enter__()
    assert os.path.exists(ledger_path + ".lock")
    # Age the lock file past writer 2's staleness threshold.
    old = _time.time() - 10
    os.utime(ledger_path + ".lock", (old, old))

    events = spark.createDataFrame(
        [("C:1", dt.datetime(2024, 1, 15, 12)), ("C:2", dt.datetime(2024, 1, 15, 12))],
        "EventID string, EventTime timestamp",
    )
    with_lock = dedup.LedgerLock(ledger_path, timeout_sec=5, stale_sec=5)
    # check_and_mark constructs its own lock; patch staleness via a
    # short-stale subclassed call path: emulate by breaking stale lock first.
    with with_lock:
        pass  # stale lock broken and cleanly released
    out = sinks.check_and_mark(events, ledger_path, "w2", now_epoch=1705320000)
    assert sorted(r.EventID for r in out.collect()) == ["C:1", "C:2"]
    ledger = spark.read.parquet(ledger_path)
    assert sorted(r.pk for r in ledger.collect()) == ["C:1", "C:2"]


def test_ledger_crash_after_append_before_unlock(spark, tmp_path):
    """Crash injection: writer 1 dies AFTER appending but before releasing
    the lock. Its marks must stand; writer 2 breaks the stale lock and its
    overlapping keys are gated out (no double-mark)."""
    import os
    import time as _time

    ledger_path = str(tmp_path / "ledger")
    events1 = spark.createDataFrame(
        [("D:1", dt.datetime(2024, 1, 15, 12))], "EventID string, EventTime timestamp"
    )
    out1 = sinks.check_and_mark(events1, ledger_path, "w1", now_epoch=1705320000)
    assert [r.EventID for r in out1.collect()] == ["D:1"]
    # Re-create writer 1's lock as if it died post-append, and age it stale.
    lock_path = ledger_path + ".lock"
    with open(lock_path, "w") as fh:
        fh.write("dead-writer")
    old = _time.time() - 400  # > default stale_sec (300)
    os.utime(lock_path, (old, old))

    events2 = spark.createDataFrame(
        [("D:1", dt.datetime(2024, 1, 15, 13)), ("D:2", dt.datetime(2024, 1, 15, 13))],
        "EventID string, EventTime timestamp",
    )
    out2 = sinks.check_and_mark(events2, ledger_path, "w2", now_epoch=1705320000)
    assert [r.EventID for r in out2.collect()] == ["D:2"]  # D:1 gated
    ledger = spark.read.parquet(ledger_path)
    assert sorted(r.pk for r in ledger.collect()) == ["D:1", "D:2"]


def test_anti_join_small_left_parity_and_plan(spark):
    """anti_join_small_left == plain left-anti on every overlap shape
    (incl. null keys and duplicate right keys), and its plan never
    sort-merge-shuffles or hash-builds the BIG side: both joins are
    BroadcastHashJoin with small-side builds."""
    left = spark.createDataFrame(
        [("a",), ("b",), ("x",), (None,)], "k string"
    )
    right = spark.createDataFrame(
        [("a",), ("a",), ("c",), ("d",), (None,)], "k string"
    )
    plain = {r.k for r in left.join(right, "k", "left_anti").collect()}
    inverted = {
        r.k for r in dedup.anti_join_small_left(left, right, "k").collect()
    }
    # null keys match nothing in an anti-join -> kept in both shapes
    assert inverted == plain == {"b", "x", None}

    big = spark.range(200_000).select(
        F.concat(F.lit("pk-"), F.col("id")).alias("k")
    )
    small = spark.createDataFrame(
        [("pk-5",), ("pk-99999",), ("novel-1",)], "k string"
    )
    out = dedup.anti_join_small_left(small, big, "k")
    assert {r.k for r in out.collect()} == {"novel-1"}
    # AQE prints Final + Initial plan sections; judge the final one
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_batch_ledger_gate_auto_inverts_in_flip_regime(spark, tmp_path):
    """Directive r13-3: the BATCH gate (ledger_gate, and through it
    sinks.check_and_mark) routes through the same flip-regime selector as
    the streaming sink. Against a ledger whose plan estimate lands under
    the broadcast threshold while being the larger side, the executed
    plan must be the inverted shape (two small-side broadcasts, the
    ledger never hash-built as an anti-join build side); against a ledger
    SMALLER than the events side, the plain anti-join stands."""
    import datetime as dt

    now = int(dt.datetime(2024, 1, 20, tzinfo=dt.timezone.utc).timestamp())
    # ~50k-key parquet ledger (~150KB estimate), well above the 3-row
    # events side; the session threshold is dropped to 256KB for this
    # block so the ledger sits in the flip window [threshold/2,
    # threshold] — the r14 floor keeps genuinely small-vs-threshold
    # ledgers on the plain shape, so at the default 64MB this ledger
    # would (correctly) not invert.
    ledger_path = str(tmp_path / "ledger")
    spark.range(50_000).select(
        F.concat(F.lit("pk-"), F.col("id")).alias("pk"),
        F.timestamp_seconds(F.lit(now - 3600)).alias("seenAt"),
        F.lit(now + 86400).cast("long").alias("expiresAt"),
    ).write.parquet(ledger_path)
    ledger = spark.read.parquet(ledger_path)
    # parquet-backed events so Catalyst can size the small side (a
    # Python-built LogicalRDD has no stats -> the selector would keep the
    # plain shape by design)
    events_path = str(tmp_path / "events")
    spark.createDataFrame(
        [("pk-5",), ("pk-49999",), ("novel-1",)], "dedup_key string"
    ).coalesce(1).write.parquet(events_path)
    events = spark.read.parquet(events_path)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024))
    try:
        out = dedup.ledger_gate(events, ledger, now_epoch=now)
        assert {r.dedup_key for r in out.collect()} == {"novel-1"}
        plan = (
            out._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2, plan

    # outside the flip regime (ledger smaller than events): plain shape
    tiny_path = str(tmp_path / "tiny_ledger")
    spark.createDataFrame(
        [("pk-5", dt.datetime(2024, 1, 19), now + 86400)],
        "pk string, seenAt timestamp, expiresAt long",
    ).write.parquet(tiny_path)
    tiny = spark.read.parquet(tiny_path)
    big_events = spark.range(100_000).select(
        F.concat(F.lit("pk-"), F.col("id")).alias("dedup_key")
    )
    out2 = dedup.ledger_gate(big_events, tiny, now_epoch=now)
    plan2 = (
        out2._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan2.count("BroadcastHashJoin") == 1, plan2
    assert out2.count() == 100_000 - 1


def test_is_broadcast_flip_regime_boundaries():
    """The flip-regime predicate (when the streaming sink swaps the plain
    anti-join for anti_join_small_left) fires exactly when the planner
    would hash-build the BIG side of a left-anti join: big estimate under
    the threshold but above the small estimate, small side broadcastable.
    Unknown estimates are never the flip regime."""
    T = 64 << 20
    flip = dedup.is_broadcast_flip_regime
    assert flip(1 << 20, 55 << 20, T)           # the measured r13 case
    assert not flip(1 << 20, 80 << 20, T)       # big above threshold -> SMJ
    assert not flip(55 << 20, 1 << 20, T)       # big side SMALLER: planner
    assert not flip(T, T, T) is True or not flip(T, T, T)  # equal: not flip
    assert not flip(None, 55 << 20, T)          # unsized small
    assert not flip(1 << 20, None, T)           # unsized big
    assert not flip(1 << 20, 55 << 20, None)    # unparsable threshold conf
    assert not flip(1 << 20, 55 << 20, -1)      # broadcast disabled (-1)
    assert flip(T, T + 1 - 1, T) is False       # big == small == threshold
    assert flip(T - 1, T, T)                    # boundary: big at threshold
    # the r14 half-threshold floor: the regime is a NEAR-threshold build
    # (where the harm was measured), never a genuinely small ledger that
    # broadcasts cheaply anyway
    assert not flip(10 << 10, 150 << 10, T)     # 150KB ledger: plain wins
    assert flip(1 << 20, 32 << 20, T)           # exactly at the floor
    assert not flip(1 << 20, (32 << 20) - 1, T) # just under the floor


SHINGLE_EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\t\n ",
    "one",
    "one two",
    "One  Two\tthree",
    "a b a b a b",
    "x y z x y z x",
    "The\tQUICK brown  fox jumps over THE quick brown fox",
]


def _ref_shingles(text, n, distinct):
    """Pure-Python sliding window over the normalized tokens."""
    if text is None:
        return []
    toks = re.sub(r"\s+", " ", text.lower()).strip(" ").split(" ")
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return list(dict.fromkeys(grams)) if distinct else grams


@pytest.mark.parametrize("n", [2, 3])
@pytest.mark.parametrize("distinct", [True, False])
def test_shingles_match_python_reference(spark, n, distinct):
    docs = spark.createDataFrame(
        list(enumerate(SHINGLE_EDGE_TEXTS)), "doc_id int, text string"
    )
    got = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", dedup.shingles(F.col("text"), n, distinct).alias("s")
        ).collect()
    }
    for i, text in enumerate(SHINGLE_EDGE_TEXTS):
        assert got[i] == _ref_shingles(text, n, distinct), (text, got[i])


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_tokenize_each_row_once(n):
    """The window reads the token array once per slot; the tokenizer itself
    (one regexp_replace) must appear once in the expression, not once per
    slot."""
    assert str(dedup.shingles(F.col("text"), n)).count("regexp_replace") == 1
