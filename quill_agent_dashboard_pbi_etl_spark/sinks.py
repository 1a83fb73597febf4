"""Sinks / DDL (SURVEY.md §2.2 K1-K6).

The reference's sink is the Power BI Push Dataset REST API (append rows, clear
table, create dataset). Spark-side the table store is date-partitioned parquet
(concurrent ledger writers go through :func:`check_and_mark`, which
serializes on ``operators.dedup.LedgerLock``); a
REST push sink is kept as a ``foreachPartition`` hook honoring the public Push API limits
(≤10k rows/POST, 120 POSTs/min, 1M rows/hr).
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .schemas import (
    DIM_AGENT_SCHEMA,
    DIM_DATE_SCHEMA,
    DIM_METRIC_SCHEMA,
    DIM_SHIFT_SCHEMA,
    FACT_EVENT_SCHEMA,
    LEDGER_DDL,
    LEDGER_SCHEMA,
)

# The five physical tables of the push dataset (tools/pbi/create-dataset.ts:48-107).
DATASET_TABLES: dict[str, StructType] = {
    "FactEvent": FACT_EVENT_SCHEMA,
    "DimAgent": DIM_AGENT_SCHEMA,
    "DimMetric": DIM_METRIC_SCHEMA,
    "DimDate": DIM_DATE_SCHEMA,
    "DimShift": DIM_SHIFT_SCHEMA,
}

# Public Power BI Push Dataset REST limits (context for tables.repo.ts:15-32).
PUSH_MAX_ROWS_PER_POST = 10_000
PUSH_MAX_POSTS_PER_MINUTE = 120


class TokenBucket:
    """Blocking token bucket: ``acquire()`` returns when a token is available,
    sleeping exactly as long as needed. One token is earned every
    ``60 / rate_per_minute`` seconds up to ``burst`` banked tokens.

    The reference delegates this to its vendored SDK ("rate limited retries",
    README.md:69, docs/src_architecture_proposal.md:135); here the contract is
    in-repo and unit-tested. ``clock``/``sleep`` are injectable so tests can
    assert the cadence without wall-clock waits.
    """

    def __init__(
        self,
        rate_per_minute: float = PUSH_MAX_POSTS_PER_MINUTE,
        burst: int = 1,
        clock: Callable[[], float] | None = None,
        sleep: Callable[[float], None] | None = None,
    ) -> None:
        import time

        self._interval = 60.0 / float(rate_per_minute)
        self._burst = float(burst)
        self._tokens = float(burst)
        self._clock = clock or time.monotonic
        self._sleep = sleep or time.sleep
        self._last: float | None = None

    def acquire(self) -> None:
        now = self._clock()
        if self._last is None:
            self._last = now
        self._tokens = min(
            self._burst, self._tokens + (now - self._last) / self._interval
        )
        self._last = now
        if self._tokens < 1.0:
            wait = (1.0 - self._tokens) * self._interval
            self._sleep(wait)
            self._last = self._clock()
            self._tokens = 1.0
        self._tokens -= 1.0


def append_fact(fact: DataFrame, path: str) -> None:
    """K1 append sink: date-partitioned parquet, append mode. Partitioning by
    the business date key gives partition pruning for every A7 time filter
    and bounds file sizes at 100 TB (one directory per day)."""
    fact.write.mode("append").partitionBy("FactDateKey").parquet(path)


def overwrite_dim(dim: DataFrame, path: str) -> None:
    """K2+K6 clear-and-replace dimension sink: atomic overwrite — replaces
    the reference's delete-then-insert window (dimagent.sync.service.ts:21-33
    + :104-108) with a single atomic swap."""
    dim.write.mode("overwrite").parquet(path)


def create_dataset(spark: SparkSession, base_path: str) -> dict[str, str]:
    """K3 dataset DDL: materialize all five tables as empty parquet layouts
    with their declared schemas (mirror of buildSchema(),
    tools/pbi/create-dataset.ts:48-135)."""
    paths = {}
    for name, schema in DATASET_TABLES.items():
        path = os.path.join(base_path, name)
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
        paths[name] = path
    return paths


def ledger_bootstrap(spark: SparkSession, path: str) -> None:
    """K5 ledger DDL/reset: empty PK-only ledger table
    (tools/dynamo/bootstrap-local.ts:70-91)."""
    spark.createDataFrame([], LEDGER_SCHEMA).write.mode("overwrite").parquet(path)


def expiry_day_col(expires: Column | None = None) -> Column:
    """The ledger partition key: the UTC calendar day of ``expiresAt``,
    derived by pure epoch arithmetic (``floor(epoch / 86400)`` days since
    1970-01-01) — NEVER via ``from_unixtime``/``to_date``, which follow
    ``spark.sql.session.timeZone`` and would shift day boundaries against
    :func:`compact_ledger`'s hard-UTC cutoff under a non-UTC session. One
    derivation, used by every writer (batch append, streaming claim sink,
    the layout-preserving rewrite), so the layout is session-tz-invariant
    by construction."""
    if expires is None:
        expires = F.col("expiresAt")
    return F.date_from_unix_date(
        F.floor(expires / F.lit(86400)).cast("int")
    )


def utc_day_of(epoch: int) -> str:
    """``epoch`` seconds → its UTC calendar day as ``YYYY-MM-DD`` — the
    driver-side twin of :func:`expiry_day_col`, used for partition-pruning
    literals and compaction cutoffs."""
    import datetime as _dt

    return _dt.datetime.fromtimestamp(epoch, tz=_dt.timezone.utc).strftime(
        "%Y-%m-%d"
    )


def ledger_is_partitioned(path: str) -> bool:
    """True when ``path`` holds an expiry-partitioned ledger
    (``expiryDay=<D>/`` directories). POSIX listing — the partitioned
    layout is POSIX-scoped like the rest of the parquet-ledger machinery."""
    if "://" in path or not os.path.isdir(path):
        return False
    return any(d.startswith("expiryDay=") for d in os.listdir(path))


# Durable layout marker (ADVICE r13): an expiry-partitioned ledger whose
# every expiryDay= directory has been compacted away is indistinguishable
# from a fresh path by listing alone, so auto-detected appends would
# silently re-establish the FLAT layout after any idle-past-TTL period.
# The marker file records the partitioned choice durably: written on every
# partitioned append/rewrite, never removed by compaction (which only
# drops expiryDay= dirs), wiped only by an explicit reset
# (``ledger_bootstrap``'s overwrite). Underscore-prefixed so Spark's file
# index ignores it like _SUCCESS.
LEDGER_LAYOUT_MARKER = "_LEDGER_LAYOUT_PARTITIONED"


def mark_ledger_partitioned(path: str) -> None:
    """Record the expiry-partitioned layout choice durably at ``path``
    (idempotent; POSIX paths only — the partitioned-ledger machinery is
    POSIX-scoped throughout)."""
    if "://" in path:
        return
    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, LEDGER_LAYOUT_MARKER)
    if not os.path.exists(marker):
        with open(marker, "w") as f:
            f.write("partition_by_expiry=true\n")


def ledger_layout(path: str) -> bool | None:
    """The existing layout at ``path``: True = expiry-partitioned
    (``expiryDay=`` directories present, or the durable layout marker —
    an emptied partitioned ledger stays partitioned under auto-detect),
    False = flat (root-level parquet files present), None = fresh/empty
    (no layout established yet)."""
    if ledger_is_partitioned(path):
        return True
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return False
    if os.path.isfile(os.path.join(path, LEDGER_LAYOUT_MARKER)):
        return True
    return None


def append_ledger(
    entries: DataFrame, path: str, partition_by_expiry: bool | None = None
) -> None:
    """K4 ledger append after a successful gate+post cycle. Single-writer per
    pipeline run; concurrent writers go through
    :func:`check_and_mark`, which holds the ``LedgerLock`` across the
    whole gate+append cycle (SURVEY.md §7 risk register).

    ``partition_by_expiry=True`` lays the ledger out as
    ``expiryDay=<UTC date of expiresAt>/`` partitions — the RUNBOOK "Ledger
    lifecycle" production layout: TTL compaction then collapses to dropping
    whole partition directories (no rewrite, no full scan — see
    :func:`compact_ledger`), and a gate reading through
    :func:`read_ledger` partition-prunes the expired days at scan time.
    The default ``None`` auto-detects: appends match whatever layout the
    ledger at ``path`` already has (a fresh path starts flat), so no append
    can ever mix layouts under one root — a flat file dropped into a
    partitioned root breaks partition discovery for every later reader.
    The day key is hard-UTC epoch arithmetic (:func:`expiry_day_col`),
    session-timezone-proof by construction.

    The partitioned write repartitions by the day key first, so one append
    produces ONE file per expiry day instead of (shuffle partitions ×
    days) — total ledger file count stays equal to the number of appends,
    the bound that matters for a TTL-window streaming ledger taking
    thousands of per-trigger appends, and every reader's file-listing /
    footer-open cost is bounded the same way. (This is hygiene, not the
    fix for the r13 drain regression — that was a partition-pruning-
    induced broadcast flip, see ``operators.dedup.anti_join_small_left``;
    the r13 A/B measured the fan-out itself as NOT the drain's mechanism,
    ``SCALE_LADDER.json streaming_ledger_layout``.) Parquet files split by
    row group, so a large single-day file still scans in parallel; for a
    truly huge single-day append, set ``spark.sql.files.maxRecordsPerFile``
    on the session.

    An EXPLICIT ``partition_by_expiry`` that contradicts an existing
    layout raises ``ValueError`` instead of writing: Spark reads a mixed
    root by SILENTLY DROPPING the flat rows (verified empirically — 3
    written, 2 read, no error), so a mis-flagged append would make every
    pre-existing claim invisible to the gate and re-admit its duplicates.
    Loud beats silent here; pass ``None`` to follow the existing layout."""
    existing = ledger_layout(path)
    if partition_by_expiry is None:
        partition_by_expiry = bool(existing)
    elif existing is not None and existing != partition_by_expiry:
        want = "expiry-partitioned" if partition_by_expiry else "flat"
        have = "expiry-partitioned" if existing else "flat"
        raise ValueError(
            f"append_ledger(partition_by_expiry={partition_by_expiry}) "
            f"requests the {want} layout but {path!r} already holds a "
            f"{have} ledger — a mixed root silently hides the flat rows "
            f"from every reader. Pass partition_by_expiry=None to follow "
            f"the existing layout, or migrate via rewrite_ledger_atomic."
        )
    if partition_by_expiry:
        # Marker first: even a crash mid-append leaves the layout CHOICE
        # durable, so the retry (and every later auto-detect append)
        # stays partitioned.
        mark_ledger_partitioned(path)
        (
            entries.withColumn("expiryDay", expiry_day_col())
            .repartition(F.col("expiryDay"))
            .write.mode("append")
            .partitionBy("expiryDay")
            .parquet(path)
        )
    else:
        entries.write.mode("append").parquet(path)


def read_ledger(
    spark: SparkSession, path: str, now_epoch: int | None = None
) -> DataFrame:
    """Load a ledger written by :func:`append_ledger`, either layout. On an
    expiry-partitioned ledger with ``now_epoch`` given, applies the
    ``expiryDay >= utc_day(now)`` predicate — a PARTITION-PRUNING filter
    (whole expired days never leave the manifest, the row-level
    ``expiresAt`` check in the gate stays authoritative for the boundary
    day). The cutoff literal is hard-UTC (:func:`utc_day_of`), matching
    the write-side :func:`expiry_day_col` and :func:`compact_ledger`'s
    cutoff regardless of ``spark.sql.session.timeZone``. Returns the
    ledger columns (pk, seenAt, expiresAt, + any claim-tag columns); the
    partition column is dropped.

    Compaction race: :func:`compact_ledger` on this layout deletes whole
    expired ``expiryDay=`` directories under the ledger lock, and a gate
    scan holds no lock — so a file this reader listed can vanish before
    its task runs. The partitioned read therefore sets
    ``ignoreMissingFiles``: semantically exact here, because compaction
    only ever removes directories whose every row is already expired —
    rows the gate's row-level ``expiresAt`` filter would drop anyway. A
    concurrent reader misses only data it must not see."""
    is_part = ledger_is_partitioned(path)
    reader = spark.read
    if is_part:
        reader = reader.option("ignoreMissingFiles", "true")
    df = reader.parquet(path)
    if "expiryDay" in df.columns:
        if now_epoch is not None:
            df = df.filter(
                F.col("expiryDay") >= F.lit(utc_day_of(now_epoch)).cast("date")
            )
        df = df.drop("expiryDay")
    return df


def check_and_mark(
    events: DataFrame,
    ledger_path: str,
    tag: str,
    now_epoch: int,
    ttl_days: int = 14,
    partition_by_expiry: bool | None = None,
) -> DataFrame:
    """K4 ``checkAndMark`` for a whole batch (ledger.repo.ts:5-35), the
    engine's one ledger write: under the :class:`LedgerLock`, gate
    ``events`` against the live ledger and append the survivors as claims
    ``(pk, seenAt, expiresAt = now + ttl, writer_id = tag)``; then return
    the ``events`` whose key ``tag`` owns in the durable ledger.

    ``events`` carries ``EventID`` and ``EventTime`` with one row per
    ``EventID`` (the caller collapses within-batch duplicates and pins the
    batch: it is read twice, by the gate and by the returned semi-join).
    Two writers racing on overlapping keys can never both claim one key.
    ``expiresAt`` is PROCESSING time + TTL, matching the gate's wall-clock
    filter and the reference (``now + DYNAMO_TTL_DAYS``): a claim protects
    for ``ttl_days`` from when it was MADE, so late or backfill data older
    than the TTL still dedups. ``partition_by_expiry`` passes through to
    :func:`append_ledger` verbatim (``None`` follows the existing layout).

    Crash safety (effectively-once output): claims are the commit point.
    The caller tags each batch uniquely (the streaming sink uses
    ``<generation>-b<batch id>``, the generation being a uuid persisted in
    the checkpoint dir, so tags are unique across stream incarnations AND
    across pipelines sharing one ledger), and the survivors are derived by
    READING BACK the keys the tag owns. A retry with the same tag at any
    crash point reconstructs the identical survivor set from the durable
    claims (keys it claimed before the crash are still tagged as its own,
    NOT silently dropped as duplicates, which is what a mark-then-write
    sink without tags would do), and the sink's per-batch output overwrite
    is idempotent. Across checkpoint replacement: the rebuilt stream's
    batch N carries a fresh generation, so it can neither adopt the old
    incarnation's claims (no duplicate re-emission) nor overwrite the old
    incarnation's committed output (a replayed event lands in exactly the
    one output whose batch claimed its key, never twice), with ONE loss
    window: a batch that claimed keys and crashed before writing output is
    recoverable only by the SAME incarnation's retry. If the checkpoint is
    rebuilt while such a batch is outstanding, its claims are orphaned
    (live in the ledger under a dead tag) and those events land in no
    output.
    ``streaming.pipeline.reclaim_orphaned_claims`` closes that window after
    the fact: it finds dead-tag claims whose output never committed and
    deletes them, so the next replay re-admits the events exactly once;
    operationally, still prefer draining the stream before deleting a
    checkpoint.

    ``read_ledger``/``append_ledger`` are looked up as module globals and
    ``pin``/``ledger_gate`` imported at call time, so wrappers installed on
    those module attributes see every call."""
    from .operators.dedup import LedgerLock, ledger_gate
    from .operators.materialize import pin

    spark = events.sparkSession
    with LedgerLock(ledger_path):
        try:
            # Partition-prunes expired expiryDay= dirs on the partitioned
            # layout; the gate's row-level TTL filter stays authoritative
            # for the boundary day.
            ledger = read_ledger(spark, ledger_path, now_epoch=now_epoch)
        except Exception:  # first writer bootstraps the ledger
            ledger = spark.createDataFrame([], LEDGER_DDL)
        # pin: materialize the claim set once under the lock; its row count
        # rides the pin's own job as an Observation, so deciding whether to
        # append costs no extra job and the append does not re-run the gate.
        n = Observation()
        claims = pin(
            ledger_gate(events, ledger, "EventID", now_epoch)
            .select(
                F.col("EventID").alias("pk"),
                F.col("EventTime").alias("seenAt"),
                F.lit(now_epoch + ttl_days * 86400).cast("long").alias("expiresAt"),
                F.lit(tag).alias("writer_id"),
            )
            .observe(n, F.count(F.lit(1)).alias("n"))
        )
        # An all-duplicate batch claims nothing: no empty file set per call.
        if n.get["n"] > 0:
            append_ledger(claims, ledger_path, partition_by_expiry=partition_by_expiry)
    # Read back outside the lock: replay-stable even after a crash above.
    # Deliberately NO ignoreMissingFiles: a concurrent locked rewrite
    # (reclaim / flat compaction rename-swap) racing this read must FAIL the
    # call so the retry replays cleanly, never read an empty ledger while
    # the claims stand (the caller would commit an empty output and
    # suppress the events forever). Partitioned compaction only drops days
    # strictly before today, which the prune below never reads.
    source = spark.read.schema(LEDGER_DDL).parquet(ledger_path)
    if "expiryDay" in source.columns:
        # RANGE prune, not equality on day(now + ttl): a retry that crossed
        # a UTC midnight recomputes day(now + ttl) one day PAST where the
        # first attempt's claims landed. Any claim the tag still owns
        # expires in [day(now), day(now + ttl)] for every attempt's `now`.
        source = source.filter(
            (F.col("expiryDay") >= F.lit(utc_day_of(now_epoch)).cast("date"))
            & (
                F.col("expiryDay")
                <= F.lit(utc_day_of(now_epoch + ttl_days * 86400)).cast("date")
            )
        )
    claimed = source.filter(F.col("writer_id") == tag).select(
        F.col("pk").alias("EventID")
    )
    return events.join(claimed, "EventID", "left_semi")


def binpack_ledger_closed_days(
    spark: SparkSession,
    path: str,
    now_epoch: int | None = None,
    min_files: int = 8,
) -> dict[str, int]:
    """Bin-pack the CLOSED live days of an expiry-partitioned ledger
    (directive r13-2): rewrite each ``expiryDay=`` directory that has
    accreted more than ``min_files`` parquet files down to one file.

    Why: ``append_ledger(partition_by_expiry=True)`` writes one file per
    expiry day per append, so a 1-minute-trigger stream accretes ~1,440
    files into each day before it ages out (~20k standing files across a
    14-day TTL window), and every per-trigger gate scan pays the
    listing/footer cost of all of them — measured ~1.4-2.0 ms per
    accreted file per trigger (``SCALE_LADDER.json
    ledger_live_day_files``), which extrapolates to tens of seconds per
    trigger at the steady state. TTL compaction never touches live days
    (it only drops expired ones), so this is the missing rewrite.

    A day is CLOSED when it is not the maximum ``expiryDay`` present:
    the streaming sink's claims land at ``day(now + ttl)`` which only
    grows, so every earlier day stops receiving appends. (Packing an
    open day would be CORRECT too — all writers serialize on the
    :class:`LedgerLock` this job holds — just wasted churn, since the
    day keeps accreting.) Expired days are skipped: they are
    :func:`compact_ledger`'s job to drop whole.

    Reader safety, in order of exposure: writers and locked readers (the
    gate inside :func:`check_and_mark`) serialize on the
    lock — no exposure. Unlocked readers race an ADD-THEN-UNLINK
    sequence: the packed file lands in the day directory first (one
    atomic rename), and only then are the old files unlinked — a reader
    listing at any single instant sees a COMPLETE key set (possibly with
    exact-duplicate rows mid-sequence, harmless for the gate's
    membership semantics and collapsed by the next pack's
    ``dropDuplicates``). The residual window — a reader that listed
    before the packed file landed and reads after the unlinks
    (``ignoreMissingFiles`` drops what vanished) — spans the whole
    pack of one day; run this from the same maintenance schedule as
    ``compact_ledger`` (the CLI does), not concurrently with unlocked
    ad-hoc scans. A crash at any point leaves a readable day (old
    files, packed+old, or packed+some-old); the next run re-packs and
    ``dropDuplicates`` heals any debris.

    Returns ``{day_dir: files_before}`` for each day packed.
    """
    import shutil as _shutil
    import time as _time

    from .operators.dedup import LedgerLock

    if now_epoch is None:
        now_epoch = int(_time.time())
    cutoff_day = utc_day_of(now_epoch)
    packed: dict[str, int] = {}
    with LedgerLock(path):
        scratch = os.path.join(path, ".binpack-scratch")
        _shutil.rmtree(scratch, ignore_errors=True)  # debris from a dead run
        days = sorted(
            d
            for d in os.listdir(path)
            if d.startswith("expiryDay=")
            and d.removeprefix("expiryDay=") >= cutoff_day
        )
        for d in days[:-1]:  # every closed live day; the max day is open
            full = os.path.join(path, d)
            files = sorted(
                f for f in os.listdir(full) if f.endswith(".parquet")
            )
            if len(files) <= min_files:
                continue
            # Read the day with the explicit base schema (Spark appends
            # the partition column on a partitioned-root read, but this
            # reads ONE day dir directly — no partition column appears);
            # dropDuplicates heals exact-duplicate debris a previous
            # pack crash left behind. writer_id may be absent on a
            # batch-only ledger — select the columns actually present.
            have = spark.read.parquet(full).columns
            cols = [
                c
                for c in ("pk", "seenAt", "expiresAt", "writer_id")
                if c in have
            ]
            day_schema = ", ".join(
                s
                for s in LEDGER_DDL.split(", ")
                if s.split(" ")[0] in cols
            )
            (
                spark.read.schema(day_schema)
                .parquet(full)
                .dropDuplicates()
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(scratch)
            )
            new_files = [
                f for f in os.listdir(scratch) if f.endswith(".parquet")
            ]
            assert len(new_files) == 1, new_files
            # add-then-unlink: the packed file is visible before any old
            # file disappears
            os.rename(
                os.path.join(scratch, new_files[0]),
                os.path.join(full, f"packed-{new_files[0]}"),
            )
            for f in files:
                try:
                    os.unlink(os.path.join(full, f))
                except FileNotFoundError:
                    pass  # crash-debris unlink already happened
            _shutil.rmtree(scratch, ignore_errors=True)
            packed[d] = len(files)
    return packed


def compact_ledger(
    spark: SparkSession,
    path: str,
    now_epoch: int | None = None,
    binpack_min_files: int | None = None,
) -> int:
    """TTL compaction as an executable maintenance job (RUNBOOK.md "Ledger
    lifecycle"): rewrite the ledger keeping only unexpired rows, via the
    crash-safe locked scratch-write + two-rename swap
    (``operators.dedup.rewrite_ledger_atomic`` — a crash at any point is
    recoverable at the next run; the live path never holds a partial
    ledger). Preserves every column the ledger carries (the streaming
    sink's ``writer_id`` claim tags included — compaction must never turn
    a live claim into a re-admittable key, and an expired claim is past
    its protection window by definition). At 100 TB: the ledger is
    TTL-bounded (14 days of keys), so the rewrite is one bounded scan.
    Returns the number of expired rows dropped — counted INSIDE the locked
    transform on the same snapshot the rewrite reads, so rows appended by
    a concurrent sink between the count and the swap can never skew (or
    negate) the result.

    On an expiry-PARTITIONED ledger (``append_ledger(...,
    partition_by_expiry=True)``) no rewrite happens at all: under the
    same lock, every ``expiryDay=<D>`` directory with D strictly before
    the cutoff day is dropped whole (every row in it expired during D, so
    D < day(now) ⇒ all expired; the boundary day stays — its still-live
    rows are filtered row-level at every gate scan and the partition is
    dropped by tomorrow's run). Each directory delete is independent and
    idempotent, so a crash mid-compaction just leaves some expired
    partitions for the next run — no swap machinery needed, and the scan
    cost is the EXPIRED partitions only, never the live ledger. A
    directory's rows count toward the return value only after its delete
    verifiably completed, so the total can under-report a crashed partial
    delete (the survivors are recounted next run) but never double-count
    one.

    ``binpack_min_files`` (partitioned layout only, opt-in): after the
    expired-day drops, also bin-pack each CLOSED live day that has
    accreted more than that many per-append files — see
    :func:`binpack_ledger_closed_days` for the measured accretion cost
    and the reader-safety ordering. ``None`` (default) keeps the pure
    TTL contract."""
    import os as _os
    import shutil as _shutil
    import time as _time

    from .operators.dedup import LedgerLock, rewrite_ledger_atomic

    if now_epoch is None:
        now_epoch = int(_time.time())

    if ledger_is_partitioned(path):
        # Per-directory count-then-delete, and a directory's rows join the
        # returned total only AFTER its delete verifiably completed — a
        # failed/partial rmtree must not inflate the count (the leftover
        # rows would be double-counted by the next run). The read carries
        # an explicit schema: a crash between a delete's file unlinks and
        # its dir unlink can leave an EMPTY expiryDay= directory, which
        # would fail schema inference on the next run when the empty dirs
        # are the only expired ones. Each count is a footer-only metadata
        # job over one TTL-day directory — operations-scale, never
        # ledger-scale. The directory LISTING happens under the lock: a
        # concurrent locked rewrite (orphan reclaim) could otherwise drop
        # a listed day between the listing and our lock acquisition. A
        # dir that still vanishes out from under the count (crash debris)
        # contributes nothing and is skipped, not fatal.
        base_schema = "pk string, seenAt timestamp, expiresAt long"
        cutoff_day = utc_day_of(now_epoch)
        n = 0
        with LedgerLock(path):
            # Record the layout durably before any directory drops: a run
            # that empties the ledger (every day expired) must not leave a
            # fresh-looking root that auto-detects flat (ADVICE r13) —
            # also backfills the marker on pre-marker ledgers.
            mark_ledger_partitioned(path)
            expired = sorted(
                d
                for d in _os.listdir(path)
                if d.startswith("expiryDay=")
                and d.removeprefix("expiryDay=") < cutoff_day
            )
            for d in expired:
                full = _os.path.join(path, d)
                try:
                    n_dir = (
                        spark.read.schema(base_schema).parquet(full).count()
                    )
                except Exception:
                    continue  # dir vanished: nothing left to count or drop
                try:
                    _shutil.rmtree(full)
                except OSError:
                    continue  # partial delete: recounted + retried next run
                if not _os.path.exists(full):
                    n += n_dir
        # Bin-pack closed live days AFTER the expired-day lock releases
        # (binpack_ledger_closed_days takes the same lock itself —
        # separate acquisitions, both idempotent). Opt-in: the pure TTL
        # contract (drop expired dirs, touch nothing live) stays the
        # default; the maintenance CLI enables it.
        if binpack_min_files is not None:
            binpack_ledger_closed_days(
                spark, path, now_epoch=now_epoch, min_files=binpack_min_files
            )
        return n

    dropped = {"n": 0}

    def _transform(df: DataFrame) -> DataFrame:
        dropped["n"] = df.filter(F.col("expiresAt") < F.lit(now_epoch)).count()
        return df.filter(F.col("expiresAt") >= F.lit(now_epoch))

    rewrite_ledger_atomic(spark, path, _transform)
    return dropped["n"]


def push_rows_rest(
    df: DataFrame,
    post: Callable[[list[dict]], None],
    max_rows_per_post: int = PUSH_MAX_ROWS_PER_POST,
    posts_per_minute: float | None = PUSH_MAX_POSTS_PER_MINUTE,
    concurrency: int = 1,
) -> None:
    """K1 true push-sink shape: per-partition chunked POSTs of JSON rows
    (`{rows:[...]}` bodies, tables.repo.ts:15-32). ``post`` is the injected
    HTTP call; each task throttles its POSTs through an in-repo
    ``TokenBucket`` honoring the public 120 POSTs/min limit.

    The API limit is GLOBAL per dataset, but a bucket lives per task — so the
    per-task rate is ``posts_per_minute / concurrency``, where ``concurrency``
    is the number of push tasks that run simultaneously. The default
    ``concurrency=1`` assumes a single push stream (``df.coalesce(1)`` first,
    or a 1-partition df) — the right shape for this sink anyway, since the
    API's 1M rows/hr ceiling, not Spark, is the bottleneck; set it to the
    executor-slot count when pushing partitions in parallel. Pass
    ``posts_per_minute=None`` to disable throttling (tests, local mirrors).
    """
    per_task_rate = (
        posts_per_minute / max(1, concurrency) if posts_per_minute else None
    )

    def send(partition: Iterator[Row]) -> None:
        bucket = TokenBucket(per_task_rate) if per_task_rate else None
        buf: list[dict] = []

        def flush() -> None:
            if bucket is not None:
                bucket.acquire()
            post(buf)

        for row in partition:
            buf.append(row.asDict())
            if len(buf) >= max_rows_per_post:
                flush()
                buf = []
        if buf:
            flush()

    df.foreachPartition(send)
