"""Sinks / DDL (SURVEY.md §2.2 K1-K6).

The reference's sink is the Power BI Push Dataset REST API (append rows, clear
table, create dataset). Spark-side the fact table is date-partitioned parquet
and the dedup ledger one flat parquet table (concurrent ledger writers go
through :func:`check_and_mark`, which serializes on
``operators.dedup.LedgerLock``); a
REST push sink is kept as a ``foreachPartition`` hook honoring the public Push API limits
(≤10k rows/POST, 120 POSTs/min, 1M rows/hr).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Observation, Row, SparkSession
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


def append_ledger(entries: DataFrame, path: str) -> None:
    """K4 ledger append after a successful gate+post cycle. Single-writer per
    pipeline run; concurrent writers go through
    :func:`check_and_mark`, which holds the ``LedgerLock`` across the
    whole gate+append cycle (SURVEY.md §7 risk register).

    The ledger has one layout: flat parquet files under ``path``, like the
    reference's one PK-only table with a TTL attribute. A root holding
    ``expiryDay=`` directories was written by an older release that
    partitioned the ledger by expiry day; appending flat files to it would
    hide them (Spark reads a mixed root by silently dropping the flat rows,
    so every new claim would be invisible to the gate). Such a root raises
    ``ValueError``: one :func:`compact_ledger` run rewrites it flat."""
    if "://" not in path and os.path.isdir(path) and any(
        d.startswith("expiryDay=") for d in os.listdir(path)
    ):
        raise ValueError(
            f"{path!r} holds an expiry-partitioned ledger from an older "
            f"release; run sinks.compact_ledger on it once to rewrite it "
            f"flat before appending"
        )
    entries.write.mode("append").parquet(path)


def read_ledger(spark: SparkSession, path: str) -> DataFrame:
    """Load a ledger written by :func:`append_ledger`: the ledger columns
    (pk, seenAt, expiresAt, + the claim tag ``writer_id`` when present).
    Expiry is the gate's row-level ``expiresAt`` filter."""
    return spark.read.parquet(path)


def check_and_mark(
    events: DataFrame,
    ledger_path: str,
    tag: str,
    now_epoch: int,
    ttl_days: int = 14,
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
    than the TTL still dedups.

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
            ledger = read_ledger(spark, ledger_path)
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
            append_ledger(claims, ledger_path)
    # Read back outside the lock: replay-stable even after a crash above.
    # Deliberately NO ignoreMissingFiles: a concurrent locked rewrite
    # (reclaim / compaction rename-swap) racing this read must FAIL the
    # call so the retry replays cleanly, never read an empty ledger while
    # the claims stand (the caller would commit an empty output and
    # suppress the events forever).
    source = spark.read.schema(LEDGER_DDL).parquet(ledger_path)
    claimed = source.filter(F.col("writer_id") == tag).select(
        F.col("pk").alias("EventID")
    )
    return events.join(claimed, "EventID", "left_semi")


def compact_ledger(
    spark: SparkSession, path: str, now_epoch: int | None = None
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
    The rewrite also packs the small files each append left into one
    file set, and it rewrites an expiry-partitioned root from an older
    release flat (the one-time migration :func:`append_ledger` asks for).
    Returns the number of expired rows dropped — counted INSIDE the locked
    transform on the same snapshot the rewrite reads, so rows appended by
    a concurrent sink between the count and the swap can never skew (or
    negate) the result."""
    import time as _time

    from .operators.dedup import rewrite_ledger_atomic

    if now_epoch is None:
        now_epoch = int(_time.time())
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
