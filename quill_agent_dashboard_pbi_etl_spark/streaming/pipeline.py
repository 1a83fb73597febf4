"""Streaming ingest pipeline (SURVEY.md §2.7, §3.1).

The reference is an event-at-a-time webhook service (one POST = one 1-row
batch, ≤15-min dashboard SLA). In Spark the same normalize → dedup → write
graph compiles once and runs under Structured Streaming:

  * S1/S2 webhook entry → a JSON landing directory watched by ``readStream``
    (prod swap: Kafka source — same downstream graph).
  * D1/D3 dedup → ``withWatermark(event_time, 14 days)`` +
    ``dropDuplicatesWithinWatermark`` on the dedup key: the streaming state
    store takes the role of the DynamoDB TTL ledger
    (ledger.repo.ts:10-12's DYNAMO_TTL_DAYS default 14).
  * Late data: accepted at any lateness within the watermark; rows land on
    their event-time-derived FactDateKey partition (append mode, no window
    closure — aloware.adapter.ts:87-89 semantics).
  * K1 sink → ``foreachBatch`` writing date-partitioned parquet; swap in the
    Power BI REST poster per micro-batch for true push-dataset output
    (chunked ≤10k rows/POST per the public API limits).
  * Trigger: 1-minute micro-batches ≪ the 15-minute SLA
    (docs/quill_dashboard_schema_design_doc.md:185).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.adapter import normalize_webhooks, to_physical_rows
from ..schemas import ALOWARE_BODY_SCHEMA, LEDGER_DDL
from .state_store import StateStorage, storage_for

# Landing-dir JSON shape: one envelope per line {source, body, receivedAt}.
ENVELOPE_JSON_SCHEMA = (
    "source string, headers map<string,string>, body string, receivedAt timestamp"
)


def read_envelope_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """S1/S2: webhook envelopes from a JSON landing directory."""
    return (
        spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .json(landing_dir)
    )


def _start_foreach_batch(
    stream: DataFrame,
    body: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int,
    available_now: bool,
) -> StreamingQuery:
    """Start ``body`` as the stream's foreachBatch sink. ``available_now=True``
    drains the backlog then stops (tests, backfills); otherwise it triggers
    every ``trigger_seconds``."""
    writer = stream.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=f"{trigger_seconds} seconds").start()


def envelopes_to_webhook_shape(envelopes: DataFrame) -> DataFrame:
    """P1/P2: parse the raw JSON body (shape-tolerant: flat payload or
    {parsedBody:{event,body}} wrapper — aloware.adapter.ts:56-58) into the
    webhook-shaped columns the adapter expressions consume."""
    parsed = envelopes.withColumn("p", F.from_json("body", ALOWARE_BODY_SCHEMA))
    inner = F.coalesce(
        F.col("p.body"),
        F.from_json("p.parsedBody.body", ALOWARE_BODY_SCHEMA["body"].dataType),
    )
    return parsed.select(
        F.col("source"),
        F.coalesce(F.col("p.event"), F.col("p.parsedBody.event")).alias("event_name"),
        inner.getField("id").alias("ext_id"),
        inner.getField("uuid_v4").alias("uuid_v4"),
        inner.getField("direction").alias("direction"),
        inner.getField("type").alias("type_code"),
        inner.getField("created_at").alias("created_at_raw"),
        inner.getField("owner_id").alias("owner_id"),
        inner.getField("user_id").alias("user_id"),
        inner.getField("contact").getField("timezone").alias("tz"),
        F.col("receivedAt"),
    )


def streaming_fact_pipeline(
    envelopes: DataFrame, dedup_ttl_days: int = 14
) -> DataFrame:
    """The full ingest graph on a (possibly streaming) envelope DataFrame:
    normalize (P1-P12) → watermarked cross-request dedup on EventID (D2/D3).

    ``dropDuplicatesWithinWatermark`` keeps state per key until the watermark
    passes ``ttl`` behind the max seen event time — the exact streaming
    equivalent of the reference's 14-day DynamoDB TTL ledger, minus the
    per-row RPCs.
    """
    fact = normalize_webhooks(envelopes_to_webhook_shape(envelopes))
    if fact.isStreaming:
        return fact.withWatermark(
            "EventTime", f"{dedup_ttl_days} days"
        ).dropDuplicatesWithinWatermark(["EventID"])
    # Batch replay of the identical graph: plain dropDuplicates on the key.
    return fact.dropDuplicates(["EventID"])


def start_fact_sink(
    fact_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """K1 streaming sink: append-mode, date-partitioned parquet via
    foreachBatch (the hook where a Power BI REST poster would plug in).

    ``available_now=True`` drains the backlog then stops — used by tests and
    backfills; the production path triggers every ``trigger_seconds``.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            to_physical_rows(batch_df)
            .write.mode("append")
            .partitionBy("FactDateKey")
            .parquet(output_dir)
        )

    return _start_foreach_batch(
        fact_stream, write_batch, checkpoint_dir, trigger_seconds, available_now
    )


def start_ledger_gated_fact_sink(
    fact_stream: DataFrame,
    ledger_path: str,
    output_dir: str,
    checkpoint_dir: str,
    ttl_days: int = 14,
    trigger_seconds: int = 60,
    available_now: bool = False,
    now_epoch: int | None = None,
    storage: StateStorage | None = None,
) -> StreamingQuery:
    """K4 under streaming: per-micro-batch atomic ledger gate+mark against an
    EXTERNAL parquet ledger (the reference's DynamoDB cycle verbatim,
    ledger.repo.ts:16-27), then the K1 append sink. The ledger is flat
    parquet (``sinks.append_ledger``); a root an older release partitioned
    by expiry day fails the first claim until one ``sinks.compact_ledger``
    run rewrites it flat.

    Why this exists alongside ``dropDuplicatesWithinWatermark``: the state-
    store dedup horizon lives INSIDE the streaming checkpoint — rebuild the
    checkpoint (redeploy, topology change, checkpoint corruption) and the
    stream forgets everything it ever saw. The ledger variant keeps the
    14-day horizon in an external table exactly like the reference, so a
    brand-new stream instance still dedups against history, multiple
    pipelines can share one horizon, and the TTL is enforced by data
    (``expiresAt``) rather than by operator state. Cost: one gate+append
    cycle per micro-batch under the ``LedgerLock``, which serializes every
    writer sharing the ledger. Within-batch duplicates are collapsed
    keep-first before the gate, so one micro-batch can never double-mark a
    key. ``now_epoch`` freezes the TTL clock for deterministic
    backfills/replays of historical event time (default: wall clock per
    batch).

    Crash safety: each batch claims through :func:`sinks.check_and_mark`
    under the tag ``<generation>-b<id>`` (the generation id is a uuid
    persisted in the checkpoint dir, see :func:`_generation_id`), then
    overwrites its own ``gen=<generation>/batch_id=N`` output
    subdirectory, so a retry rebuilds the same survivors from its durable
    claims and rewrites the same directory. Output layout is
    ``gen=<id>/batch_id=<n>/FactDateKey=<d>/``; readers of ``output_dir``
    see ``gen``/``batch_id`` as partition columns — do not mix
    differently-laid-out data in one output root.
    """
    from ..operators.dedup import keep_first
    from ..operators.materialize import pin
    from ..sinks import check_and_mark

    gen = _generation_id(checkpoint_dir, storage)  # immutable per incarnation

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        now = now_epoch if now_epoch is not None else int(time.time())
        # pin: `unique` is consumed 2× (the claim gate + the survivors
        # semi-join). Without it, every consumer re-executes the batch's
        # full upstream lineage — for a file-source batch that is the
        # ENTIRE JSON parse + normalize + keep_first window again (at the
        # sf100 single-batch drain an unpinned body that consumed it three
        # times re-parsed ~30 GB of JSONL per consumer: 744 s vs 330 s).
        # The pin is micro-batch-sized; blocks are released by the
        # ContextCleaner when the batch's DataFrames go out of scope. Its
        # row count rides the pin's job as an Observation: an empty batch
        # (nothing landed, or only dead letters) returns here, before the
        # lock, with no ledger append and no output directory.
        seen = Observation()
        unique = pin(
            keep_first(batch_df, ["EventID"], [F.col("EventTime"), F.col("Notes")])
            .observe(seen, F.count(F.lit(1)).alias("n"))
        )
        if seen.get["n"] == 0:
            return
        survivors = check_and_mark(
            unique, ledger_path, f"{gen}-b{batch_id}", now, ttl_days
        )
        (
            to_physical_rows(survivors)
            .write.mode("overwrite")
            .partitionBy("FactDateKey")
            .parquet(f"{output_dir}/gen={gen}/batch_id={batch_id}")
        )

    return _start_foreach_batch(
        fact_stream, write_batch, checkpoint_dir, trigger_seconds, available_now
    )


# --------------------------------------------------------------------------- #
# Streaming corpus gate (north-star tier under readStream)
# --------------------------------------------------------------------------- #

DOC_JSON_SCHEMA = "doc_id long, text string, lang string, source string, event_time timestamp"


def read_document_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Documents from a JSON landing directory, one ``DOC_JSON_SCHEMA`` row
    per line."""
    return (
        spark.readStream.schema(DOC_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .json(landing_dir)
    )


def streaming_corpus_gate(
    spark: SparkSession,
    landing_dir: str,
    dedup_window: str = "14 days",
    min_tokens: int = 20,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """Documents as a stream: the SAME quality-gate + exact-dedup column
    expressions as the batch corpus tier, compiled under ``readStream``.

    - quality gate: row-local expressions (functions/text.py) — identical
      keep semantics to the batch ``quality_filter`` gates they share code
      with; stateless, so no watermark needed for this stage.
    - exact dedup: ``dropDuplicatesWithinWatermark`` on the normalized
      content hash — the streaming state store plays the ledger role with a
      TTL (= watermark delay), exactly like the ingest pipeline's D3.

    Returns the gated stream; attach any sink (tests use an availableNow
    parquet sink).
    """
    from ..functions import text as T
    from ..operators.dedup import normalize_text

    docs = read_document_stream(spark, landing_dir)
    gated = docs.filter(
        (T.token_count(F.col("text")) >= min_tokens)
        & (T.punct_ratio(F.col("text")) <= max_punct_ratio)
    ).withColumn("content_hash", F.md5(normalize_text(F.col("text"))))
    return gated.withWatermark("event_time", dedup_window).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def streaming_quality_drift(
    spark: SparkSession,
    landing_dir: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Quality-filter DRIFT monitor: per (source, event-time window), the
    keep-rate of THE corpus quality gate — the monitoring companion the
    batch ``quality_filter`` docstring promises ("filter-rate drift per
    source/date is monitorable").

    The keep decision is ``functions.text.quality_keep_prepped`` — the SAME
    expression dict the batch ``quality_filter`` / ``quality_drift_by_source``
    queries enforce, imported, not re-stated, so the monitored rate and the
    enforced rate cannot diverge (a parity test lands identical documents as
    files and as a stream and asserts identical per-source rates).

    Emits (window_start, window_end, source, n_docs, n_kept, keep_rate) as
    closed tumbling windows (watermark + append mode → each window emits
    exactly once). A keep-rate cliff on one source is the canonical early
    signal of an upstream format change or crawler regression — this surfaces
    it per micro-batch without a second scan of the corpus: the gate
    predicate is evaluated once as a boolean column and aggregated, the
    documents themselves never shuffle (only per-window counters do).
    """
    from ..functions import text as T

    docs = read_document_stream(spark, landing_dir)
    keep = T.quality_keep_prepped().cast("long")
    return (
        T.with_text_prep(docs)
        .withColumn("keep", keep)
        .withWatermark("event_time", watermark_delay)
        .groupBy(F.window("event_time", window_duration), F.col("source"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").alias("n_kept"),
            F.round(F.avg("keep"), 6).alias("keep_rate"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "source",
            "n_docs",
            "n_kept",
            "keep_rate",
        )
    )


def start_streaming_near_dup_gate(
    spark: SparkSession,
    landing_dir: str,
    output_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_tokens: int = 20,
    max_punct_ratio: float = 0.2,
    available_now: bool = False,
    trigger_seconds: int = 60,
) -> StreamingQuery:
    """Streaming NEAR-dup gate: quality gate + MinHash-LSH suppression per
    micro-batch against an incrementally-built bucket index of every
    previously ACCEPTED document.

    Per batch (``foreachBatch``):

    1. quality gate — the same row-local expressions as the batch
       ``quality_filter`` / ``streaming_corpus_gate``.
    2. band the batch with the SAME ``minhash_band_buckets`` stage the batch
       pipeline uses (operators/dedup.py) — identical banding means a doc
       suppressed here is exactly a doc the batch ``dedup_minhash_lsh`` would
       pair.
    3. history suppression — any batch doc sharing a (band, band_key) bucket
       with an accepted doc is a near-dup of corpus history → dropped. The
       history side is a parquet bucket table under ``state_dir``; the batch
       side is micro-batch-sized, so Spark broadcasts it against the large
       history scan (no history shuffle).
    4. within-batch suppression — greedy keep-lowest-id per bucket: a doc is
       dropped if a smaller-id, non-history-suppressed batch doc shares one
       of its buckets. (Exact dups share ALL buckets, so this subsumes exact
       dedup.) Greedy-per-bucket is deliberately one notch more aggressive
       than the batch path's transitive connected-components clustering —
       the right trade for a gate that must decide per micro-batch without an
       iterative job; banding is already probabilistic candidate generation.
    5. survivors append to ``output_dir``; survivors' bucket rows append to
       ``state_dir``. Both writes go to a ``batch_id=N`` subdirectory with
       mode=overwrite — a replayed micro-batch (checkpoint recovery)
       rewrites its own directory instead of duplicating rows, the standard
       idempotent-``foreachBatch`` pattern.

    State lives OUTSIDE the streaming checkpoint, so the accepted-corpus
    index survives checkpoint resets and is queryable/compactable as a plain
    table. 100 TB posture: the index holds ``bands`` narrow rows per accepted
    doc; compact it periodically and bucket it by (band, band_key) so the
    per-batch join prunes to colliding buckets instead of scanning the full
    index (SPARK bucketed-table join elision); a hot boilerplate bucket is
    AQE skew-join territory, same as the batch path.
    """
    from ..functions import text as T
    from ..operators.dedup import minhash_band_buckets

    docs = read_document_stream(spark, landing_dir)
    gated_stream = docs.filter(
        (T.token_count(F.col("text")) >= min_tokens)
        & (T.punct_ratio(F.col("text")) <= max_punct_ratio)
    )

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch_df = batch_df.persist()
        buckets = None
        try:
            buckets = minhash_band_buckets(
                batch_df, "text", "doc_id", num_hashes, bands, shingle_n
            ).persist()
            try:
                history = sess.read.parquet(state_dir).select(
                    "band", "band_key"
                )
            except AnalysisException:  # first batch: no state yet
                history = sess.createDataFrame([], "band int, band_key string")
            hist_hit = (
                buckets.join(history.distinct(), ["band", "band_key"])
                .select("doc_id")
                .distinct()
            )
            # Buckets of docs that survived history — only these can suppress
            # a within-batch sibling.
            surv_buckets = buckets.join(hist_hit, "doc_id", "left_anti")
            within_hit = (
                surv_buckets.alias("l")
                .join(
                    buckets.alias("r"),
                    on=[
                        F.col("l.band") == F.col("r.band"),
                        F.col("l.band_key") == F.col("r.band_key"),
                        F.col("l.doc_id") < F.col("r.doc_id"),
                    ],
                )
                .select(F.col("r.doc_id").alias("doc_id"))
                .distinct()
            )
            dropped = hist_hit.union(within_hit).distinct()
            keep = batch_df.join(dropped, "doc_id", "left_anti")
            keep.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")
            (
                buckets.join(dropped, "doc_id", "left_anti")
                .write.mode("overwrite")
                .parquet(f"{state_dir}/batch_id={batch_id}")
            )
        finally:  # unpersist even on a failed batch — the stream outlives it
            if buckets is not None:
                buckets.unpersist()
            batch_df.unpersist()

    return _start_foreach_batch(
        gated_stream, gate_batch, checkpoint_dir, trigger_seconds, available_now
    )


_GENERATION_MARKER = "__spark_graft_generation"


def _generation_id(checkpoint_dir: str, storage: StateStorage | None = None) -> str:
    """Stable unique id for THIS incarnation of a stream, persisted as a
    marker object inside the checkpoint directory. Properties the sinks rely
    on: (a) retries within one incarnation see the same id (the marker
    survives restarts that keep the checkpoint); (b) an in-place checkpoint
    rebuild (rm -rf + restart at the SAME path) deletes the marker, so the
    rebuilt stream gets a FRESH id — batch numbers restarting at 0 can never
    masquerade as retries of the old incarnation's batches; (c) two
    pipelines never share an id (distinct checkpoint dirs → distinct
    markers).

    All control-state I/O goes through :class:`StateStorage`
    (``state_store.py``): local checkpoints default to the POSIX backend,
    URI-schemed ones raise until a backend for the scheme is passed — the
    marker must live WITH the checkpoint, never on a driver-local path that
    neither fails over nor gets deleted with the real checkpoint.

    Concurrent-writer safe (first writer wins) and never-empty: the backend's
    ``put_if_absent`` publishes the whole value atomically (POSIX impl:
    write-temp + hard-link), and the value RETURNED is always re-read from
    the store after the create attempt, never the locally generated one.
    """
    import uuid

    storage = storage or storage_for(checkpoint_dir)
    storage.ensure_dir(checkpoint_dir)
    marker = f"{checkpoint_dir.rstrip('/')}/{_GENERATION_MARKER}"
    storage.put_if_absent(marker, uuid.uuid4().hex[:12])
    val = (storage.get_text(marker) or "").strip()
    if not val:
        raise RuntimeError(f"empty generation marker at {marker}")
    return val


# --------------------------------------------------------------------------- #
# Ledger maintenance: reclaim claims orphaned by checkpoint replacement
# --------------------------------------------------------------------------- #

# The ledger-gated sink's claim tags: <12-hex generation id>-b<batch id>.
# Rows whose writer_id does not match are never reclaim candidates: rows
# appended untagged or under a tag of another form, and the
# "reclaimed:<tag>" rows an older ledger may still hold (they stay
# protective claims until their TTL expires).
_SINK_TAG_RE = r"^([0-9a-f]{12})-b(\d+)$"


def _live_generations(
    checkpoint_dirs, storage: StateStorage | None = None
) -> set[str]:
    """Generation ids of the LIVE stream incarnations: the marker value in
    each listed checkpoint dir (read-only — never creates a marker the way
    :func:`_generation_id` does). A dir without a marker contributes
    nothing: its stream has never started a ledger-gated sink, so no claims
    can carry its identity."""
    gens: set[str] = set()
    for d in checkpoint_dirs:
        st = storage or storage_for(d)
        val = (st.get_text(f"{d.rstrip('/')}/{_GENERATION_MARKER}") or "").strip()
        if val:
            gens.add(val)
    return gens


def reclaim_orphaned_claims(
    spark: SparkSession,
    ledger_path: str,
    output_dir: str,
    live_checkpoint_dirs=(),
    storage: StateStorage | None = None,
) -> DataFrame:
    """Maintenance job closing the ledger-gated sink's one loss window
    (:func:`start_ledger_gated_fact_sink` crash-safety docstring): a batch
    that CLAIMED keys and died before committing output, followed by a
    checkpoint replacement, leaves its claims live in the ledger under a
    dead generation tag — the events are gated out of every future replay
    yet landed in no output.

    An orphaned claim is a ledger row whose ``writer_id`` tag (a) belongs
    to no generation in ``live_checkpoint_dirs`` (the marker each live
    stream persists — a live generation's claimed-but-unwritten batch is
    that incarnation's own retry to recover, never ours to touch) and (b)
    has no committed output: Spark's commit protocol stamps ``_SUCCESS``
    in ``output_dir/gen=<g>/batch_id=<n>`` only after the batch's
    overwrite completes, so its absence is exactly "died before writing".

    The job deletes the orphaned claim rows, so the next replay of the
    source through the (new-generation) stream re-admits those events
    exactly once. Uncommitted partial output files under an orphaned
    tag's directory are deleted first (they are protocol garbage a raw
    parquet reader would otherwise surface). Idempotent: a rerun after a
    crash at any point re-derives the same orphan set, and a rerun after
    success finds nothing.

    The ledger rewrite (row deletion parquet cannot do in place) goes
    through ``operators.dedup.rewrite_ledger_atomic`` — a full scan →
    scratch dir → two-rename swap under the ``LedgerLock``, with every
    crash point recoverable by ``finish_interrupted_ledger_swap`` at the
    next run — never delete-then-rewrite at the live path. Claims appended
    by a concurrent (locked) sink between orphan identification and the
    rewrite are preserved: the rewrite re-reads the ledger under the lock
    and only drops the identified tags, which no live writer can ever
    re-issue (generation ids are unique per incarnation). Run it with the
    FULL list of live checkpoint dirs for every pipeline sharing the
    ledger — omitting one makes its in-flight batch look orphaned. POSIX
    ledger paths only (the rename swap).

    Returns the claim rows reclaimed (pk, seenAt, expiresAt, writer_id),
    materialized before the rewrite. Driver-side state is the distinct
    dead TAG list (generations × batches — operations-scale, never
    data-scale; the claims themselves stay distributed).
    """
    from ..operators.dedup import (
        LedgerLock,
        finish_interrupted_ledger_swap,
        rewrite_ledger_atomic,
    )
    from ..operators.materialize import pin

    if "://" in ledger_path:
        raise NotImplementedError(
            "reclaim_orphaned_claims rewrites the ledger via a POSIX rename "
            "swap under the LedgerLock; object-store ledger paths are not "
            "supported"
        )

    live_gens = _live_generations(live_checkpoint_dirs, storage)
    out_storage = storage or storage_for(output_dir)

    with LedgerLock(ledger_path):
        finish_interrupted_ledger_swap(ledger_path)
    try:
        ledger = spark.read.schema(LEDGER_DDL).parquet(ledger_path)
    except Exception:  # no ledger yet — nothing to reclaim
        return spark.createDataFrame([], LEDGER_DDL)

    # Dead-generation sink tags, then keep only those without committed
    # output. The distinct-tag collect is bounded driver-side state.
    tagged = ledger.withColumn(
        "__gen", F.regexp_extract("writer_id", _SINK_TAG_RE, 1)
    ).withColumn("__bid", F.regexp_extract("writer_id", _SINK_TAG_RE, 2))
    dead = tagged.filter(F.col("__gen") != "")
    if live_gens:
        dead = dead.filter(~F.col("__gen").isin(sorted(live_gens)))
    cand = [
        (r["writer_id"], r["__gen"], r["__bid"])
        for r in dead.select("writer_id", "__gen", "__bid").distinct().collect()
    ]
    orphan_tags = []
    for tag, g, bid in sorted(cand):
        batch_out = f"{output_dir.rstrip('/')}/gen={g}/batch_id={bid}"
        if "_SUCCESS" not in out_storage.list_dir(batch_out):
            orphan_tags.append(tag)
    if not orphan_tags:
        return spark.createDataFrame([], LEDGER_DDL)

    # Materialize the orphan rows BEFORE any rewrite touches the files
    # beneath the plan.
    orphans = pin(ledger.filter(F.col("writer_id").isin(orphan_tags)))

    # GC the orphans' uncommitted partial output (no _SUCCESS by
    # definition) so raw readers of output_dir never see half a batch.
    # This runs BEFORE the ledger rewrite: deleting partial files never
    # creates _SUCCESS, so the orphan set stays re-derivable — a crash
    # anywhere after this point still re-identifies the same tags on the
    # next run. The reverse order (rewrite first) would leak the partial
    # files permanently: once the tags are dropped, nothing re-derives the
    # GC list.
    for tag in orphan_tags:
        g, _, bid = tag.partition("-b")
        out_storage.delete_tree(f"{output_dir.rstrip('/')}/gen={g}/batch_id={bid}")

    # The rewrite re-reads the ledger under the lock: claims appended since
    # identification are preserved verbatim (their tags are live by
    # construction — no live writer can ever re-issue a dead tag).
    rewrite_ledger_atomic(
        spark,
        ledger_path,
        lambda current: current.filter(~F.col("writer_id").isin(orphan_tags)),
        schema=LEDGER_DDL,
    )
    return orphans


def _read_latest_state(
    spark: SparkSession,
    state_root: str,
    schema: str,
    storage: StateStorage | None = None,
):
    """(DataFrame, version, batch_tag) of the newest COMPLETE snapshot under
    ``state_root`` (a ``v=N`` dir is complete iff its ``_BATCH-<tag>`` marker
    exists — the marker is stamped only after the parquet commit). Empty
    DataFrame / version 0 / no tag when no snapshot exists. Listing goes
    through :class:`StateStorage`; the parquet payload goes through Spark —
    the versioned-snapshot protocol is the point, not the FS calls."""
    storage = storage or storage_for(state_root)
    root = state_root.rstrip("/")
    complete = []
    for d in storage.list_dir(root):
        if not d.startswith("v="):
            continue
        markers = [
            m for m in storage.list_dir(f"{root}/{d}") if m.startswith("_BATCH-")
        ]
        if markers:
            complete.append((int(d[2:]), markers[0][len("_BATCH-"):]))
    if not complete:
        return spark.createDataFrame([], schema), 0, None
    ver, tag = max(complete)
    df = spark.read.schema(schema).parquet(f"{root}/v={ver}")
    return df, ver, tag


def _commit_state_version(
    df: DataFrame,
    state_root: str,
    version: int,
    batch_tag: str,
    keep: int = 3,
    storage: StateStorage | None = None,
) -> None:
    """Commit ``df`` as snapshot ``v=<version>``: write the parquet, stamp
    the ``_BATCH-<tag>`` completeness marker LAST, then GC snapshots older
    than the newest ``keep``. A crash at ANY point leaves the previous
    complete snapshot untouched — nothing ever overwrites or deletes it
    until the new one is fully committed — which is the crash window a
    read-then-overwrite-same-path design cannot close (delete-then-die →
    the retry silently bootstraps from empty)."""
    storage = storage or storage_for(state_root)
    root = state_root.rstrip("/")
    dest = f"{root}/v={version}"
    df.write.mode("overwrite").parquet(dest)
    storage.put_marker(f"{dest}/_BATCH-{batch_tag}")
    versions = sorted(
        int(d[2:]) for d in storage.list_dir(root) if d.startswith("v=")
    )
    for old in versions[:-keep]:
        storage.delete_tree(f"{root}/v={old}")


def _start_snapshot_fold_sink(
    stream: DataFrame,
    state_path: str,
    schema: str,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    checkpoint_dir: str,
    trigger_seconds: int,
    available_now: bool,
    storage: StateStorage | None,
) -> StreamingQuery:
    """foreachBatch sink that folds each micro-batch into the latest
    committed snapshot under ``state_path``: ``merge(batch_df, prev)`` is
    committed as the next version (:func:`_commit_state_version`).

    Batch tags bind to the INCARNATION identity (uuid marker inside the
    checkpoint dir): a same-incarnation retry of batch N carries the same
    tag and is a no-op, while batch N of a rebuilt checkpoint — even at the
    same path — gets a fresh generation and folds."""
    gen = _generation_id(checkpoint_dir, storage)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_tag = f"{gen}-b{batch_id}"
        prev, ver, tag = _read_latest_state(
            batch_df.sparkSession, state_path, schema, storage
        )
        if tag == batch_tag:
            return  # retry of an already-committed batch — idempotent no-op
        _commit_state_version(
            merge(batch_df, prev), state_path, ver + 1, batch_tag, storage=storage
        )

    return _start_foreach_batch(
        stream, fold_batch, checkpoint_dir, trigger_seconds, available_now
    )


_CMS_SCHEMA = "seed int, bucket bigint, cnt bigint"


def read_cms_counters(
    spark: SparkSession, counters_path: str, storage: StateStorage | None = None
) -> DataFrame:
    """Latest committed CMS counter snapshot (pair with
    ``sketches.cms_estimate``)."""
    df, _, _ = _read_latest_state(spark, counters_path, _CMS_SCHEMA, storage)
    return df


def start_cms_counter_sink(
    keys_stream: DataFrame,
    counters_path: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 8192,
    trigger_seconds: int = 60,
    available_now: bool = False,
    storage: StateStorage | None = None,
) -> StreamingQuery:
    """Streaming heavy-hitter counters: fold every micro-batch into ONE
    persistent count-min sketch (operators/sketches.py).

    This is the sketch's mergeability doing real work: per batch, the batch's
    counter table (≤ depth×width rows — bounded regardless of key
    cardinality or stream length) is summed into the persisted table. State
    is ~32k rows of parquet forever, readable by any batch job mid-stream via
    :func:`read_cms_counters` + ``cms_estimate`` — the streaming analog of a
    metrics store that answers "how often did key X occur, ever" without
    keeping per-key state.

    Crash safety: state commits as VERSIONED snapshots (`v=N` dirs whose
    completeness marker is stamped last — see :func:`_commit_state_version`),
    so a crash mid-write can never destroy the accumulated history the way a
    same-path overwrite would (delete-then-die → silently bootstrap empty).
    A same-generation retry of an already-committed batch is a no-op (the
    latest version remembers which batch built it); a cross-generation
    replay still double-counts — at-least-once estimates stay OVERestimates,
    preserving the CMS one-sided error contract.
    """
    from ..operators.sketches import cms_counters

    def merge(batch_df: DataFrame, prev: DataFrame) -> DataFrame:
        return (
            cms_counters(batch_df, key_col, depth, width)
            .unionByName(prev)
            .groupBy("seed", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return _start_snapshot_fold_sink(
        keys_stream, counters_path, _CMS_SCHEMA, merge,
        checkpoint_dir, trigger_seconds, available_now, storage,
    )


def start_hll_distinct_sink(
    keyed_stream: DataFrame,
    sketch_path: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
    storage: StateStorage | None = None,
) -> StreamingQuery:
    """Streaming distinct-counting: one mergeable Datasketches HLL sketch per
    group, persisted and unioned per micro-batch (Spark 4's
    ``hll_sketch_agg`` / ``hll_union_agg`` — the binary sketches merge
    losslessly, unlike ``approx_count_distinct`` whose estimate is terminal).

    State is one ~KB binary per group forever; any batch job can read the
    table mid-stream and answer "distinct agents per metric, ever" via
    :func:`hll_estimates` without touching the raw stream. Replays
    double-insert, but HLL insertion is idempotent per value — exactly-once
    falls out for distinct-counting even under at-least-once delivery (the
    property the CMS counter sink does NOT have). State persists as the same
    crash-safe versioned snapshots as the CMS sink.
    """

    def merge(batch_df: DataFrame, prev: DataFrame) -> DataFrame:
        return (
            batch_df.groupBy(group_col)
            .agg(F.hll_sketch_agg(value_col).alias("sketch"))
            .unionByName(prev)
            .groupBy(group_col)
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )

    return _start_snapshot_fold_sink(
        keyed_stream, sketch_path, f"{group_col} string, sketch binary", merge,
        checkpoint_dir, trigger_seconds, available_now, storage,
    )


def hll_estimates(
    spark: SparkSession,
    sketch_path: str,
    group_col: str,
    storage: StateStorage | None = None,
) -> DataFrame:
    """Point-read the latest committed HLL snapshot →
    (group, distinct_estimate)."""
    sk, _, _ = _read_latest_state(
        spark, sketch_path, f"{group_col} string, sketch binary", storage
    )
    return sk.select(
        F.col(group_col),
        F.hll_sketch_estimate("sketch").alias("distinct_estimate"),
    )
