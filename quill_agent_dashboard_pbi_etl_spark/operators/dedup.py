"""Deduplication operators (SURVEY.md §2.4 D1-D3 + north-star near-dup ops).

Reference parity:
  D1 within-batch keep-FIRST dedup   (src/ingest/idempotency.ts:7-16)
  D2 dedup-key derivation            (src/ingest/idempotency.ts:3-5)
  D3 cross-request ledger gate       (src/workflows/ingest/orchestrator.ts:71-78,
                                      src/integrations/idempotency/ledger.repo.ts:5-35)

North-star extensions (BASELINE.json): exact hash dedup, MinHash+LSH,
n-gram Jaccard, SimHash — all shuffle-conscious: candidate generation is
always a key-equality join (band bucket / shingle), never a cross join, so
the plan scales linearly with data volume instead of quadratically.

Portability note: near-dup ops hash with ``md5`` (identical output in Spark
and DuckDB) so every operator keeps a SQL oracle. ``xxhash64`` would be
faster JVM-side but engine-specific; swap via ``hash_expr`` when running
without the oracle harness.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import pin


def dedup_key(source: Column, ext_event_id: Column) -> Column:
    """D2: ``"{source}:{eventId}"`` (ingest/idempotency.ts:3-5)."""
    return F.concat_ws(":", source, ext_event_id)


def keep_first(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """D1 within-batch dedup preserving the FIRST occurrence.

    ``dropDuplicates`` keeps an *arbitrary* row; the reference's seen-set loop
    keeps the first-in-order one (idempotency.ts:7-16), so this is a
    row_number window over an explicit arrival order. One shuffle on ``keys``;
    at scale the window and any downstream groupBy on the same keys share that
    shuffle.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def ledger_gate(
    events: DataFrame,
    ledger: DataFrame,
    key_col: str = "dedup_key",
    now_epoch: int | None = None,
) -> DataFrame:
    """D3 cross-request dedup: drop events whose key is in the live ledger.

    The reference does one DynamoDB conditional-write RPC per event
    (orchestrator.ts:73-78 — O(n) sequential round-trips); here it is a single
    distributed left-anti join against the TTL-pruned ledger. Expired entries
    (``expiresAt < now``) do not block (DynamoDB TTL semantics,
    docs/dynamodb_schema.md:29-32).
    """
    if now_epoch is None:
        now_epoch = int(time.time())
    live = ledger.filter(F.col("expiresAt") >= F.lit(now_epoch)).select(
        F.col("pk").alias(key_col)
    )
    # One join-shape selector for every gate (batch AND streaming): the
    # broadcast-flip regime auto-inverts to anti_join_small_left, see
    # gate_anti_join.
    return gate_anti_join(events, live, key_col)


def bloom_words(
    keys: DataFrame,
    key_col: str = "pk",
    num_bits: int = 1 << 16,
    num_hashes: int = 7,
) -> DataFrame:
    """Bloom bitmap over ``keys`` as a DISTRIBUTED ``(w, bits)`` word table —
    word index ``w`` = bit-position // 64, ``bits`` = the OR of that word's
    set bits. Only words with at least one set bit appear; the bitmap never
    exists as a single object on any node.

    Each key sets ``num_hashes`` bits at ``xxhash64(key, i) mod num_bits``;
    ``num_bits`` is rounded UP to a multiple of 64 (the bitmap is long
    words), and :func:`bloom_maybe_flag_bucketed` applies the same rounding,
    so build and probe always agree. Size as ``num_bits ≈ 1.44·n·log2(1/fpp)``
    for n expected keys. One shuffle, sized by the KEY table (num_hashes
    position rows per key), never by the events that will probe it. No UDF
    anywhere.
    """
    num_bits = ((num_bits + 63) // 64) * 64
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits)
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_maybe_flag_bucketed(
    df: DataFrame,
    words: DataFrame,
    num_bits: int,
    key_col: str,
    num_hashes: int = 7,
    flag_col: str = "__bloom_maybe",
) -> DataFrame:
    """Add ``flag_col``: True iff ``key_col`` MIGHT be in the Bloom set
    (never a false negative). The bitmap stays the DISTRIBUTED ``(w, bits)``
    word table from :func:`bloom_words` and each of the ``num_hashes``
    probes is one broadcast equi-join on word index.

    The word table rides an ordinary broadcast (~16 bytes per set word —
    executor memory, not plan bytes); probes stay map-side (no shuffle of
    the probed events; left 1:≤1 joins on the UNIQUE word index preserve
    row multiplicity), and a word absent from the table is a zero word —
    the COALESCE(false) arm — so false negatives remain impossible. The
    variable-distance bit test is SQL ``shiftright(bits, pos % 64)``.

    The ``num_hashes`` probe joins all broadcast CANONICALLY-EQUAL
    subplans, so Spark's exchange reuse materializes ONE broadcast and the
    other k−1 joins read it through ``ReusedExchange``: broadcast traffic
    is 1× the word table regardless of k (tests/test_dedup_gates.py pins
    the single-exchange plan). Exploding the k probe positions to rows and
    re-aggregating per event instead needs two event-scale shuffles
    (measured in SCALE_LADDER.json ``bloom_probe_shapes``).
    """
    num_bits = ((num_bits + 63) // 64) * 64
    # Per-probe __-prefixed scratch names INSIDE the broadcast select keep
    # the operator collision-safe: a caller df that itself has `w`/`bits`
    # columns is neither dropped nor made ambiguous (bare-name post-join
    # references were both — Spark's ambiguous-self-join check rejects
    # DataFrame-qualified refs once the probe relation appears k times in
    # one tree). Exchange reuse is NOT sacrificed: plan canonicalization
    # normalizes alias names and expr ids away, so the k BroadcastExchanges
    # still canonicalize equal.
    out = df
    hit_cols: list[str] = []
    for i in range(num_hashes):
        w_col, bits_col = f"__pw{i}", f"__pbits{i}"
        probe = F.broadcast(
            words.select(
                F.col("w").alias(w_col), F.col("bits").alias(bits_col)
            )
        )
        out = out.withColumn(
            "__bpos",
            F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits)),
        ).withColumn("__bw", (F.col("__bpos") / 64).cast("long"))
        out = out.join(probe, on=out["__bw"] == probe[w_col], how="left")
        h_col = f"__bh{i}"
        hit_cols.append(h_col)
        out = out.withColumn(
            h_col,
            F.coalesce(
                F.expr(
                    f"(shiftright({bits_col}, CAST(__bpos % 64 AS INT)) & 1) = 1"
                ),
                F.lit(False),
            ),
        ).drop(w_col, bits_col, "__bw", "__bpos")
    maybe = F.col(hit_cols[0])
    for h in hit_cols[1:]:
        maybe = maybe & F.col(h)
    return out.withColumn(flag_col, maybe).drop(*hit_cols)


def anti_join_small_left(
    left: DataFrame, right: DataFrame, key_col: str
) -> DataFrame:
    """``left LEFT ANTI right`` for a SMALL left and a LARGE right, as two
    broadcast map-side joins: broadcast the left's keys to semi-join the
    big side down to the matching keys (≤ |left| rows by construction),
    then anti-join the left against that tiny set — zero shuffle of the
    big side, zero big hash build.

    Why this exists: Spark can only build the RIGHT side of a left-anti
    join, so a 12.5k-event micro-batch gating against a 10.7M-key live
    ledger either sort-merge-shuffles all 10.7M rows (estimate above the
    broadcast threshold) or — worse — builds a fresh 10.7M-key broadcast
    hash per trigger when the ledger's estimate lands just UNDER the
    threshold (measured in r13: a 55 MB estimate flipped the gate to
    BroadcastHashJoin BuildRight and cost ~5.7 s/trigger over an 8-batch
    drain — a long-lived streaming JVM rebuilding and GC'ing the broadcast
    every trigger amplifies what a clean one-shot JVM prices at ~0.3 s;
    SCALE.md, ``SCALE_LADDER.json`` ``small_batch_gate``).
    Both broadcasts here are bounded by the SMALL side; the big side is
    scanned once, map-side, and never shuffled. Identical result to the
    plain anti-join: ``left ∖ (right ⋉ left) = left ∖ right`` (null keys
    match nothing in either shape).

    Use in the flip regime (the streaming sink auto-detects it from plan
    stats) or on a cluster fabric where the avoided per-trigger shuffle
    is network-priced; against a healthy one-box sort-merge join the
    plain anti-join measured faster (0.78× inverted at 100M keys), so
    this is not a blanket replacement.
    """
    keys = left.select(key_col).dropDuplicates([key_col])
    dup_keys = (
        right.join(F.broadcast(keys), key_col, "left_semi")
        .select(key_col)
        .dropDuplicates([key_col])  # bounds the second broadcast by |keys|
    )
    return left.join(F.broadcast(dup_keys), key_col, "left_anti")


def parse_spark_bytes(value: str) -> int | None:
    """Parse a Spark byte-size conf string ("10MB", "10485760b", "-1").
    Returns None when unparseable."""
    v = value.strip().lower()
    try:
        mult = 1
        for suffix, m in (
            ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
            ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
            ("b", 1),
        ):
            if v.endswith(suffix):
                v, mult = v[: -len(suffix)], m
                break
        return int(v) * mult
    except ValueError:
        return None


def gate_anti_join(
    events: DataFrame, live: DataFrame, key_col: str
) -> DataFrame:
    """``events LEFT ANTI live``, auto-inverted to
    :func:`anti_join_small_left` in the measured BROADCAST-FLIP regime
    (:func:`is_broadcast_flip_regime` over driver-side plan-stat
    estimates — no job): when the live ledger's estimate lands under the
    session's broadcast threshold while still being the larger side, the
    planner hash-builds the whole live key set (left-anti can only build
    right) — per-trigger-fatal in streaming (r13: 2.9× drain slowdown)
    and the same pathology, unamplified, for a BATCH backfill looping
    gate calls against a pruned just-under-threshold ledger (directive
    r13-3 closed the batch-side exposure by routing every gate through
    this one selector). Outside the flip regime the plain anti-join
    stands: against a healthy sort-merge join the inverted shape measured
    0.78× (``SCALE_LADDER.json small_batch_gate``). Identical result
    either way.

    Cost ordering: ``probe_volume_estimate`` forces a Catalyst
    analysis+optimization pass on the probed subplan, which is cheap for
    the live side (a file scan + filter) but can be the full adapter
    chain on the events side — so the live estimate and the
    half-threshold floor are checked FIRST, and the events plan is only
    ever sized inside the candidate flip window. In the common cases —
    ledger far below the threshold (every small registry ledger) or
    above it (every at-scale healthy-SMJ ledger) — this adds one cheap
    plan-stat read and nothing else."""
    thresh = parse_spark_bytes(
        events.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10MB"
        )
    )
    if thresh is not None and thresh > 0:
        big = probe_volume_estimate(live)
        if (
            big is not None
            and 2 * big >= thresh  # the measured-harm neighborhood...
            and big <= thresh      # ...just under the threshold
        ):
            if is_broadcast_flip_regime(
                probe_volume_estimate(events), big, thresh
            ):
                return anti_join_small_left(events, live, key_col)
    return events.join(live, on=key_col, how="left_anti")


def is_broadcast_flip_regime(
    small_est: int | None, big_est: int | None, threshold: int | None
) -> bool:
    """True when a ``small LEFT ANTI big`` join sits in the BROADCAST-FLIP
    regime: the planner will hash-build the BIG side because its estimate
    lands under the broadcast threshold while still being the larger side
    (left-anti can only build right), and the small side is itself safely
    broadcastable. This is the regime where
    :func:`anti_join_small_left` replaces a per-call multi-million-key
    hash build with two small-side broadcasts; outside it the plain
    anti-join measured faster on one box (``SCALE_LADDER.json
    small_batch_gate``). ``None`` estimates (Catalyst couldn't size the
    plan) and a ``None`` threshold (an unparsable conf value — e.g. a
    suffix ``parse_spark_bytes`` doesn't know) are never the flip regime
    — the caller keeps the plain shape.

    The ``2*big >= threshold`` floor (r14) bounds the regime to where
    the harm was actually MEASURED — a big-side estimate JUST UNDER the
    threshold (r13: pruning dropped 79 MB → 55 MB under the 64 MB
    threshold; the harm is the multi-million-key hash build). A
    genuinely small ledger (a few hundred KB against a 64 MB threshold)
    broadcasts cheaply and the plain single-join plan is optimal —
    inverting there swaps one tiny broadcast for two joins plus an
    extra Catalyst pass sizing the events plan, a pure loss. Widen the
    floor only on new harm measurements below it.
    """
    return (
        small_est is not None
        and big_est is not None
        and threshold is not None
        and big_est <= threshold  # planner WILL hash-build the big side
        and 2 * big_est >= threshold  # ...a near-threshold (measured-harm) build
        and big_est > small_est   # ...and it is the bigger side
        and small_est <= threshold  # small side safely broadcastable
    )


def probe_volume_estimate(df: DataFrame) -> int | None:
    """Driver-side, job-free estimate of a DataFrame's input volume in
    bytes, from Catalyst's optimized-plan statistics (file-relation sizes
    after pruning). Returns None when the estimate is unavailable or
    meaningless (Spark's sentinel for "unknown" is 8 EiB). Used by
    :func:`gate_anti_join` to detect the broadcast-flip regime without
    spending a count job on either side."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # Catalyst reports defaultSizeInBytes (Long.MaxValue-ish) for plans it
    # cannot size (pure streaming relations, some in-memory plans).
    if size <= 0 or size >= (1 << 60):
        return None
    return size


def ledger_gate_bloom(
    events: DataFrame,
    ledger: DataFrame,
    key_col: str = "dedup_key",
    now_epoch: int | None = None,
    num_bits: int = 1 << 16,
    num_hashes: int = 7,
) -> DataFrame:
    """D3 ledger gate with a Bloom pre-filter — EXACT same result as
    :func:`ledger_gate` (Bloom filters have no false negatives, and every
    "maybe" still goes through the exact anti-join), verified by the same
    oracle.

    The TTL-pruned ledger folds into the :func:`bloom_words` word table,
    every event probes it map-side (:func:`bloom_maybe_flag_bucketed`), and
    only the ~(duplicates + fpp) sliver of events enters the anti-join —
    with a 14-day ledger and ~1% duplicate rate that is a ~50-100× cut in
    the volume an exact gate would shuffle once the ledger outgrows
    broadcast. The price is the word-table build plus a probe chain that
    runs twice over the batch, once per union branch (pin ``events`` first
    if its upstream is costly). The reference's DynamoDB-side analog would
    be a negative cache in front of the conditional write.
    """
    if now_epoch is None:
        now_epoch = int(time.time())
    live = ledger.filter(F.col("expiresAt") >= F.lit(now_epoch)).select(
        F.col("pk").alias(key_col)
    )
    words = bloom_words(live, key_col, num_bits, num_hashes)
    # Not pinned, although both branches below read it: materializing the
    # batch cost more than the second probe at sf10-sf30 (NOTES.md r16).
    flagged = bloom_maybe_flag_bucketed(events, words, num_bits, key_col, num_hashes)
    clean = flagged.filter(~F.col("__bloom_maybe")).drop("__bloom_maybe")
    maybe = flagged.filter(F.col("__bloom_maybe")).drop("__bloom_maybe")
    # The maybe-side exact re-check goes through the same flip-regime
    # selector as every other gate join: the maybe sliver is tiny by
    # construction, so a pruned just-under-threshold live ledger would
    # otherwise be hash-built here too.
    return clean.unionByName(gate_anti_join(maybe, live, key_col))


class LedgerLock:
    """Cross-process mutual exclusion for the parquet ledger.

    The reference gets per-key atomicity from DynamoDB conditional writes
    (ledger.repo.ts:16-27); a parquet ledger has no conditional write, so two
    concurrent gate+append cycles could both see a key as new and both mark
    it. This lock serializes whole cycles (``sinks.check_and_mark``, the one
    ledger write, and the maintenance rewrites) via atomic ``O_CREAT|O_EXCL`` file
    creation (POSIX-atomic, works on shared filesystems that honor O_EXCL).
    A stale lock (holder died) is broken after ``stale_sec``. This lock is
    the engine's one concurrent-writer mechanism for the ledger.
    """

    def __init__(self, ledger_path: str, timeout_sec: float = 60.0, stale_sec: float = 300.0):
        import os

        self._lock_path = ledger_path.rstrip("/") + ".lock"
        self._timeout = timeout_sec
        self._stale = stale_sec
        self._os = os
        self._fd: int | None = None

    def __enter__(self) -> "LedgerLock":
        os = self._os
        deadline = time.monotonic() + self._timeout
        while True:
            try:
                self._fd = os.open(
                    self._lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.write(self._fd, str(os.getpid()).encode())
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self._lock_path)
                    if age > self._stale:
                        os.unlink(self._lock_path)  # break stale lock, retry
                        continue
                except FileNotFoundError:
                    continue  # holder just released — retry immediately
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"ledger lock {self._lock_path} held for >{self._timeout}s"
                    )
                time.sleep(0.05)

    def __exit__(self, *exc) -> None:
        os = self._os
        if self._fd is not None:
            os.close(self._fd)
            self._fd = None
        try:
            os.unlink(self._lock_path)
        except FileNotFoundError:
            pass


def finish_interrupted_ledger_swap(ledger_path: str) -> None:
    """Recover the atomic ledger-rewrite swap if a previous rewrite job died
    mid-sequence (write NEW → rename L→OLD → rename NEW→L → rmtree OLD).
    Every crash point leaves a state this resolves without losing a row:
    OLD present + L absent → finish (NEW→L) or roll back (OLD→L); OLD
    present + L present → the swap completed, drop OLD; NEW present + L
    present + OLD absent → stale pre-swap scratch, drop NEW. Call under the
    :class:`LedgerLock` (``rewrite_ledger_atomic`` does)."""
    import os
    import shutil

    new, old = ledger_path + ".reclaim-new", ledger_path + ".reclaim-old"
    if os.path.exists(old) and not os.path.exists(ledger_path):
        if os.path.exists(new):
            os.rename(new, ledger_path)  # crashed between the two renames
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, ledger_path)  # roll back to the pre-swap ledger
        return
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)  # swap done, GC missed
    if os.path.exists(new):
        shutil.rmtree(new, ignore_errors=True)  # scratch from a dead run


def rewrite_ledger_atomic(spark, ledger_path: str, transform, schema=None):
    """Crash-safe IN-PLACE rewrite of a parquet ledger (row deletion /
    mutation parquet cannot do in place): under the :class:`LedgerLock`,
    recover any interrupted prior swap, read the current ledger
    (``schema`` optional — omit to preserve whatever columns the ledger
    carries), apply ``transform(df) -> df``, write the result to a scratch
    dir, then publish it with a two-rename swap. A crash at ANY point is
    recoverable by the next run's :func:`finish_interrupted_ledger_swap`
    — the live path never holds a partially-written ledger the way a
    delete-then-overwrite would. POSIX paths only (the rename swap):
    object-store ledger paths raise ``NotImplementedError``. Returns the
    rewritten DataFrame (reading the new files). Used by TTL compaction
    (``sinks.compact_ledger``) and the streaming orphan-reclaim job.

    One layout: the scratch dir is written flat. An ``expiryDay``
    partition column (a root from an older release that partitioned the
    ledger by expiry day) is dropped before ``transform`` runs, so any
    rewrite of such a root migrates it flat."""
    import os
    import shutil

    if "://" in ledger_path:
        raise NotImplementedError(
            "rewrite_ledger_atomic publishes via a POSIX rename swap; "
            "object-store ledger paths are not supported"
        )
    with LedgerLock(ledger_path):
        finish_interrupted_ledger_swap(ledger_path)
        reader = spark.read.schema(schema) if schema is not None else spark.read
        current = reader.parquet(ledger_path)
        if "expiryDay" in current.columns:
            current = current.drop("expiryDay")
        new, old = ledger_path + ".reclaim-new", ledger_path + ".reclaim-old"
        transform(current).write.mode("overwrite").parquet(new)
        os.rename(ledger_path, old)
        os.rename(new, ledger_path)
        shutil.rmtree(old, ignore_errors=True)
    final = spark.read.schema(schema) if schema is not None else spark.read
    return final.parquet(ledger_path)


# --------------------------------------------------------------------------- #
# North-star document dedup
# --------------------------------------------------------------------------- #

def normalize_text(col: Column) -> Column:
    """Canonical form for exact/near dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content hash: keep the lowest-id doc per md5(normalized
    text). Hash-groupBy — one shuffle on a high-cardinality uniform key, the
    cheapest possible dedup at 100 TB (no wide rows move: only (hash, id))."""
    hashed = docs.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    )
    keep = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return keep.select(id_col, "content_hash")


def tokens(col: Column) -> Column:
    """Whitespace token array of :func:`normalize_text` — the one tokenizer
    every near-dup, repetition and text-heuristic op reads."""
    return F.split(normalize_text(col), " ")


def shingles(col: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingle array from normalized text (distinct by default;
    ``distinct=False`` keeps multiplicity, for repetition statistics).

    Built-ins only: tokenize → sliding window via transform over an index
    sequence. Each row is tokenized exactly ONCE, so the cost is linear in
    document length. The token array is bound to a lambda variable (a
    one-element ``transform`` over ``array(tokens)``) because the window
    reads it once per token slot and Catalyst does not eliminate common
    subexpressions inside lambda bodies: written inline, the whole
    lower → regexp_replace → trim → split chain re-ran ~3·T + 2 times for a
    T-token document. It is not split into its own projection either: the
    optimizer pushes such a Project below ``ensure_min_partitions``'
    exchange (see ``ngram_jaccard_pairs``), so the expression stays whole
    for the caller's ``Generate``/``select``.
    """

    def grams_of(toks: Column) -> Column:
        count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        # Guard count == 0: sequence(0, -1) is a DESCENDING sequence in Spark,
        # and its indices would run element_at past the array on sub-n-token
        # docs.
        grams = F.when(
            count > 0,
            F.transform(
                F.sequence(F.lit(0), count - 1),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(grams) if distinct else grams

    return F.element_at(F.transform(F.array(tokens(col)), grams_of), 1)


# MinHash base: one md5 per shingle → 61-bit integer, then cheap affine
# transforms per hash function. Mersenne prime keeps products in long range.
MINHASH_PRIME = 2147483647  # 2^31 - 1


def shingle_hash(shingle: Column) -> Column:
    """Portable base hash: first 15 hex chars of md5 as a bigint, mod P.
    Identical in DuckDB as ``('0x' || substr(md5(s),1,15))::BIGINT % P``."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % MINHASH_PRIME


def minhash_signature_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures: sig[i] = min over shingles of (a_i·h + b_i) mod P
    with h = :func:`shingle_hash` — ONE md5 per shingle, then ``num_hashes``
    integer transforms (the classic universal-hash family), instead of
    ``num_hashes`` cryptographic hashes per shingle.

    Per-row array transforms: ZERO shuffle (an exploded groupBy would move
    |docs|×|shingles| rows — measured 33% slower warm and 5× slower cold
    from the bigger plan). md5 base keeps every value portable to the SQL
    oracle. Returns (id, sig_0..sig_{H-1}).
    """
    from ..sources.readers import ensure_min_partitions

    hashes = F.transform(shingles(F.col(text_col), shingle_n), shingle_hash)
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("__hs"), lambda h: (h * (2 * i + 1) + (7777 * i + 1)) % MINHASH_PRIME
            )
        ).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return (
        ensure_min_partitions(docs)
        .select(F.col(id_col), hashes.alias("__hs"))
        .select(id_col, *sig_cols)
    )


def minhash_band_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH band-bucket table: one row per (doc, band) with the band's bucket
    key — the candidate-generation stage of MinHash LSH, exposed so batch
    pairing (``minhash_lsh_pairs``) and the streaming gate's incremental
    index (``streaming/pipeline.py``) share one implementation.

    Returns (id_col, band, band_key). Two docs are near-dup CANDIDATES iff
    they share a (band, band_key) row.
    """
    rows_per_band = num_hashes // bands
    # Shingle-less docs (< shingle_n tokens) have no signature — drop them,
    # matching the exploded/SQL formulation where they simply emit no rows
    # (otherwise their all-null sigs would band every empty doc together).
    #
    # The drop predicate is the CHEAP equivalent (token count >= n), applied
    # BEFORE signature computation. Filtering on sig_0 IS NOT NULL *after*
    # looks identical but is a 6x whole-query regression: Catalyst pushes the
    # filter below the ensure_min_partitions exchange, inlining the entire
    # shingle+md5+minhash expression tree into a Filter that runs on the raw
    # (often single-partition) scan — the full signature computation then
    # executes twice, once serialized on one task.
    with_shingles = docs.filter(
        F.size(tokens(F.col(text_col))) >= F.lit(shingle_n)
    )
    sigs = minhash_signature_df(with_shingles, text_col, id_col, num_hashes, shingle_n)
    # One band row per (doc, band) via a single explode — NOT a per-band
    # union, which would recompute the whole signature subtree `bands` times.
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"sig_{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return (
        sigs.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("bk"))
        .select(
            F.col(id_col),
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash + LSH banding: candidate near-dup pairs (a < b) that collide in
    ≥1 band. rows-per-band = num_hashes/bands.

    Scale shape: signatures (narrow) → explode to `bands` rows → shuffle on
    (band, band_key) → per-bucket self-pairing. No cross join anywhere; bucket
    sizes are bounded by collision probability, and a hot bucket (boilerplate
    docs) is the classic skew case AQE's skew-join splitting handles.
    """
    # Materialize the narrow bucket table: the self-join below would otherwise
    # recompute the whole shingle→signature pipeline for BOTH sides. pin()
    # instead of persist(): blocks are released when the DF is GC'd, so a
    # long session running many queries doesn't accumulate cached partitions
    # (operators/materialize.py).
    buckets = pin(
        minhash_band_buckets(docs, text_col, id_col, num_hashes, bands, shingle_n)
    )
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_key") == F.col("r.band_key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Default path: inverted-index self-join on shingle (candidate generation)
    → per-pair intersection counts via map-side-combined groupBy →
    |A∪B| = |A|+|B|−|A∩B|. Returns (doc_a, doc_b, jaccard ≥ threshold,
    rounded to 6 dp for cross-engine hash stability).

    ``prefix_filter=True`` switches to the PPJoin-family plan (Chaudhuri et
    al. ICDE'06 SSJoin, Xiao et al. WWW'08 PPJoin): order every doc's
    shingles by ascending global document frequency, index only the first
    ``|A| − ⌈t·|A|⌉ + 1`` per doc (any Jaccard ≥ t pair must collide inside
    these prefixes), filter candidates by size ratio (``t·|A| ≤ |B| ≤
    |A|/t``), then verify exactly with ``array_intersect`` on the full hash
    arrays. Identical output (asserted by tests). Measured guidance: on
    corpora with pervasive sub-threshold overlap (this synthetic bench) the
    co-occurrence groupBy wins — partial aggregation compresses the shared-
    shingle mass map-side and prefixes can't prune pairs that share rare
    shingles too. On sparse-overlap corpora (real web scale, where most doc
    pairs share nothing) the prefix index shrinks candidate generation from
    Σ-co-occurrence to ~the true near-dup set, which is what makes an exact
    similarity self-join feasible at 100 TB.

    Scale: the quadratic danger in either path is a stop-shingle appearing
    in most docs — its bucket self-joins quadratically. ``max_doc_freq``
    drops such shingles from CANDIDATE GENERATION only (set sizes stay
    exact), turning reported Jaccard into a tight lower bound — the standard
    stop-shingle cap. Leave ``None`` for the exact/oracle-checked mode.

    All joins run on 8-byte ``xxhash64`` shingle hashes, not strings — same
    pairs (collisions ~2^-64), much cheaper shuffle keys — and the exploded
    index / per-doc arrays are persisted so join sides don't re-shingle.
    """
    from ..sources.readers import ensure_min_partitions

    if prefix_filter and max_doc_freq is None:
        return _ngram_jaccard_pairs_ppjoin(
            docs, text_col, id_col, shingle_n, threshold
        )

    # NOTE (r15 measured pitfall, same family as the minhash sig_0 filter):
    # naming the gram array in its own projection (to read set_size row-local
    # via F.size before the explode) lets the optimizer push that Project
    # BELOW the ensure_min_partitions round-robin exchange — the whole
    # shingle subtree then runs in the (often single-task) scan stage:
    # measured 10.8 s on ONE task at sf0.1, a 6× whole-query regression. The
    # generator form below keeps the shingle expression inside the Generate
    # node ABOVE the exchange (32-way); set_size is attached afterwards by
    # broadcast-joining the (tiny, one-row-per-doc) sizes aggregate onto the
    # pinned index instead.
    sh = pin(  # joined below; GC-released by default, strategy-selectable
        ensure_min_partitions(docs)
        .select(
            F.col(id_col),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("shingle"),
        )
        .select(F.col(id_col), F.xxhash64("shingle").alias("shingle_h"))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size"))
    # Attach per-doc set sizes to the index rows (one broadcast hash join,
    # build side = |docs| rows) so the candidate self-join can apply the
    # lossless size-ratio prefilter below, and the pair groupBy can carry
    # sizes via first() — removing both post-agg sizes joins. The identical
    # broadcast subtree on the l/r sides is deduplicated by ReuseExchange.
    index = sh.join(F.broadcast(sizes), id_col)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle_h")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle_h")
        )
        index = index.join(rare, "shingle_h", "left_semi")
    # Lossless size-ratio prefilter AT the candidate join (r15, guide §2.2 —
    # cut candidate volume before the pair exchange): J(A,B) ≤ min/max of the
    # set sizes always, and round(J, 6) ≥ t requires J ≥ t − 5e-7, so any
    # pair with min < (t − 1e-6)·max provably cannot pass the threshold —
    # no false negatives, the margin over-covers the 6-dp rounding. Measured
    # at sf0.1: 1.27 M collision rows → 0.97 M into the (doc_a, doc_b)
    # exchange (−24%; stronger on real corpora where lengths actually vary).
    pairs = (
        index.alias("l")
        .join(
            index.alias("r"),
            on=[
                F.col("l.shingle_h") == F.col("r.shingle_h"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
                F.least(F.col("l.set_size"), F.col("r.set_size"))
                >= (threshold - 1e-6)
                * F.greatest(F.col("l.set_size"), F.col("r.set_size")),
            ],
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
        )
        .agg(
            F.count("*").alias("inter"),
            F.first(F.col("l.set_size")).alias("size_a"),
            F.first(F.col("r.set_size")).alias("size_b"),
        )
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _ngram_jaccard_pairs_ppjoin(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """PPJoin-family plan for ``ngram_jaccard_pairs(prefix_filter=True)``:
    df-ascending prefix index + size-ratio filter + exact array_intersect
    verification. See the public docstring for when this path wins.

    Shingle-less docs are dropped with the CHEAP predicate (token count >= n)
    BEFORE the array pipeline — filtering on a computed ``size(hs) > 0``
    afterwards looks identical but Catalyst pushes it below the projection and
    re-inlines the whole shingle tree into the Filter (measured 9x slower;
    same pitfall as the minhash sig_0 filter).
    """
    from ..sources.readers import ensure_min_partitions

    with_shingles = ensure_min_partitions(docs).filter(
        F.size(tokens(F.col(text_col))) >= F.lit(shingle_n)
    )
    sh = with_shingles.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
    ).select(F.col(id_col), F.xxhash64("s").alias("h"))
    df_tab = sh.groupBy("h").agg(F.count("*").alias("df"))
    # Rare-first global order: sort each doc's shingles by (df, h). Rare
    # shingles discriminate, so prefixes of truly-similar docs collide while
    # unrelated docs' prefixes (their rarest features) do not.
    prep = pin(  # prefix index + 2 verify joins reuse it
        sh.join(df_tab, "h")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("o"))
        .select(
            F.col(id_col),
            F.transform("o", lambda x: x["h"]).alias("hs"),
            F.size("o").alias("set_size"),
        )
    )
    prefix_len = (
        F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + F.lit(1)
    ).cast("int")
    index = prep.select(
        F.col(id_col),
        "set_size",
        F.explode(F.slice(F.col("hs"), F.lit(1), prefix_len)).alias("h"),
    )
    cand = (
        index.alias("l")
        .join(
            index.alias("r"),
            on=[
                F.col("l.h") == F.col("r.h"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
                F.col("r.set_size") >= F.lit(threshold) * F.col("l.set_size"),
                F.col("l.set_size") >= F.lit(threshold) * F.col("r.set_size"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    return (
        cand.join(
            prep.select(
                F.col(id_col).alias("doc_a"),
                F.col("hs").alias("hs_a"),
                F.col("set_size").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            prep.select(
                F.col(id_col).alias("doc_b"),
                F.col("hs").alias("hs_b"),
                F.col("set_size").alias("size_b"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash fingerprints: sign-sum of per-token hash bits.

    Token stream → per-(doc, bit) weighted votes → assemble the fingerprint.
    Pure built-ins (explode + bitwise ops + groupBy).

    The fingerprint is carried as TWO unsigned 32-bit halves
    (``simhash_hi`` = bits 32..63, ``simhash_lo`` = bits 0..31), each derived
    from one 8-hex-char slice of the token's md5 — the same portability trick
    as :func:`shingle_hash`: every value is reproducible in ANSI SQL
    (``('0x' || substr(md5(tok), 1, 8))::BIGINT``), so the operator keeps a
    DuckDB oracle, and both halves stay non-negative (no engine-specific
    64-bit sign-wrap semantics to reconcile). Hamming distance over the pair
    of halves is identical to Hamming over the single 64-bit word.
    """
    from ..sources.readers import ensure_min_partitions

    docs = ensure_min_partitions(docs)
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select(F.col(id_col), F.md5("tok").alias("m")).select(
        F.col(id_col),
        F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("lo"),
    )

    # Branchless bit extraction (r15, guide §1.2 per-task work): the sign-sum
    # of ±1 votes equals 2·(count of set bits) − n_tokens, so the 64
    # conditional when(bit≠0, +1, −1) columns become shift+AND bit gets and
    # the final sign test becomes 2·sum > n. Measured on the fingerprint
    # pass at sf0.1: 1.360 → 0.825 s (1.65×), fingerprints bit-identical
    # (A/B-verified over the full corpus; ties 2·sum = n give bit 0 in both
    # forms, exactly like sign-sum = 0).
    votes = toks.select(
        F.col(id_col),
        *[
            F.shiftrightunsigned(F.col("lo"), i).bitwiseAND(F.lit(1)).alias(f"l{i}")
            for i in range(32)
        ],
        *[
            F.shiftrightunsigned(F.col("hi"), i).bitwiseAND(F.lit(1)).alias(f"h{i}")
            for i in range(32)
        ],
    )
    summed = votes.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[F.sum(f"l{i}").alias(f"sl{i}") for i in range(32)],
        *[F.sum(f"h{i}").alias(f"sh{i}") for i in range(32)],
    )

    def assemble(prefix: str) -> Column:
        fp = F.lit(0).cast("long")
        for i in range(32):
            fp = fp + F.when(
                2 * F.col(f"{prefix}{i}") > F.col("__n"), F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return fp

    return summed.select(
        F.col(id_col),
        assemble("sh").alias("simhash_hi"),
        assemble("sl").alias("simhash_lo"),
    )


def simhash_near_pairs(
    fps: DataFrame, id_col: str = "doc_id", max_hamming: int = 8, prefix_bits: int = 16
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, candidate-generated by
    fingerprint prefix buckets (docs differing only in low bits still collide
    on the high-bit prefix with probability ≈ 1 − max_hamming/bits).

    ``fps`` is the (id, simhash_hi, simhash_lo) output of :func:`simhash_df`;
    the bucket is the top ``prefix_bits`` bits of the fingerprint (taken from
    ``simhash_hi``), and Hamming distance is the sum of per-half popcounts.
    """
    bucketed = pin(  # self-joined below; materialize the fingerprint pass
        # once, with blocks released when the DF is GC'd (a persist() here
        # outlives the query and leaks across a bench session)
        fps.withColumn(
            "bucket", F.shiftrightunsigned(F.col("simhash_hi"), 32 - prefix_bits)
        )
    )
    l, r = bucketed.alias("l"), bucketed.alias("r")
    hamming = F.bit_count(
        F.col("l.simhash_hi").bitwiseXOR(F.col("r.simhash_hi"))
    ) + F.bit_count(F.col("l.simhash_lo").bitwiseXOR(F.col("r.simhash_lo")))
    return (
        l.join(
            r,
            on=[
                F.col("l.bucket") == F.col("r.bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            "hamming",
        )
    )
