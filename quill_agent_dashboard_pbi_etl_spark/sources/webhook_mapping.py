"""Deterministic mapping: driver `events` table → webhook-shaped DataFrame.

The driver's synthetic ``events.parquet`` (event_id, ts, user_id, event_type,
value, props) stands in for the reference's captured Aloware webhooks
(FIXTURES.md §1). This module defines the mapping ONCE in Spark and ONCE as a
DuckDB SQL CTE (``WEBHOOKS_CTE``) used by every oracle query — keep the two in
lock-step; every rule below is mirrored line-for-line in the SQL.

Mapping rules (all deterministic, modulo-based so they hold at any SF):

  event_name   purchase→'outbound_call'  signup→'outbound_text'
               click→'generic_event' (keyword-free → direction/type fallback)
               view→'inbound_call' (dropped by outbound gate)
               error→'outbound_event' (outbound, unknown metric → dropped)
  direction    clicks only: k%2=0 → 2 (outbound) else 1 (inbound, dropped)
  type_code    clicks: k%3=0 → 1 (CALLS) else 2 (TEXTS); errors: 9 (unknown)
  created_at_raw  NULL when k%23=0 (→ receivedAt fallback); else even
               event_id → ISO 'T' form, odd → 'YYYY-MM-DD HH:mm:ss' form
  receivedAt   ts + 1 hour (synthetic arrival time)
  owner_id     NULL when user_id%5=0, else user_id
  user_id      NULL when user_id=0 (with owner NULL too → agent 'unknown')
  tz           user_id%5 → UTC / New_York / Los_Angeles / Berlin / Tokyo;
               'Mars/Olympus' when user_id%9=8 (invalid → UTC fallback);
               NULL when user_id%7=6
  ext_id/uuid  event_id, except event_id%10=7 → NULL id + 'uuid-<id>' fallback

where k = CAST(props->'$.k' AS BIGINT).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Fixed "now" anchor for time-relative queries (TTL pruning, Today/This-Week
# filters, shift pace): events span 2024-01; the anchor sits inside that range
# so every relative filter is deterministic across engines and run dates.
NOW_ANCHOR = "2024-01-20 12:00:00"
NOW_ANCHOR_DATE = "2024-01-20"
NOW_EPOCH = int(  # NOW_ANCHOR as UTC epoch seconds: the ledger TTL clock
    dt.datetime.strptime(NOW_ANCHOR, "%Y-%m-%d %H:%M:%S")
    .replace(tzinfo=dt.timezone.utc)
    .timestamp()
)
LEDGER_TTL_DAYS = 14  # DYNAMO_TTL_DAYS default (ledger.repo.ts:10-12)

TZ_BY_MOD = ["UTC", "America/New_York", "America/Los_Angeles", "Europe/Berlin", "Asia/Tokyo"]

def _nd_barrier(col: F.Column) -> F.Column:
    """Identity on values, NON-DETERMINISTIC to Catalyst — a predicate-
    pushdown barrier (guide §2.4/§7.2, r14 measurement).

    Why: every consumer predicate over this frame is on a DERIVED column
    (is_outbound, MetricID, FactDateKey, ...), so Catalyst substitutes the
    full defining expression into the filter and pushes it through the
    ``ensure_min_partitions`` round-robin exchange into the SCAN stage —
    which on single-row-group inputs is ONE task. Measured plan before the
    barrier (plans/r14/time_filter_today_before.txt): the Filter below the
    Exchange carries the whole 7-format timestamp parse + tz INSET chain,
    serialized on one core while the 32-way stage above does a trivial
    re-projection. A projection containing any non-deterministic expression
    blocks that substitution (PushDownPredicates requires deterministic
    project fields), so the filters stay ABOVE the exchange and run at full
    parallelism.

    At a real many-file layout ``ensure_min_partitions`` no-ops (no
    exchange), scan and projection share one pipelined stage, and the
    barrier costs nothing; none of these predicates could reach parquet
    ``PushedFilters`` anyway (all are over derived columns).

    Shape note: ``shuffle(array(col))[1]`` — ``shuffle`` is the
    non-deterministic marker, and a permutation of a single-element array
    is provably the identity, so every row's value and type are ``col``
    unchanged (only nullability widens, which no consumer or oracle
    compares). The earlier ``when(rand() >= -1, col)`` forms do NOT work:
    ``when(c, x).otherwise(x)`` is folded to ``x`` by the conditional
    simplifier, and Spark 4's optimizer constant-folds range-provable
    ``rand()`` comparisons, erasing the barrier (both verified in the
    optimized plan).

    The seed is fixed so two builds of the same query print the same plan;
    ``Shuffle`` stays non-deterministic to Catalyst whatever its seed.
    """
    return F.element_at(F.shuffle(F.array(col), 0), 1)


def events_as_webhooks(events: DataFrame) -> DataFrame:
    """Project the driver events table into the webhook shape consumed by
    ``functions.adapter.normalize_webhooks``.

    ``k`` is extracted from the JSON props ONCE into a column (the mapping
    uses it four times; repeating ``get_json_object`` would re-parse the JSON
    per use), and the scan is spread to full parallelism first — the adapter
    chain is the most expression-heavy stage in the engine. ``event_name``
    carries :func:`_nd_barrier` so consumer filters on derived columns
    cannot collapse below the spreading exchange (single-task scan guard).
    The barrier must live on a column the pushed predicates themselves
    reference, or column pruning deletes it and the pushdown returns —
    every consumer's outbound/metric gate reads ``event_name``, so it
    always survives pruning (verified: a barrier on the pruned-away
    ``source`` vanished from the plan).
    """
    from .readers import ensure_min_partitions

    events = ensure_min_partitions(events).withColumn(
        "k", F.get_json_object(F.col("props"), "$.k").cast("long")
    )
    k = F.col("k")
    uid = F.col("user_id")
    eid = F.col("event_id")
    received = F.col("ts") + F.expr("INTERVAL 1 HOUR")

    event_name = (
        F.when(F.col("event_type") == "purchase", F.lit("outbound_call"))
        .when(F.col("event_type") == "signup", F.lit("outbound_text"))
        .when(F.col("event_type") == "click", F.lit("generic_event"))
        .when(F.col("event_type") == "view", F.lit("inbound_call"))
        .otherwise(F.lit("outbound_event"))  # error
    )
    direction = F.when(
        F.col("event_type") == "click",
        F.when(k % 2 == 0, F.lit(2)).otherwise(F.lit(1)),
    ).otherwise(F.lit(None).cast("long"))
    type_code = (
        F.when(
            F.col("event_type") == "click",
            F.when(k % 3 == 0, F.lit(1)).otherwise(F.lit(2)),
        )
        .when(F.col("event_type") == "error", F.lit(9))
        .otherwise(F.lit(None).cast("long"))
    )
    created_at_raw = F.when(k % 23 == 0, F.lit(None).cast("string")).otherwise(
        F.when(
            eid % 2 == 0, F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss")
        ).otherwise(F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss"))
    )
    tz = F.when(uid % 7 == 6, F.lit(None).cast("string")).otherwise(
        F.when(uid % 9 == 8, F.lit("Mars/Olympus")).otherwise(
            F.element_at(F.array(*[F.lit(z) for z in TZ_BY_MOD]), (uid % 5 + 1).cast("int"))
        )
    )

    return events.select(
        F.lit("ALOWARE").alias("source"),
        _nd_barrier(event_name).alias("event_name"),
        F.when(eid % 10 == 7, F.lit(None).cast("long")).otherwise(eid).alias("ext_id"),
        F.when(eid % 10 == 7, F.concat(F.lit("uuid-"), eid.cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("uuid_v4"),
        direction.alias("direction"),
        type_code.alias("type_code"),
        created_at_raw.alias("created_at_raw"),
        F.when(uid % 5 == 0, F.lit(None).cast("long")).otherwise(uid).alias("owner_id"),
        F.when(uid == 0, F.lit(None).cast("long")).otherwise(uid).alias("user_id"),
        tz.alias("tz"),
        received.alias("receivedAt"),
    )


# --------------------------------------------------------------------------- #
# DuckDB mirror — prefix for every oracle query that consumes webhooks.
# `events` is a pre-registered view over the same parquet (driver contract).
# --------------------------------------------------------------------------- #
WEBHOOKS_CTE = """
webhooks AS (
  SELECT
    'ALOWARE' AS source,
    CASE event_type
      WHEN 'purchase' THEN 'outbound_call'
      WHEN 'signup'   THEN 'outbound_text'
      WHEN 'click'    THEN 'generic_event'
      WHEN 'view'     THEN 'inbound_call'
      ELSE 'outbound_event'
    END AS event_name,
    CASE WHEN event_id % 10 = 7 THEN NULL ELSE event_id END AS ext_id,
    CASE WHEN event_id % 10 = 7 THEN 'uuid-' || CAST(event_id AS VARCHAR) END AS uuid_v4,
    CASE WHEN event_type = 'click'
         THEN CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0 THEN 2 ELSE 1 END
    END AS direction,
    CASE WHEN event_type = 'click'
           THEN CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 = 0 THEN 1 ELSE 2 END
         WHEN event_type = 'error' THEN 9
    END AS type_code,
    CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 23 = 0 THEN NULL
         WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S')
    END AS created_at_raw,
    CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END AS owner_id,
    CASE WHEN user_id = 0 THEN NULL ELSE user_id END AS user_id,
    CASE WHEN user_id % 7 = 6 THEN NULL
         WHEN user_id % 9 = 8 THEN 'Mars/Olympus'
         ELSE ['UTC','America/New_York','America/Los_Angeles','Europe/Berlin','Asia/Tokyo'][(user_id % 5) + 1]
    END AS tz,
    ts + INTERVAL 1 HOUR AS receivedAt
  FROM events
)
""".strip()

# Adapter pipeline in SQL (mirror of functions/adapter.py normalize_webhooks):
# outbound gate → metric gate → field derivations. The valid-zone list is
# generated from the SAME source as the engine (adapter.KNOWN_TIMEZONES =
# zoneinfo.available_timezones()) so both sides accept every valid IANA zone
# and fall back to UTC for anything else, byte-identically.
from ..functions.adapter import (
    KNOWN_TIMEZONES,
    timestamp_family_sql,
)

_KNOWN_TZ_SQL = "(" + ",".join(f"'{z}'" for z in KNOWN_TIMEZONES) + ")"

# The pinned timestamp family, rendered once for the adapter CTE (generated
# from functions.adapter.TIMESTAMP_FAMILY — the Spark expression and this SQL
# can only change together).
_TS_FAMILY_SQL = ",\n      ".join(timestamp_family_sql("created_at_raw"))

NORMALIZED_CTE = f"""
{WEBHOOKS_CTE},
adapter AS (
  SELECT *,
    CASE
      WHEN lower(coalesce(event_name,'')) LIKE '%outbound%'
        OR lower(coalesce(event_name,'')) LIKE '%outgoing%' THEN TRUE
      WHEN lower(coalesce(event_name,'')) LIKE '%inbound%' THEN FALSE
      WHEN direction = 2 THEN TRUE
      WHEN direction = 1 THEN FALSE
      ELSE FALSE
    END AS is_outbound,
    CASE
      WHEN lower(coalesce(event_name,'')) LIKE '%text%'
        OR lower(coalesce(event_name,'')) LIKE '%sms%'
        OR type_code = 2 THEN 'TEXTS'
      WHEN lower(coalesce(event_name,'')) LIKE '%call%'
        OR type_code = 1 THEN 'CALLS'
    END AS MetricID,
    coalesce(
      @TS_FAMILY@,
      receivedAt
    ) AS event_ts,
    coalesce(CAST(owner_id AS VARCHAR), CAST(user_id AS VARCHAR), 'unknown') AS AgentID,
    CASE WHEN tz IN {_KNOWN_TZ_SQL} THEN tz ELSE 'UTC' END AS tz_eff
  FROM webhooks
),
normalized AS (
  SELECT
    'ALOWARE:' || coalesce(CAST(ext_id AS VARCHAR), uuid_v4,
                           CAST(epoch_ms(receivedAt) AS VARCHAR)) AS EventID,
    AgentID,
    strftime(timezone(tz_eff, timezone('UTC', event_ts)), '%Y-%m-%d') AS FactDateKey,
    MetricID,
    concat_ws(';',
      CASE WHEN event_name IS NOT NULL THEN 'event=' || event_name END,
      CASE WHEN tz IS NOT NULL THEN 'tz=' || tz END,
      CASE WHEN (owner_id IS NULL OR owner_id = 0)
            AND (user_id IS NULL OR user_id = 0) THEN 'agent=unknown' END
    ) AS Notes,
    event_ts AS EventTime
  FROM adapter
  WHERE is_outbound AND MetricID IS NOT NULL
)
""".strip().replace("@TS_FAMILY@", _TS_FAMILY_SQL)
