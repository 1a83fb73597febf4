"""Registry of engine queries + DuckDB oracles (driver contract).

Each entry: name → callable(spark, sf_dir) -> DataFrame, plus a matching ANSI
SQL string in ``ORACLES`` that DuckDB runs over the same parquet views. Column
names/aliases match exactly; float outputs are rounded (or routed through
DECIMAL) so order-insensitive value-hashes agree across engines.

Reference-parity queries map SURVEY.md §2 operators onto the driver's
synthetic tables via ``sources/webhook_mapping.py``; TPC-H-shaped queries
exercise the same join/agg machinery at bench scale; extension queries cover
the north-star LLM-data ops.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import text as T
from ..functions.adapter import normalize_webhooks, timestamp_family_sql
from ..operators import dedup, gates, rollups, similarity, skew, star
from ..operators.materialize import pin
from ..sources.readers import load_table
from ..sources.webhook_mapping import (
    LEDGER_TTL_DAYS,
    NORMALIZED_CTE,
    NOW_ANCHOR,
    NOW_ANCHOR_DATE,
    NOW_EPOCH,
    WEBHOOKS_CTE,
    _KNOWN_TZ_SQL,
    events_as_webhooks,
)

Query = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Query] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: Query) -> Query:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Analyzed-plan memo for the shared adapter CTE (r14): ~30 registry queries
# construct this exact subtree, and each construction costs ~1.2 s of pure
# DRIVER analysis (the 600-literal tz INSET + 7-format timestamp family are
# re-analyzed per transformation). Like readers._TABLE_PLAN_CACHE this holds
# only the LAZY analyzed plan — a prepared view, no data; every action
# re-executes the full scan→normalize pipeline from parquet. Spark marks
# resolved subtrees analyzed, so queries building on the memoized frame skip
# re-analysis of the whole chain (measured: follow-up filter+groupBy
# constructs in ~0.03 s).
_FACT_PLAN_CACHE: dict[tuple[str, str], DataFrame] = {}


def normalized_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet → webhook shape → adapter pipeline (P1-P12)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _FACT_PLAN_CACHE.get(key)
    if df is None:
        df = normalize_webhooks(
            events_as_webhooks(load_table(spark, sf_dir, "events"))
        )
        _FACT_PLAN_CACHE[key] = df
    return df


# =========================================================================== #
# Reference parity — ingest pipeline
# =========================================================================== #

@register(
    "adapter_normalize",
    f"WITH {NORMALIZED_CTE} SELECT EventID, AgentID, FactDateKey, MetricID, Notes FROM normalized",
)
def q_adapter_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P12: full adapter projection (outbound gate, metric classifier, tz
    business date, deterministic ids, notes)."""
    return normalized_fact(spark, sf_dir).drop("EventTime")


@register(
    "fact_error_log",
    f"""
WITH {WEBHOOKS_CTE},
flags AS (
  SELECT
    'ALOWARE:' || coalesce(CAST(ext_id AS VARCHAR), uuid_v4,
                           CAST(epoch_ms(receivedAt) AS VARCHAR)) AS EventID,
    source,
    strftime(receivedAt, '%Y-%m-%d') AS received_date,
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
    created_at_raw IS NOT NULL AND @PARSE_FAILED@ AS parse_failed,
    tz IS NOT NULL AND tz NOT IN {{KNOWN_TZ}} AS bad_tz,
    owner_id IS NULL AND user_id IS NULL AS agent_unknown
  FROM webhooks
)
SELECT EventID, source, 'NOT_OUTBOUND' AS error_code, 'ERROR' AS severity, received_date
FROM flags WHERE NOT is_outbound
UNION ALL
SELECT EventID, source, 'UNCLASSIFIED_METRIC', 'ERROR', received_date
FROM flags WHERE is_outbound AND MetricID IS NULL
UNION ALL
SELECT EventID, source, 'BAD_TIMESTAMP', 'WARN', received_date
FROM flags WHERE parse_failed
UNION ALL
SELECT EventID, source, 'BAD_TIMEZONE', 'WARN', received_date
FROM flags WHERE bad_tz
UNION ALL
SELECT EventID, source, 'AGENT_UNKNOWN', 'WARN', received_date
FROM flags WHERE agent_unknown
""".replace("{KNOWN_TZ}", _KNOWN_TZ_SQL).replace(
        # Generated from the SAME pinned family as the Spark predicate
        # (functions/adapter.py TIMESTAMP_FAMILY) — token-replaced, never
        # str.format (the guard regexes contain {} braces).
        "@PARSE_FAILED@",
        " AND ".join(
            f"({e}) IS NULL" for e in timestamp_family_sql("created_at_raw")
        ),
    ),
)
def q_fact_error_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FactErrorLog dead-letter routing (operators/errors.py): one row per
    (event, error/warn code) for every webhook the adapter drops or
    degrades — the ingestion-error table the reference leaves as an open
    question (schema design doc §9.4)."""
    from ..operators.errors import route_dead_letters

    return route_dead_letters(
        events_as_webhooks(load_table(spark, sf_dir, "events"))
    )


@register(
    "within_batch_dedup",
    f"""
WITH {NORMALIZED_CTE}
SELECT EventID, AgentID, FactDateKey, MetricID FROM (
  SELECT EventID, AgentID, FactDateKey, MetricID,
         row_number() OVER (PARTITION BY AgentID, FactDateKey, MetricID
                            ORDER BY EventTime, EventID) AS rn
  FROM normalized
) WHERE rn = 1
""",
)
def q_within_batch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 keep-FIRST dedup (idempotency.ts:7-16) on the (agent, date, metric)
    key, arrival order = (EventTime, EventID)."""
    fact = normalized_fact(spark, sf_dir)
    kept = dedup.keep_first(
        fact,
        ["AgentID", "FactDateKey", "MetricID"],
        [F.col("EventTime"), F.col("EventID")],
    )
    return kept.select("EventID", "AgentID", "FactDateKey", "MetricID")


_LEDGER_CTE = f"""
ledger AS (
  SELECT EventID AS pk,
         EventTime AS seenAt,
         CAST(floor(epoch(EventTime)) AS BIGINT) + 14*86400 AS expiresAt
  FROM normalized
  WHERE EventTime < TIMESTAMP '2024-01-10 00:00:00'
)
""".strip()


@register(
    "ledger_gate",
    f"""
WITH {NORMALIZED_CTE}, {_LEDGER_CTE}
SELECT n.EventID, n.AgentID, n.FactDateKey, n.MetricID
FROM normalized n
WHERE n.EventID NOT IN (
  SELECT pk FROM ledger
  WHERE expiresAt >= CAST(epoch(TIMESTAMP '{NOW_ANCHOR}') AS BIGINT)
)
""",
)
def q_ledger_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+D3: cross-request dedup as a TTL-pruned left-anti join. The ledger
    is a synthetic prior run: every event seen before 2024-01-10; entries seen
    before 2024-01-06 have expired at the 2024-01-20 anchor (14-day TTL) so
    they no longer block."""
    fact = normalized_fact(spark, sf_dir).withColumnRenamed("EventID", "dedup_key")
    ledger = _synthetic_ledger(fact, "dedup_key")
    survivors = dedup.ledger_gate(fact, ledger, key_col="dedup_key", now_epoch=NOW_EPOCH)
    return survivors.select(
        F.col("dedup_key").alias("EventID"), "AgentID", "FactDateKey", "MetricID"
    )


@register(
    "ledger_gate_bloom",
    f"""
WITH {NORMALIZED_CTE}, {_LEDGER_CTE}
SELECT n.EventID, n.AgentID, n.FactDateKey, n.MetricID
FROM normalized n
WHERE n.EventID NOT IN (
  SELECT pk FROM ledger
  WHERE expiresAt >= CAST(epoch(TIMESTAMP '{NOW_ANCHOR}') AS BIGINT)
)
""",
)
def q_ledger_gate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 with the Bloom pre-filter (operators/dedup.ledger_gate_bloom):
    identical output to ledger_gate — the Bloom stage only decides which
    events must visit the exact anti-join — so it shares ledger_gate's
    oracle verbatim. The scan-reduction path for 100 TB batches against a
    TTL-bounded ledger.

    Expected cost shape: at bench scale this runs SLOWER than ledger_gate
    (~2x) because the tiny ledger broadcasts anyway and the bitmap build +
    second event pass are pure overhead; the crossover is where the ledger
    outgrows the broadcast threshold and the exact gate's anti-join becomes
    a full shuffle of the event batch — then only the duplicate+fpp sliver
    shuffles here. The normalize pass is pinned: it feeds the bitmap build,
    both bloom branches, and the synthetic-ledger side (4 consumers)."""
    fact = pin(
        normalized_fact(spark, sf_dir).withColumnRenamed("EventID", "dedup_key")
    )
    survivors = dedup.ledger_gate_bloom(
        fact,
        _synthetic_ledger(fact, "dedup_key"),
        key_col="dedup_key",
        now_epoch=NOW_EPOCH,
    )
    return survivors.select(
        F.col("dedup_key").alias("EventID"), "AgentID", "FactDateKey", "MetricID"
    )


@register(
    "roster_gate",
    f"""
WITH {NORMALIZED_CTE}
SELECT EventID, AgentID, FactDateKey, MetricID
FROM normalized
WHERE AgentID IN (
  SELECT DISTINCT AgentID FROM normalized
  WHERE try_cast(AgentID AS BIGINT) IS NOT NULL AND try_cast(AgentID AS BIGINT) % 3 != 0
)
""",
)
def q_roster_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 roster allow-list semi-join (orchestrator.ts:45-69). The synthetic
    ring group contains agents whose numeric id is not divisible by 3
    ('unknown' is off-roster)."""
    fact = normalized_fact(spark, sf_dir)
    return gates.roster_gate(fact, _synthetic_roster(spark, sf_dir)).select(
        "EventID", "AgentID", "FactDateKey", "MetricID"
    )


def _synthetic_ledger(fact: DataFrame, key_col: str) -> DataFrame:
    """The ledger of a synthetic prior run: every event seen before
    2024-01-10, each entry live for ``LEDGER_TTL_DAYS`` from its event time
    (the oracles' ``_LEDGER_CTE``)."""
    return fact.filter(
        F.col("EventTime") < F.lit("2024-01-10 00:00:00").cast("timestamp")
    ).select(
        F.col(key_col).alias("pk"),
        F.col("EventTime").alias("seenAt"),
        (F.unix_timestamp("EventTime") + LEDGER_TTL_DAYS * 86400).alias("expiresAt"),
    )


def _synthetic_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bench ring-group roster (numeric agent ids not divisible by 3),
    derived from the RAW webhook projection instead of a second full adapter
    chain (r14, same superset argument as events_in_shift: AgentID needs only
    owner_id/user_id; the outbound/metric gates only DROP rows, so the raw
    agent universe is a superset of the normalized one — and a semi-join
    against a roster built from any superset of the fact's own agents keeps
    exactly the rows satisfying the roster predicate, row-identical to the
    old fact-derived roster; oracle unchanged, verified)."""
    from ..functions import adapter

    wh = events_as_webhooks(load_table(spark, sf_dir, "events"))
    return (
        wh.select(
            adapter.agent_id(F.col("owner_id"), F.col("user_id")).alias("AgentID")
        )
        .distinct()
        .withColumn("num", F.expr("try_cast(AgentID AS BIGINT)"))
        .filter(F.col("num").isNotNull() & (F.col("num") % 3 != 0))
        .select("AgentID")
    )


@register(
    "run_counters",
    f"""
WITH {NORMALIZED_CTE}
SELECT (SELECT count(*) FROM normalized) AS processed,
       (SELECT count(*) FROM normalized
        WHERE AgentID IN (SELECT DISTINCT AgentID FROM normalized
                          WHERE try_cast(AgentID AS BIGINT) IS NOT NULL
                            AND try_cast(AgentID AS BIGINT) % 3 != 0)) AS posted
""",
)
def q_run_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 run counters {processed, posted} (orchestrator.ts:87-89): processed
    = adapter survivors, posted = after the roster gate."""
    fact = normalized_fact(spark, sf_dir)
    posted = gates.roster_gate(fact, _synthetic_roster(spark, sf_dir))
    return rollups.run_counters(fact, posted)


@register(
    "dim_hints",
    f"""
WITH {NORMALIZED_CTE}
SELECT 'agent' AS hint_type, AgentID AS hint_value FROM normalized GROUP BY AgentID
UNION ALL
SELECT 'date', FactDateKey FROM normalized GROUP BY FactDateKey
UNION ALL
SELECT 'metric', MetricID FROM normalized GROUP BY MetricID
""",
)
def q_dim_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 dim-hints rebuild (orchestrator.ts:80-85) as (hint_type, hint_value)
    rows — the distinct FK values the surviving batch references."""
    fact = normalized_fact(spark, sf_dir)
    out = None
    for hint_type, col in (("agent", "AgentID"), ("date", "FactDateKey"), ("metric", "MetricID")):
        part = fact.select(
            F.lit(hint_type).alias("hint_type"), F.col(col).alias("hint_value")
        ).distinct()
        out = part if out is None else out.unionAll(part)
    return out


@register(
    "hubspot_stub",
    """
SELECT 'HUBSPOT:' || CAST(event_id AS VARCHAR) AS EventID,
       'unknown' AS AgentID,
       strftime(ts + INTERVAL 1 HOUR, '%Y-%m-%d') AS FactDateKey,
       'EMAILS' AS MetricID,
       'hubspot placeholder' AS Notes
FROM events
""",
)
def q_hubspot_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 HubSpot adapter stub (hubspot.adapter.ts:3-30): one placeholder
    EMAILS row per envelope, dateKey = iso.slice(0,10) of receivedAt."""
    from ..functions.adapter import hubspot_placeholder

    env = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("ext_id"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("receivedAt"),
    )
    return hubspot_placeholder(env)


@register(
    "ledger_update",
    f"""
WITH {NORMALIZED_CTE}, {_LEDGER_CTE}
SELECT n.EventID AS pk,
       strftime(min(n.EventTime), '%Y-%m-%d %H:%M:%S') AS seenAt,
       CAST(epoch(TIMESTAMP '{NOW_ANCHOR}') AS BIGINT) + 14*86400 AS expiresAt
FROM normalized n
WHERE n.EventID NOT IN (
  SELECT pk FROM ledger
  WHERE expiresAt >= CAST(epoch(TIMESTAMP '{NOW_ANCHOR}') AS BIGINT)
)
GROUP BY n.EventID
""",
)
def q_ledger_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 ledger append side: the (pk, seenAt, expiresAt) rows written for
    events that passed the gate — the conditional-write marking of
    ledger.repo.ts:5-35 as a set operation. ``expiresAt`` is processing
    time + TTL, the rule of ``sinks.check_and_mark`` (the engine's one
    ledger write): a claim protects for ``LEDGER_TTL_DAYS`` from when it
    was made, not from its event time."""
    fact = normalized_fact(spark, sf_dir).withColumnRenamed("EventID", "dedup_key")
    ledger = _synthetic_ledger(fact, "dedup_key")
    survivors = dedup.ledger_gate(fact, ledger, key_col="dedup_key", now_epoch=NOW_EPOCH)
    # keep-first arrival per key, then derive the ledger row
    entries = survivors.groupBy("dedup_key").agg(F.min("EventTime").alias("EventTime"))
    return entries.select(
        F.col("dedup_key").alias("pk"),
        F.date_format("EventTime", "yyyy-MM-dd HH:mm:ss").alias("seenAt"),
        F.lit(NOW_EPOCH + LEDGER_TTL_DAYS * 86400).cast("long").alias("expiresAt"),
    )


@register(
    "ingest_pipeline_full",
    f"""
WITH {NORMALIZED_CTE}, {_LEDGER_CTE},
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY EventID ORDER BY EventTime, Notes) AS rn
    FROM normalized
  ) WHERE rn = 1
),
gated AS (
  SELECT * FROM kept
  WHERE EventID NOT IN (
    SELECT pk FROM ledger
    WHERE expiresAt >= CAST(epoch(TIMESTAMP '{NOW_ANCHOR}') AS BIGINT)
  )
  AND AgentID IN (
    SELECT DISTINCT AgentID FROM normalized
    WHERE try_cast(AgentID AS BIGINT) IS NOT NULL AND try_cast(AgentID AS BIGINT) % 3 != 0
  )
),
daily AS (
  SELECT AgentID, FactDateKey, MetricID, count(*) AS EventCount
  FROM gated GROUP BY AgentID, FactDateKey, MetricID
)
SELECT d.AgentID, d.FactDateKey, d.MetricID, d.EventCount,
       round(d.EventCount / CAST(m.DefaultGoal AS DOUBLE), 6) AS GoalPct
FROM daily d
JOIN (VALUES ('CALLS', 50), ('TEXTS', 45), ('EMAILS', 20), ('CASES', 5)) AS m(MetricID, DefaultGoal)
  ON d.MetricID = m.MetricID
""",
)
def q_ingest_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's §3.1 query lifecycle end-to-end as ONE declarative
    plan: adapter normalize (P1-P12) → D1 keep-first dedup on EventID →
    D3 TTL ledger anti-join → D4 roster semi-join → A3 daily rollup →
    A4 goal join. Catalyst sees the whole chain: filters reach the scan, the
    dims broadcast, and the only wide shuffles are the dedup window and the
    final rollup."""
    # The fact feeds three branches (dedup, the synthetic ledger, the
    # synthetic roster); materialize the one normalize pass instead of paying
    # the expression-heavy adapter chain 3×. pin() releases its blocks on GC
    # instead of holding them for the whole session. In production the
    # ledger/roster are separate small tables and no cache is needed.
    fact = pin(normalized_fact(spark, sf_dir))
    kept = dedup.keep_first(fact, ["EventID"], [F.col("EventTime"), F.col("Notes")])
    gated = dedup.ledger_gate(
        kept.withColumnRenamed("EventID", "dedup_key"),
        _synthetic_ledger(fact, "EventID"),
        now_epoch=NOW_EPOCH,
    ).withColumnRenamed("dedup_key", "EventID")
    roster = (
        fact.select("AgentID")
        .distinct()
        .withColumn("num", F.expr("try_cast(AgentID AS BIGINT)"))
        .filter(F.col("num").isNotNull() & (F.col("num") % 3 != 0))
        .select("AgentID")
    )
    gated = gates.roster_gate(gated, roster)
    daily = rollups.daily_rollup(gated)
    return rollups.goal_attainment(daily, star.build_dim_metric(spark)).drop(
        "DefaultGoal"
    )


@register(
    "time_filter_today",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID, count(*) AS EventCount
FROM normalized
WHERE FactDateKey = '{NOW_ANCHOR_DATE}'
GROUP BY MetricID
""",
)
def q_time_filter_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 'Today' filter + metric rollup."""
    fact = normalized_fact(spark, sf_dir)
    anchor = F.to_date(F.lit(NOW_ANCHOR_DATE))
    return (
        fact.filter(rollups.time_filter(F.col("FactDateKey"), "today", anchor))
        .groupBy("MetricID")
        .agg(F.count("*").alias("EventCount"))
    )


# =========================================================================== #
# Reference parity — analytic layer (the "DAX" contract)
# =========================================================================== #

_DIM_METRIC_SQL = """
dim_metric AS (
  SELECT * FROM (VALUES
    ('CALLS', 'Outbound Calls', 50, 0.85),
    ('TEXTS', 'Outbound Texts', 45, 0.85),
    ('EMAILS', 'Emails Sent', 20, 0.85),
    ('CASES', 'Cases Created', 5, 0.85)
  ) AS t(MetricID, MetricName, DefaultGoal, DefaultYellowFloorPct)
)
""".strip()


@register(
    "daily_rollup",
    f"""
WITH {NORMALIZED_CTE}
SELECT AgentID, FactDateKey, MetricID, count(*) AS EventCount
FROM normalized GROUP BY AgentID, FactDateKey, MetricID
""",
)
def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 FactDailyMetric: events per (agent, local date, metric) — the core
    dashboard rollup the reference delegates to DAX."""
    return rollups.daily_rollup(normalized_fact(spark, sf_dir))


@register(
    "salted_metric_rollup",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID, count(*) AS EventCount
FROM normalized GROUP BY MetricID
""",
)
def q_salted_metric_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 rollup over the 2-value MetricID key via two-phase salted
    aggregation (operators/skew.py). MetricID is the engine's most extreme
    hot key — the whole fact table lands on two reduce groups — so this is
    the shape where a single reducer's state overwhelms one task at 100 TB.
    Result is identical to the plain groupBy (oracle checks it); the salt
    only spreads reduce-side load."""
    return skew.salted_agg_count(
        normalized_fact(spark, sf_dir),
        ["MetricID"],
        buckets=32,
        count_alias="EventCount",
    )


@register(
    "goal_attainment",
    f"""
WITH {NORMALIZED_CTE}, {_DIM_METRIC_SQL},
daily AS (
  SELECT AgentID, FactDateKey, MetricID, count(*) AS EventCount
  FROM normalized GROUP BY AgentID, FactDateKey, MetricID
)
SELECT d.AgentID, d.FactDateKey, d.MetricID, d.EventCount,
       CAST(m.DefaultGoal AS BIGINT) AS DefaultGoal,
       round(d.EventCount / CAST(m.DefaultGoal AS DOUBLE), 6) AS GoalPct
FROM daily d JOIN dim_metric m USING (MetricID)
""",
)
def q_goal_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 goal attainment: EventCount / DimMetric.DefaultGoal
    (schema doc:158-161)."""
    daily = rollups.daily_rollup(normalized_fact(spark, sf_dir))
    return rollups.goal_attainment(daily, star.build_dim_metric(spark))


@register(
    "pace_color",
    f"""
WITH {NORMALIZED_CTE}, {_DIM_METRIC_SQL},
daily AS (
  SELECT AgentID, FactDateKey, MetricID, count(*) AS EventCount
  FROM normalized GROUP BY AgentID, FactDateKey, MetricID
),
att AS (
  SELECT d.*, round(d.EventCount / CAST(m.DefaultGoal AS DOUBLE), 6) AS GoalPct,
         m.DefaultYellowFloorPct
  FROM daily d JOIN dim_metric m USING (MetricID)
),
paced AS (
  SELECT *,
    round(least(greatest(
      (CAST(epoch(TIMESTAMP '{NOW_ANCHOR}') AS BIGINT)
       - CAST(epoch(strptime(FactDateKey, '%Y-%m-%d') + INTERVAL 9 HOUR) AS BIGINT))
      / (8*3600.0), 0.0), 1.0), 6) AS ShiftElapsedPct
  FROM att
)
SELECT AgentID, FactDateKey, MetricID, EventCount, GoalPct, ShiftElapsedPct,
  CASE WHEN GoalPct >= ShiftElapsedPct THEN 'GREEN'
       WHEN GoalPct >= ShiftElapsedPct * DefaultYellowFloorPct THEN 'YELLOW'
       ELSE 'RED' END AS Color
FROM paced
""",
)
def q_pace_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+A6: shift-elapsed pace vs goal attainment, classified GREEN/YELLOW/
    RED (schema doc:152-161). DimShift rows (09:00-17:00 local, composite
    (AgentID, LocalDate) key) are joined broadcast; 'now' is the fixed
    2024-01-20 12:00 anchor so the query is deterministic."""
    fact = normalized_fact(spark, sf_dir)
    # The rollup is reused twice (attainment + the shift-dim agent list);
    # materialize the few-thousand-row aggregate (GC-released by default)
    # instead of re-normalizing 100% of the fact scan for the second branch.
    daily = pin(rollups.daily_rollup(fact))
    dim_metric = star.build_dim_metric(spark)
    att = daily.join(broadcast(dim_metric), "MetricID").select(
        "AgentID",
        "FactDateKey",
        "MetricID",
        "EventCount",
        F.round(F.col("EventCount") / F.col("DefaultGoal"), 6).alias("GoalPct"),
        "DefaultYellowFloorPct",
    )
    dates = rollups.build_dim_date(spark, "2023-12-01", "2024-02-29")
    agents = daily.select("AgentID").distinct()
    dim_shift = star.build_dim_shift(agents, dates, start_hour=9, shift_hours=8)
    now_local = F.to_timestamp(F.lit(NOW_ANCHOR))
    joined = att.alias("a").join(
        broadcast(dim_shift.alias("s")),
        on=[
            F.col("a.AgentID") == F.col("s.AgentID"),
            F.col("a.FactDateKey") == F.date_format(F.col("s.LocalDate"), "yyyy-MM-dd"),
        ],
        how="left",
    )
    elapsed = rollups.shift_elapsed_pct(
        now_local, F.col("s.ShiftStartLocal"), F.col("s.ShiftEndLocal")
    )
    return joined.select(
        F.col("a.AgentID").alias("AgentID"),
        "FactDateKey",
        "MetricID",
        "EventCount",
        "GoalPct",
        elapsed.alias("ShiftElapsedPct"),
        rollups.color_class(
            F.col("GoalPct"), elapsed, F.col("DefaultYellowFloorPct")
        ).alias("Color"),
    )


@register(
    "dim_date_seed",
    """
SELECT strftime(d, '%Y-%m-%d') AS DateKey,
       CAST(year(d) AS BIGINT) AS Year,
       CAST(month(d) AS BIGINT) AS Month,
       CAST(day(d) AS BIGINT) AS Day,
       monthname(d) AS MonthName,
       CAST(quarter(d) AS BIGINT) AS Quarter,
       CAST(isodow(d) AS BIGINT) AS DayOfWeek,
       dayname(d) AS DayName,
       isodow(d) >= 6 AS IsWeekend
FROM (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY))::DATE AS d)
""",
)
def q_dim_date_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/C4 calendar generation + DimDate seed workflow (schema doc:92-106,
    src_architecture_proposal.md:92-94): one row per 2024 day, DayOfWeek
    1=Mon..7=Sun, distributed sequence+explode."""
    return rollups.build_dim_date(spark, "2024-01-01", "2024-12-31").drop("Date")


@register(
    "time_filter_this_week",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID, count(*) AS EventCount
FROM normalized
WHERE strptime(FactDateKey, '%Y-%m-%d')::DATE
      BETWEEN DATE '{NOW_ANCHOR_DATE}' - CAST(isodow(DATE '{NOW_ANCHOR_DATE}') - 1 AS INTEGER)
          AND DATE '{NOW_ANCHOR_DATE}'
GROUP BY MetricID
""",
)
def q_time_filter_this_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 'This Week' (ISO Mon..anchor) relative filter + metric rollup."""
    fact = normalized_fact(spark, sf_dir)
    anchor = F.to_date(F.lit(NOW_ANCHOR_DATE))
    return (
        fact.filter(rollups.time_filter(F.col("FactDateKey"), "this_week", anchor))
        .groupBy("MetricID")
        .agg(F.count("*").alias("EventCount"))
    )


@register(
    "time_filter_last_month",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID, count(*) AS EventCount
FROM normalized
WHERE strptime(FactDateKey, '%Y-%m-%d')::DATE >= date_trunc('month', DATE '{NOW_ANCHOR_DATE}') - INTERVAL 1 MONTH
  AND strptime(FactDateKey, '%Y-%m-%d')::DATE < date_trunc('month', DATE '{NOW_ANCHOR_DATE}')
GROUP BY MetricID
""",
)
def q_time_filter_last_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 'Last Month' filter — catches the tz-shifted 2023-12-31 business
    dates (per-row timezone semantics feeding the filter layer)."""
    fact = normalized_fact(spark, sf_dir)
    anchor = F.to_date(F.lit(NOW_ANCHOR_DATE))
    return (
        fact.filter(rollups.time_filter(F.col("FactDateKey"), "last_month", anchor))
        .groupBy("MetricID")
        .agg(F.count("*").alias("EventCount"))
    )


@register(
    "time_filter_yesterday",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID, count(*) AS EventCount
FROM normalized
WHERE FactDateKey = strftime(DATE '{NOW_ANCHOR_DATE}' - INTERVAL 1 DAY, '%Y-%m-%d')
GROUP BY MetricID
""",
)
def q_time_filter_yesterday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 'Yesterday' filter + metric rollup."""
    fact = normalized_fact(spark, sf_dir)
    anchor = F.to_date(F.lit(NOW_ANCHOR_DATE))
    return (
        fact.filter(rollups.time_filter(F.col("FactDateKey"), "yesterday", anchor))
        .groupBy("MetricID")
        .agg(F.count("*").alias("EventCount"))
    )


@register(
    "time_filter_last_week",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID, count(*) AS EventCount
FROM normalized
WHERE strptime(FactDateKey, '%Y-%m-%d')::DATE
      >= DATE '{NOW_ANCHOR_DATE}' - CAST(isodow(DATE '{NOW_ANCHOR_DATE}') - 1 AS INTEGER) - 7
  AND strptime(FactDateKey, '%Y-%m-%d')::DATE
      <  DATE '{NOW_ANCHOR_DATE}' - CAST(isodow(DATE '{NOW_ANCHOR_DATE}') - 1 AS INTEGER)
GROUP BY MetricID
""",
)
def q_time_filter_last_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 'Last Week' (previous ISO Mon-Sun) filter + metric rollup."""
    fact = normalized_fact(spark, sf_dir)
    anchor = F.to_date(F.lit(NOW_ANCHOR_DATE))
    return (
        fact.filter(rollups.time_filter(F.col("FactDateKey"), "last_week", anchor))
        .groupBy("MetricID")
        .agg(F.count("*").alias("EventCount"))
    )


@register(
    "time_filter_this_month",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID, count(*) AS EventCount
FROM normalized
WHERE strptime(FactDateKey, '%Y-%m-%d')::DATE >= date_trunc('month', DATE '{NOW_ANCHOR_DATE}')
  AND strptime(FactDateKey, '%Y-%m-%d')::DATE <= DATE '{NOW_ANCHOR_DATE}'
GROUP BY MetricID
""",
)
def q_time_filter_this_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 'This Month' (month start..anchor) filter + metric rollup —
    completes the six relative presets."""
    fact = normalized_fact(spark, sf_dir)
    anchor = F.to_date(F.lit(NOW_ANCHOR_DATE))
    return (
        fact.filter(rollups.time_filter(F.col("FactDateKey"), "this_month", anchor))
        .groupBy("MetricID")
        .agg(F.count("*").alias("EventCount"))
    )


@register(
    "time_filter_custom_range",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID, count(*) AS EventCount
FROM normalized
WHERE FactDateKey >= '2024-01-08' AND FactDateKey <= '2024-01-12'
GROUP BY MetricID
""",
)
def q_time_filter_custom_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 'Custom' range: inclusive [start, end] on the business-date key —
    the seventh filter mode from the dashboard spec. String comparison on
    yyyy-MM-dd keys stays partition-prunable at the scan."""
    fact = normalized_fact(spark, sf_dir)
    return (
        fact.filter(
            rollups.custom_time_filter(F.col("FactDateKey"), "2024-01-08", "2024-01-12")
        )
        .groupBy("MetricID")
        .agg(F.count("*").alias("EventCount"))
    )


@register("approx_distinct_agents")  # HLL sketch — engine-native, rows-only
def q_approx_distinct_agents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting (HyperLogLog++): distinct agents per
    metric with bounded error and O(1) state — the sketch path a 100 TB
    dashboard uses instead of exact distincts (extension surface, SURVEY
    §2.5 'no approximate aggregates in the reference'). Sketch-ONLY: the
    exact side lives in approx_distinct_agents_check (the oracle-backed
    error contract), so the production query never pays the exact
    distinct's expand + second shuffle."""
    fact = normalized_fact(spark, sf_dir)
    return fact.groupBy("MetricID").agg(
        F.approx_count_distinct("AgentID", 0.01).alias("approx_agents"),
    )


@register(
    "approx_distinct_agents_check",
    f"""
WITH {NORMALIZED_CTE}
SELECT MetricID,
       CAST(count(DISTINCT AgentID) AS BIGINT) AS exact_agents,
       TRUE AS err_ok
FROM normalized GROUP BY MetricID
""",
)
def q_approx_distinct_agents_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-bound contract for the HLL sketch (same pattern as
    ann_ivf_recall): exact distinct agents per metric is oracle-verified, and
    ``err_ok`` asserts the HyperLogLog++ estimate (rsd 0.01) lands within 5%
    relative error of the exact count — so a sketch regression flips the
    boolean and fails the driver's hash check instead of hiding in the
    rows-only tier.

    Shape (r14 optimization, guide §2.3 "aggregate before you shuffle"):
    dedup (MetricID, AgentID) first, then BOTH aggregates over the distinct
    set. The previous single-pass groupBy carried
    ``partial_approx_count_distinct`` through Spark's count-distinct rewrite
    at the (MetricID, AgentID) grouping level — one ~16 KB rsd-0.01 HLL
    sketch PER AGENT GROUP, thousands of sketches of pure allocation/merge
    overhead (measured: 54 s of task runTime in that stage at sf0.1; 2×
    whole-query win from this change, plan in plans/r14). HLL insertion is
    idempotent over duplicates, so the sketch built from the distinct set is
    bit-identical to the one built from the multiset — same estimate, same
    err_ok, oracle-verified unchanged; exact_agents = count(*) over the
    dedup groups. Same two exchanges; sketch state now exists only at the
    per-metric grouping (a handful of groups)."""
    fact = normalized_fact(spark, sf_dir)
    dedup = fact.select("MetricID", "AgentID").distinct()
    agged = dedup.groupBy("MetricID").agg(
        F.count("*").alias("exact_agents"),
        F.approx_count_distinct("AgentID", 0.01).alias("_approx_agents"),
    )
    return agged.select(
        "MetricID",
        "exact_agents",
        (
            F.abs(F.col("_approx_agents") - F.col("exact_agents"))
            / F.col("exact_agents")
            <= 0.05
        ).alias("err_ok"),
    )


@register(
    "star_join_enriched",
    f"""
WITH {NORMALIZED_CTE}, {_DIM_METRIC_SQL}
SELECT n.EventID, n.AgentID, n.FactDateKey,
       m.MetricName, CAST(m.DefaultGoal AS BIGINT) AS DefaultGoal,
       CAST(year(strptime(n.FactDateKey, '%Y-%m-%d')) AS BIGINT) AS Year,
       CAST(month(strptime(n.FactDateKey, '%Y-%m-%d')) AS BIGINT) AS Month,
       CAST(isodow(strptime(n.FactDateKey, '%Y-%m-%d')) AS BIGINT) AS DayOfWeek,
       isodow(strptime(n.FactDateKey, '%Y-%m-%d')) >= 6 AS IsWeekend
FROM normalized n JOIN dim_metric m USING (MetricID)
""",
)
def q_star_join_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 star joins: fact → DimMetric + DimDate attributes, both broadcast
    (schema doc:27-35)."""
    fact = normalized_fact(spark, sf_dir)
    dim_metric = star.build_dim_metric(spark)
    dim_date = rollups.build_dim_date(spark, "2023-12-01", "2024-02-29")
    joined = star.star_join(fact, dim_metric=dim_metric, dim_date=dim_date)
    return joined.select(
        "EventID",
        "AgentID",
        "FactDateKey",
        "MetricName",
        "DefaultGoal",
        "Year",
        "Month",
        "DayOfWeek",
        "IsWeekend",
    )


@register(
    "ensure_dims_missing_dates",
    f"""
WITH {NORMALIZED_CTE}
SELECT DISTINCT FactDateKey AS DateKey FROM normalized
WHERE FactDateKey NOT IN (
  SELECT strftime(unnest(generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY)), '%Y-%m-%d')
)
""",
)
def q_ensure_dims_missing_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 ensure-dims: date keys referenced by the batch but absent from the
    seeded 2024 calendar (the tz-shifted 2023-12-31 rows) — the rows an
    upsert-if-missing would append (ensure-dims.service.ts spec)."""
    fact = normalized_fact(spark, sf_dir)
    dim_date = rollups.build_dim_date(spark, "2024-01-01", "2024-12-31")
    missing = star.ensure_dims(
        dim_date.select(F.col("DateKey")),
        fact.select(F.col("FactDateKey").alias("DateKey")),
        "DateKey",
    )
    return missing


@register(
    "dim_agent_sync",
    """
SELECT CAST(c_custkey AS VARCHAR) AS AgentID,
       c_name AS AgentName,
       lower(replace(c_name, ' ', '.')) || '@example.com' AS Email,
       '' AS TimezoneIANA,
       TRUE AS ActiveFlag
FROM customer
""",
)
def q_dim_agent_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+C1: roster snapshot → DimAgent projection (dimagent.sync.service.ts:
    35-46, overwrite-sync semantics tested in tests/test_star.py)."""
    roster = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("AgentID"),
        F.col("c_name").alias("AgentName"),
        F.concat(
            F.lower(F.regexp_replace("c_name", " ", ".")), F.lit("@example.com")
        ).alias("Email"),
        F.lit("").alias("TimezoneIANA"),
        F.lit(True).alias("ActiveFlag"),
    )
    df, _result = star.sync_dim_agent(roster)
    return df


# =========================================================================== #
# TPC-H-shaped analytics (bench workload; same agg/join machinery at scale)
# =========================================================================== #

@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan-heavy hash aggregate with
    map-side partial aggregation. Money math routed through DECIMAL so sums
    are exact and engine-portable, cast back to DOUBLE at the boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: selective filter → fact joins →
    top-N by aggregated revenue. customer/orders/lineitem all scale with the
    data, so no explicit broadcasts — AQE picks broadcast or shuffle join at
    runtime from actual sizes (at bench SF the filtered side broadcasts
    itself; at 100 TB it degrades gracefully to shuffle joins)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            o.join(c, o["o_custkey"] == c["c_custkey"]),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "region_revenue",
    """
SELECT r.r_name AS region,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       count(*) AS lineitem_count
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY r.r_name
""",
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped snowflake rollup: region→nation→customer→orders→
    lineitem, dims broadcast down the chain."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Only the bounded dims (nation=25, region=5) broadcast explicitly;
    # customer/orders scale with SF, so their joins are left to AQE.
    cust_region = (
        c.join(broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "r_name")
    )
    ord_region = o.join(cust_region, o["o_custkey"] == F.col("c_custkey")).select(
        "o_orderkey", "r_name"
    )
    return (
        li.join(ord_region, li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("lineitem_count"),
        )
    )


@register(
    "tpch_q6_revenue_delta",
    """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue_delta,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
""",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue delta: pure scan + conjunctive
    predicates + single agg — the canonical predicate-pushdown benchmark
    (every filter reaches the parquet reader; .explain shows PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 25)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue_delta"),
        F.count("*").alias("n_rows"),
    )


@register(
    "tpch_q4_order_priority",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: EXISTS → left-semi join from
    orders into lineitem, then rollup by priority."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        on=[o["o_orderkey"] == li["l_orderkey"], li["l_shipdate"] > o["o_orderdate"]],
        how="left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "tpch_q9_profit_by_nation",
    """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS amount
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%ar%'
GROUP BY nation, o_year
""",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-profit rollup: 5-table join with a selective
    part filter. Only bounded nation broadcasts explicitly; part/supplier/
    orders scale with data, so AQE chooses their join strategies at runtime;
    one final shuffle for the (nation, year) rollup."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%ar%"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(p.select("p_partkey"), li["l_partkey"] == F.col("p_partkey"))
        .join(
            s.join(broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
                "s_suppkey", "n_name"
            ),
            li["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(o.select("o_orderkey", "o_orderdate"), li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("amount")
        )
    )


@register(
    "top_customers_per_nation",
    """
SELECT n_name, c_custkey, total_spend, rank FROM (
  SELECT n.n_name, c.c_custkey,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
         CAST(row_number() OVER (
           PARTITION BY n.n_name
           ORDER BY sum(CAST(o.o_totalprice AS DECIMAL(18,2))) DESC, c.c_custkey
         ) AS BIGINT) AS rank
  FROM nation n
  JOIN customer c ON c.c_nationkey = n.n_nationkey
  JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY n.n_name, c.c_custkey
) WHERE rank <= 3
""",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function leaderboard: top-3 customers by order value per nation
    (rank over partitioned aggregate — extension surface per SURVEY §2.5)."""
    from pyspark.sql import Window

    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "c_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend")
        )
    )
    w = Window.partitionBy("n_name").orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
    return (
        spend.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("n_name", "c_custkey", "total_spend", "rank")
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
SELECT n.n_name AS nation,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY nation
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: 6-table join with a composite
    supplier⋈customer nation-equality condition. region/nation broadcast;
    the selective o_orderdate range pushes into the orders scan before the
    big lineitem join."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        o.select("o_orderkey", "o_custkey")
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s.select("s_suppkey", "s_nationkey"),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q16_supplier_part_variety",
    """
SELECT p.p_brand, p.p_type,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type
""",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier variety: distinct-count grouped agg with an
    anti-join exclusion list (negative-balance suppliers). The anti side is
    tiny → broadcast; count(DISTINCT) expands to a two-phase aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(broadcast(bad), "l_suppkey", "left_anti")
        .join(p.select("p_partkey", "p_brand", "p_type"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q18_large_volume_customers",
    """
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(sum(l.l_quantity) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume customers: HAVING subquery as a
    semi-join against a pre-aggregated key list. The big-order list is small
    after the HAVING filter → broadcast semi-join instead of a shuffled IN."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(broadcast(big), "l_orderkey", "left_semi")
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_name"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
    )


@register(
    "value_percentiles",
    """
SELECT event_type,
       round(quantile_cont("value", 0.5), 6) AS p50,
       round(quantile_cont("value", 0.95), 6) AS p95,
       round(quantile_cont("value", 0.99), 6) AS p99,
       round(avg("value"), 6) AS mean_value,
       count(*) AS n
FROM events GROUP BY event_type
""",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentile distribution of the event value measure.

    Exact ``percentile`` keeps the group's values in memory on one reducer —
    fine for low-cardinality groups like event_type (5 groups); at 100 TB with
    high-cardinality groups, swap ``percentile`` → ``approx_percentile``
    (t-digest sketch, mergeable map-side, bounded memory) — same plan shape,
    no exact oracle."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.count("*").alias("n"),
    )


@register(
    "multi_source_union",
    f"""
WITH {NORMALIZED_CTE}
SELECT EventID, AgentID, FactDateKey, MetricID, coalesce(Notes, '') AS Notes
FROM normalized
UNION ALL
SELECT 'HUBSPOT:' || CAST(event_id AS VARCHAR),
       'unknown',
       strftime(ts + INTERVAL 1 HOUR, '%Y-%m-%d'),
       'EMAILS',
       'hubspot placeholder'
FROM events
""",
)
def q_multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-adapter fan-in: ALOWARE-normalized facts unioned with the
    HubSpot-stub rows (the orchestrator's adapter-dispatch table as a set op).
    ``unionByName`` keeps the plan a zero-shuffle concatenation — both source
    scans stay independent and parallel."""
    from ..functions.adapter import hubspot_placeholder, to_physical_rows

    aloware = to_physical_rows(normalized_fact(spark, sf_dir))
    env = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("ext_id"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("receivedAt"),
    )
    return aloware.unionByName(hubspot_placeholder(env))


@register(
    "cumulative_agent_counts",
    f"""
WITH {NORMALIZED_CTE},
daily AS (
  SELECT AgentID, FactDateKey, MetricID, count(*) AS EventCount
  FROM normalized GROUP BY AgentID, FactDateKey, MetricID
)
SELECT AgentID, FactDateKey, MetricID, EventCount,
       CAST(sum(EventCount) OVER (
         PARTITION BY AgentID, MetricID ORDER BY FactDateKey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS running_total,
       CAST(row_number() OVER (
         PARTITION BY AgentID, MetricID ORDER BY FactDateKey
       ) AS BIGINT) AS day_seq
FROM daily
""",
)
def q_cumulative_agent_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-agent totals: window frame over the daily rollup
    (month-to-date pace for the dashboard). The window partitions by
    (AgentID, MetricID) — the same key family as the rollup shuffle, so AQE
    plans one exchange for both when partitioning aligns."""
    from pyspark.sql import Window

    daily = rollups.daily_rollup(normalized_fact(spark, sf_dir))
    w = Window.partitionBy("AgentID", "MetricID").orderBy("FactDateKey")
    return (
        daily.withColumn(
            "running_total",
            F.sum("EventCount").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("day_seq", F.row_number().over(w).cast("long"))
    )


@register(
    "dim_metric_sync",
    """
SELECT * FROM (VALUES
  ('CALLS', 'Outbound Calls', CAST(50 AS BIGINT), CAST(0.85 AS DOUBLE)),
  ('TEXTS', 'Outbound Texts', CAST(45 AS BIGINT), CAST(0.85 AS DOUBLE)),
  ('EMAILS', 'Emails Sent', CAST(20 AS BIGINT), CAST(0.85 AS DOUBLE)),
  ('CASES', 'Cases Created', CAST(5 AS BIGINT), CAST(0.85 AS DOUBLE))
) AS m(MetricID, MetricName, DefaultGoal, DefaultYellowFloorPct)
""",
)
def q_dim_metric_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 DimMetric monthly sync (src_architecture_proposal.md:87-90): the
    validated metric catalog as the overwrite payload — clear+insert becomes
    one atomic overwrite of the 4-row dim."""
    return star.build_dim_metric(spark)


@register(
    "dim_shift_sync",
    f"""
WITH {NORMALIZED_CTE},
agents AS (SELECT DISTINCT AgentID FROM normalized),
days AS (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY)) AS d)
SELECT a.AgentID,
       CAST(d AS DATE) AS LocalDate,
       CAST(d AS TIMESTAMP) + INTERVAL 9 HOURS AS ShiftStartLocal,
       CAST(d AS TIMESTAMP) + INTERVAL 17 HOURS AS ShiftEndLocal,
       CAST(8 AS BIGINT) AS ShiftHours
FROM agents a CROSS JOIN days
""",
)
def q_dim_shift_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 DimShift sync (src_architecture_proposal.md:96-99): shift-rule
    expansion (09:00-17:00) over agents × January 2024, the overwrite payload
    for the shift dim. Dates broadcast; one narrow projection per pair."""
    agents = normalized_fact(spark, sf_dir).select("AgentID").distinct()
    dates = rollups.build_dim_date(spark, "2024-01-01", "2024-01-31").select("Date")
    return star.build_dim_shift(agents, dates, start_hour=9, shift_hours=8)


@register(
    "asof_last_purchase",
    """
SELECT l.event_id, l.user_id, l.event_type, l.ts,
       r."value" AS last_purchase_value,
       r.ts AS last_purchase_ts
FROM events l
ASOF LEFT JOIN (SELECT user_id, ts, "value" FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): annotate every event with the user's
    most recent purchase value at or before its timestamp — point-in-time
    state without a range-join explosion. Oracle is DuckDB's native
    ASOF LEFT JOIN."""
    from ..operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("last_purchase_value"),
        F.col("ts").alias("last_purchase_ts"),
    )
    return asof_join(
        events.select("event_id", "user_id", "event_type", "ts"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
        value_cols=["last_purchase_value", "last_purchase_ts"],
    )


@register(
    "events_in_shift",
    f"""
WITH {NORMALIZED_CTE},
agents AS (SELECT DISTINCT AgentID FROM normalized),
days AS (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31', INTERVAL 1 DAY)) AS d),
shifts AS (
  SELECT a.AgentID,
         CAST(d AS TIMESTAMP) + INTERVAL 9 HOURS AS ShiftStartLocal,
         CAST(d AS TIMESTAMP) + INTERVAL 17 HOURS AS ShiftEndLocal
  FROM agents a CROSS JOIN days
)
SELECT n.EventID, n.AgentID, n.MetricID, n.EventTime,
       s.ShiftStartLocal, s.ShiftEndLocal
FROM normalized n
JOIN shifts s
  ON n.AgentID = s.AgentID
 AND n.EventTime >= s.ShiftStartLocal
 AND n.EventTime <  s.ShiftEndLocal
""",
)
def q_events_in_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (operators/intervals.py): events matched to
    the 09:00-17:00 shift window covering their event time — the bucketized
    range join (equi-join on (agent, day-bucket) + residual range filter),
    never a nested-loop range join. Oracle: plain inequality join in DuckDB."""
    from ..operators.intervals import interval_join

    from ..functions import adapter

    fact = normalized_fact(spark, sf_dir)
    # Shift-dim agent list (r14 optimization, guide §8 "decide with small
    # rows"): derive it from the RAW webhook projection — AgentID needs only
    # owner_id/user_id, none of the timestamp/tz chain — instead of running
    # the full adapter pipeline a second time just to enumerate agents. This
    # is a SUPERSET of the normalized agents (the outbound/metric gates only
    # drop rows), and the interval join is INNER on AgentID, so shift rows
    # for agents whose every event was gated out match nothing: the result
    # is provably identical row-for-row (oracle unchanged, verified).
    wh = events_as_webhooks(load_table(spark, sf_dir, "events"))
    agents = wh.select(
        adapter.agent_id(F.col("owner_id"), F.col("user_id")).alias("AgentID")
    ).distinct()
    dates = rollups.build_dim_date(spark, "2024-01-01", "2024-01-31").select("Date")
    shifts = star.build_dim_shift(agents, dates, start_hour=9, shift_hours=8).select(
        "AgentID", "ShiftStartLocal", "ShiftEndLocal"
    )
    return interval_join(
        fact.select("EventID", "AgentID", "MetricID", "EventTime"),
        shifts,
        key_cols=["AgentID"],
        ts_col="EventTime",
        start_col="ShiftStartLocal",
        end_col="ShiftEndLocal",
        bucket="DAY",
    ).select(
        "EventID", "AgentID", "MetricID", "EventTime", "ShiftStartLocal", "ShiftEndLocal"
    )


@register(
    "tpch_q2_cheapest_supplier",
    """
SELECT p_partkey, p_brand, s_name, best_price FROM (
  SELECT l.l_partkey AS p_partkey, p.p_brand, s.s_name,
         CAST(l.l_extendedprice AS DOUBLE) AS best_price,
         row_number() OVER (PARTITION BY l.l_partkey
                            ORDER BY l.l_extendedprice, l.l_suppkey) AS rn
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE p.p_size >= 30
) WHERE rn = 1
""",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-cost-per-group: the cheapest observed supplier
    price per part (window rank over the part partition, deterministic
    supplier tie-break) — the correlated-min-subquery pattern as one window,
    no re-join against the aggregate."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 30)
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    w = Window.partitionBy("l_partkey").orderBy("l_extendedprice", "l_suppkey")
    return (
        li.join(p.select("p_partkey", "p_brand"), li["l_partkey"] == F.col("p_partkey"))
        .join(broadcast(s), li["l_suppkey"] == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            F.col("l_extendedprice").cast("double").alias("best_price"),
        )
    )


@register(
    "tpch_q7_nation_trade_volume",
    """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped cross-nation trade lattice: supplier-nation x
    customer-nation revenue by year, excluding domestic trade. Nation dims
    broadcast twice under different aliases; the fact side shuffles once per
    fact-fact join and once for the final rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_n = broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")))
    cust_n = broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")))
    return (
        li.join(broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(supp_n, F.col("s_nationkey") == F.col("snk"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(cust_n, F.col("c_nationkey") == F.col("cnk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").cast("long").alias("l_year"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q20_part_suppliers",
    """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%ar%'
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING sum(l.l_quantity) > 100
)
""",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped nested semi-join: suppliers who moved > 100 units of
    any '%ar%' part. The inner aggregate runs first; its small distinct key
    list broadcasts into a left-semi join — the IN-subquery as a plan, never
    a per-row lookup."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%ar%")).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    movers = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100)
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return s.join(broadcast(movers), "s_suppkey", "left_semi")


@register(
    "frequent_tokens",
    f"""
SELECT token, doc_freq FROM (
  SELECT token, count(*) AS doc_freq,
         row_number() OVER (ORDER BY count(*) DESC, token) AS rn
  FROM (
    SELECT DISTINCT doc_id, unnest(list_distinct(str_split({{_NORM}}, ' '))) AS token
    FROM documents
  )
  WHERE token <> ''
  GROUP BY token
) WHERE rn <= 20
""".replace("{_NORM}", "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"),
)
def q_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-20 tokens by document frequency (exact). Explode
    distinct per-doc tokens -> count -> global top-k as ``orderBy().limit()``
    (TakeOrderedAndProject: per-partition top-20 heaps, driver merges 20×P
    rows — no single-partition sort exchange and no reliance on the
    WindowGroupLimit optimizer rule). At 100 TB swap exact for count-min +
    a candidate pass."""
    from ..functions.text import tokens as tok_arr

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tok_arr(F.col("text")))).alias("token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count("*").alias("doc_freq"))
    return (
        counts.orderBy(F.col("doc_freq").desc(), F.col("token"))
        .limit(20)
        .select("token", "doc_freq")
    )


@register(
    "frequent_tokens_cms_check",
    f"""
SELECT token, doc_freq, TRUE AS est_ok FROM (
  SELECT token, count(*) AS doc_freq,
         row_number() OVER (ORDER BY count(*) DESC, token) AS rn
  FROM (
    SELECT DISTINCT doc_id, unnest(list_distinct(str_split({{_NORM}}, ' '))) AS token
    FROM documents
  )
  WHERE token <> ''
  GROUP BY token
) WHERE rn <= 20
""".replace("{_NORM}", "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"),
)
def q_frequent_tokens_cms_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-bound contract for the count-min sketch (operators/sketches.py,
    same pattern as the HLL/t-digest contracts): the exact top-20 token
    document-frequencies are oracle-verified, and ``est_ok`` asserts the CMS
    point-estimate for each obeys the sandwich
    ``true ≤ est ≤ true + 4·(e/width)·N`` — overestimate-only, slack bounded
    by total stream length, so a hashing or merge regression flips the
    hash-checked boolean. The 4x epsilon makes the contract union-bound
    safe: the classic 1x bound holds only w.p. ~ 1-e^-depth per key (~1.8%
    at depth 4 — ~30% that SOME of 20 keys trips on a testdata regeneration
    with no sketch bug), while per-row Markov at 4x gives
    P(excess > 4eN/width) <= (4e)^-depth ~ 7e-5 per key, ~0.1% across all
    20 — the row only flips on genuine hashing/merge defects. The raw
    estimate is NOT emitted (it is engine-specific); only the bound verdict
    is."""
    from math import e as _e

    from ..operators import sketches

    from ..functions.text import tokens as tok_arr

    depth, width = 4, 8192
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tok_arr(F.col("text")))).alias("token")
    ).filter(F.col("token") != "")
    counters = sketches.cms_counters(tok, "token", depth, width)
    top = (
        tok.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("token"))
        .limit(20)
    )
    est = sketches.cms_estimate(top, counters, "token", depth, width)
    total = tok.agg(F.count("*").alias("__n"))
    slack = F.ceil(F.lit(4 * _e / width) * F.col("__n"))
    return (
        top.join(est, "token")
        .crossJoin(broadcast(total))
        .select(
            "token",
            "doc_freq",
            (
                (F.col("cms_est") >= F.col("doc_freq"))
                & (F.col("cms_est") <= F.col("doc_freq") + slack)
            ).alias("est_ok"),
        )
    )


@register(
    "tpch_q10_returned_revenue",
    """
SELECT c_custkey, c_name, n_name, revenue FROM (
  SELECT c.c_custkey, c.c_name, n.n_name,
         CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
         row_number() OVER (ORDER BY sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) DESC, c.c_custkey) AS rn
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, n.n_name
) WHERE rn <= 20
""",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item revenue: top-20 customers by revenue
    lost to returns. The returnflag filter pushes into the lineitem scan;
    the global top-20 is ``orderBy().limit()`` (TakeOrderedAndProject —
    per-partition heaps, no single-partition sort exchange)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue")
        )
    )
    return (
        rev.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


@register(
    "tpch_q12_shipmode_priority",
    """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_count,
       CAST(sum(CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS kept_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
""",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped priority breakdown: conditional CASE aggregation over
    a date-bounded fact join — both counters come out of ONE pass (no
    self-join per condition)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        li.select("l_orderkey", "l_returnflag")
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("returned_count"),
            F.sum(F.when(F.col("l_returnflag") != "R", 1).otherwise(0)).alias("kept_count"),
        )
    )


@register(
    "tpch_q14_promo_revenue_share",
    """
SELECT round(
         100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                          ELSE CAST(0 AS DECIMAL(18,6)) END)
         / sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 6
       ) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share: conditional numerator over a
    month of shipments, part dim broadcast, one global aggregate row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        li.select("l_partkey", "l_extendedprice", "l_discount")
        .join(broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,6)")))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: aggregate view, global-max scalar
    'subquery' as a broadcast join against the aggregate's max — ties all
    kept, exactly the SQL's = max semantics, with no global-window sort
    exchange (a ``limit(1)`` would drop ties; the max-join keeps them)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
        .cast("double")
        .alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    top = revenue.join(
        broadcast(mx), F.col("total_revenue") == F.col("mx")
    ).drop("mx")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(
        broadcast(top.select("supplier_no", "total_revenue")),
        s["s_suppkey"] == F.col("supplier_no"),
    ).select("s_suppkey", "s_name", "total_revenue")


@register(
    "tpch_q17_small_quantity_revenue",
    """
SELECT round(CAST(sum(l.l_extendedprice) / 7.0 AS DOUBLE), 6) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
WHERE l.l_quantity < (
  SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
)
""",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-order revenue: the correlated per-part average
    becomes an aggregate joined back on partkey (computed once per part, not
    once per row — the decorrelated plan Catalyst would also produce)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(thresholds, li["l_partkey"] == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round((F.sum("l_extendedprice") / 7.0).cast("double"), 6).alias("avg_yearly"))
    )


@register(
    "tpch_q22_idle_customers",
    """
WITH positive AS (
  SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
),
active AS (
  SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) >= 5
)
SELECT CAST(c.c_nationkey AS BIGINT) AS cntrycode,
       count(*) AS numcust,
       round(CAST(sum(c.c_acctbal) AS DOUBLE), 6) AS totacctbal
FROM customer c, positive
WHERE c.c_acctbal > positive.avg_bal
  AND NOT EXISTS (SELECT 1 FROM active a WHERE a.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
""",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped idle wealthy customers (above-average balance, fewer
    than 5 orders): global-average scalar subquery (broadcast single row via
    crossJoin) + NOT EXISTS as a left-anti join against the pre-aggregated
    active-customer key list, grouped by nation."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
        .select("c_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal").cast("double"), 6).alias("totacctbal"),
        )
    )


@register("value_percentiles_approx")  # t-digest sketch — rows-only check
def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of value_percentiles: ``approx_percentile``
    (mergeable sketch, map-side combine, bounded memory per group) — same
    plan shape as the exact query, no full-group materialization."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.95, 0.99), 10000)").alias("pcts"),
        F.count("*").alias("n"),
    ).select(
        "event_type",
        F.col("pcts")[0].alias("p50"),
        F.col("pcts")[1].alias("p95"),
        F.col("pcts")[2].alias("p99"),
        "n",
    )


@register(
    "value_percentiles_approx_check",
    """
SELECT event_type,
       round(quantile_cont("value", 0.5), 6) AS p50,
       round(quantile_cont("value", 0.95), 6) AS p95,
       round(quantile_cont("value", 0.99), 6) AS p99,
       TRUE AS err_ok
FROM events GROUP BY event_type
""",
)
def q_value_percentiles_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-error contract for the t-digest sketch (ann_ivf_recall pattern):
    exact p50/p95/p99 per event_type are oracle-verified, and ``err_ok``
    asserts each approx_percentile estimate sits at a rank within 1% of its
    target quantile — i.e. rank(approx_pXX)/n ∈ [q − 0.01, q + 0.01]. The
    rank of each estimate is measured against the actual data (count of
    values ≤ estimate), so the check is a true rank-error bound, not a
    value-distance heuristic; accuracy 10000 guarantees ≤ 1e-4, so 0.01 only
    trips on a genuine sketch regression."""
    events = load_table(spark, sf_dir, "events")
    sketch = events.groupBy("event_type").agg(
        F.expr(
            "approx_percentile(value, array(0.5, 0.95, 0.99), 10000)"
        ).alias("ap"),
    )
    joined = events.join(F.broadcast(sketch), "event_type")
    return joined.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        (
            (
                F.abs(
                    F.avg((F.col("value") <= F.col("ap")[0]).cast("double"))
                    - 0.5
                )
                <= 0.01
            )
            & (
                F.abs(
                    F.avg((F.col("value") <= F.col("ap")[1]).cast("double"))
                    - 0.95
                )
                <= 0.01
            )
            & (
                F.abs(
                    F.avg((F.col("value") <= F.col("ap")[2]).cast("double"))
                    - 0.99
                )
                <= 0.01
            )
        ).alias("err_ok"),
    )


@register(
    "tpch_q8_market_share",
    """
WITH sales AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'ASIA'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'CHINA' THEN volume ELSE CAST(0 AS DECIMAL(18,6)) END)
             / sum(volume) AS DOUBLE), 6) AS mkt_share
FROM sales GROUP BY o_year
""",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: CHINA's share of supplier revenue into
    ASIA customers by year — conditional numerator over a 6-table join, both
    nation aliases and region broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_n = broadcast(
        n.join(broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
            F.col("n_nationkey").alias("cnk")
        )
    )
    supp_n = broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")))
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(cust_n, F.col("c_nationkey") == F.col("cnk"))
        .join(broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(supp_n, F.col("s_nationkey") == F.col("snk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                (
                    F.sum(F.when(F.col("supp_nation") == "CHINA", volume).otherwise(F.lit(0).cast("decimal(18,6)")))
                    / F.sum(volume)
                ).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q11_important_stock",
    """
WITH nation_value AS (
  SELECT sn.n_name, s.s_suppkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS supp_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  GROUP BY sn.n_name, s.s_suppkey
)
SELECT nv.n_name, nv.s_suppkey, CAST(nv.supp_value AS DOUBLE) AS supp_value
FROM nation_value nv
JOIN (SELECT n_name, avg(supp_value) AS nation_avg FROM nation_value GROUP BY n_name) na
  ON na.n_name = nv.n_name
WHERE nv.supp_value > na.nation_avg
""",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important stock: suppliers trading strictly above their
    nation's average — the correlated per-group threshold decorrelates into a
    broadcast-joined aggregate over the same grouped values (scale-invariant,
    unlike a global fraction, which degenerates as supplier count grows)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    value = (
        li.join(broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("supp_value"))
    )
    nation_avg = value.groupBy(F.col("n_name").alias("na_name")).agg(
        F.avg("supp_value").alias("nation_avg")
    )
    return (
        value.join(broadcast(nation_avg), value["n_name"] == F.col("na_name"))
        .filter(F.col("supp_value") > F.col("nation_avg"))
        .select("n_name", "s_suppkey", F.col("supp_value").cast("double").alias("supp_value"))
    )


@register(
    "tpch_q13_order_count_distribution",
    """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) GROUP BY c_count
""",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped customer order-count histogram: LEFT join keeps
    zero-order customers (count(col) skips the null join rows), then a
    second aggregation over the counts — the two-level distribution shape."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q19_disjunctive_revenue",
    """
SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive predicate join: OR-of-AND groups across
    both join sides. The per-side conjuncts (quantity ranges on lineitem,
    brand/size on part) cannot individually push below the join, but the
    OR-tree folds into the join condition so no candidate row survives past
    the build side."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(broadcast(p), (li["l_partkey"] == p["p_partkey"]) & cond)
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "tpch_q21_sole_late_supplier",
    """
WITH per_os AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS was_late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey, l.l_suppkey
),
per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(was_late) AS n_late
  FROM per_os GROUP BY l_orderkey
)
SELECT s.s_name, count(*) AS numwait
FROM per_os x
JOIN per_order po ON po.l_orderkey = x.l_orderkey
JOIN supplier s ON s.s_suppkey = x.l_suppkey
WHERE x.was_late = 1 AND po.n_supp >= 2 AND po.n_late = 1
GROUP BY s.s_name
""",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped sole-late-supplier wait counts: the EXISTS /
    NOT-EXISTS pair over other suppliers' lineitems decorrelates into two
    grouped aggregates over (order, supplier) lateness — one pass over
    lineitem instead of two correlated self-joins."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), 1
    ).otherwise(0)
    per_os = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("was_late"))
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("was_late").alias("n_late")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_os.filter(F.col("was_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(broadcast(s), per_os["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
