"""Declared schemas for every engine table.

The reference declares its physical schemas as a hardcoded dataset DDL
(``tools/pbi/create-dataset.ts:48-107``) mirrored by domain interfaces
(``src/domain/types.ts:12-65``). The engine keeps the same stance: fixed,
declared-in-code ``StructType`` constants; raw webhook payloads are
schema-on-read via ``from_json`` with a permissive schema.

Type mapping (SURVEY.md §1.2): Int64→LongType, Double→DoubleType,
Bool→BooleanType, Datetime→TimestampType/DateType, String→StringType.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------- #
# Ingest envelope — one normalized request (src/domain/types.ts:3-8).
# --------------------------------------------------------------------------- #
ENVELOPE_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("headers", MapType(StringType(), StringType()), True),
        StructField("body", StringType(), True),  # raw JSON string, schema-on-read
        StructField("receivedAt", TimestampType(), False),
    ]
)

# Permissive shape for Aloware webhook bodies (src/adapters/aloware.adapter.ts:56-58
# tolerates flat payloads or {parsedBody:{event,body}} wrappers).
ALOWARE_BODY_SCHEMA = StructType(
    [
        StructField("event", StringType(), True),
        StructField(
            "body",
            StructType(
                [
                    StructField("id", LongType(), True),
                    StructField("uuid_v4", StringType(), True),
                    StructField("direction", LongType(), True),
                    StructField("type", LongType(), True),
                    StructField("created_at", StringType(), True),
                    StructField("owner_id", LongType(), True),
                    StructField("user_id", LongType(), True),
                    StructField(
                        "contact",
                        StructType([StructField("timezone", StringType(), True)]),
                        True,
                    ),
                ]
            ),
            True,
        ),
        StructField(
            "parsedBody",
            StructType(
                [
                    StructField("event", StringType(), True),
                    StructField("body", StringType(), True),  # nested JSON string
                ]
            ),
            True,
        ),
    ]
)

# --------------------------------------------------------------------------- #
# Star schema (tools/pbi/create-dataset.ts:48-107, docs schema design :40-124).
# --------------------------------------------------------------------------- #
FACT_EVENT_SCHEMA = StructType(
    [
        StructField("EventID", StringType(), False),  # "SOURCE:externalId", PK
        StructField("AgentID", StringType(), False),
        StructField("FactDateKey", StringType(), False),  # yyyy-MM-dd local date
        StructField("MetricID", StringType(), False),  # CALLS|TEXTS|EMAILS|CASES
        StructField("Notes", StringType(), True),
    ]
)

DIM_AGENT_SCHEMA = StructType(
    [
        StructField("AgentID", StringType(), False),
        StructField("AgentName", StringType(), True),
        StructField("Email", StringType(), True),
        StructField("TimezoneIANA", StringType(), True),
        StructField("ActiveFlag", BooleanType(), True),
    ]
)

DIM_METRIC_SCHEMA = StructType(
    [
        StructField("MetricID", StringType(), False),
        StructField("MetricName", StringType(), True),
        StructField("DefaultGoal", LongType(), True),
        StructField("DefaultYellowFloorPct", DoubleType(), True),
    ]
)

DIM_DATE_SCHEMA = StructType(
    [
        StructField("Date", DateType(), False),
        StructField("DateKey", StringType(), False),  # yyyy-MM-dd join key
        StructField("Year", LongType(), False),
        StructField("Month", LongType(), False),
        StructField("Day", LongType(), False),
        StructField("MonthName", StringType(), False),
        StructField("Quarter", LongType(), False),
        StructField("DayOfWeek", LongType(), False),  # 1=Mon .. 7=Sun
        StructField("DayName", StringType(), False),
        StructField("IsWeekend", BooleanType(), False),
    ]
)

DIM_SHIFT_SCHEMA = StructType(
    [
        StructField("AgentID", StringType(), False),
        StructField("LocalDate", DateType(), False),
        StructField("ShiftStartLocal", TimestampType(), False),
        StructField("ShiftEndLocal", TimestampType(), False),
        StructField("ShiftHours", LongType(), True),
    ]
)

# --------------------------------------------------------------------------- #
# Idempotency ledger (docs/dynamodb_schema.md:11-20, ledger.repo.ts:17-25).
# --------------------------------------------------------------------------- #
LEDGER_SCHEMA = StructType(
    [
        StructField("pk", StringType(), False),  # "source:eventId"
        StructField("seenAt", TimestampType(), False),
        StructField("expiresAt", LongType(), False),  # epoch seconds TTL
    ]
)
# The claim ledger as sinks.check_and_mark writes it: LEDGER_SCHEMA plus the
# writer_id claim tag.
LEDGER_DDL = "pk string, seenAt timestamp, expiresAt long, writer_id string"

# --------------------------------------------------------------------------- #
# Roster snapshot (ring-group availability report, dimagent.sync.service.ts:35-46).
# --------------------------------------------------------------------------- #
ROSTER_REPORT_SCHEMA = StructType(
    [
        StructField(
            "testResults",
            ArrayType(
                StructType(
                    [
                        StructField("id", LongType(), True),
                        StructField("name", StringType(), True),
                        StructField("email", StringType(), True),
                    ]
                )
            ),
            True,
        )
    ]
)

# --------------------------------------------------------------------------- #
# Extension surface (north-star ops) — driver testdata shapes (FIXTURES.md §5).
# --------------------------------------------------------------------------- #
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), True),
        StructField("label", LongType(), True),
    ]
)

# Multimodal asset column pattern: opaque binary payload + typed metadata.
MULTIMODAL_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),  # image|audio|video
        StructField("content", StringType(), True),  # binary in prod; stub uses str
        StructField("mime_type", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

METRIC_IDS = ("CALLS", "TEXTS", "EMAILS", "CASES")  # closed enum, types.ts:10
