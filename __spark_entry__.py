"""Driver contract for the PySpark engine.

``entry(spark)`` runs the flagship ingest-to-dashboard pipeline on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
north-star extension ops); ``oracle_sql()`` gives the DuckDB-equivalent SQL
for each (queries without an oracle are approximate/engine-native ops checked
rows-only).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401 — registers extension queries
from quill_agent_dashboard_pbi_etl_spark.plans import registry


def _ensure_conf(spark: SparkSession) -> None:
    """Engine-required session settings, applied defensively because the
    driver owns the SparkSession: UTC render timezone (oracle parity) and
    nanos-as-long parquet reads (driver testdata uses TIMESTAMP(NANOS), which
    Spark 4 otherwise refuses)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full reference pipeline end-to-end at sf0.001 — webhook
    normalization (P1-P12) → keep-first dedup (D1) → daily rollup (A3) →
    goal attainment (A4). Scan → project → filter → dedup → aggregate → join.
    """
    _ensure_conf(spark)
    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark.operators import dedup, rollups, star

    sf_dir = "/root/testdata/sf0.001"
    fact = registry.normalized_fact(spark, sf_dir)
    deduped = dedup.keep_first(
        fact,
        ["AgentID", "FactDateKey", "MetricID"],
        [F.col("EventTime"), F.col("EventID")],
    )
    daily = rollups.daily_rollup(deduped)
    return rollups.goal_attainment(daily, star.build_dim_metric(spark))


def _wrap(fn: registry.Query) -> registry.Query:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_conf(spark)
        return fn(spark, sf_dir)

    return wrapped


def _green(rec: dict) -> bool:
    """A verdict that checked the query: an oracle match, or a rows-only
    check (``err == "no_oracle"``) that recorded a row count."""
    if rec.get("err") is None:
        return bool(rec.get("rows_match", False))
    rows = rec.get("spark_rows")
    return rec.get("err") == "no_oracle" and isinstance(rows, int) and rows >= 0


def driver_order(names: Iterable[str], correctness_files: Iterable[str]) -> list[str]:
    """``names`` ordered by the last round each was green in the
    ``CORRECTNESS_r<round>.json`` verdicts, stalest first. A name never green
    sorts first; ties keep ``names`` order; verdicts for other names are
    ignored."""
    last: dict[str, int] = {}
    for path in correctness_files:
        rnd = int(re.search(r"_r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            for name, rec in json.load(f).items():
                if _green(rec):
                    last[name] = max(last.get(name, 0), rnd)
    return sorted(names, key=lambda n: last.get(n, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + north-star ops).
    The correctness sweep checks the first 50 entries, so they are
    the least recently verified: the order comes from the verdict files next
    to this module, read at call time."""
    files = glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json"))
    return {n: _wrap(registry.QUERIES[n]) for n in driver_order(registry.QUERIES, files)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (approximate/engine-native ops omitted
    → driver records the weaker rows-only check)."""
    return dict(registry.ORACLES)
