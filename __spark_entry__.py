"""Driver contract for the PySpark engine.

``entry(spark)`` runs the flagship ingest-to-dashboard pipeline on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
north-star extension ops); ``oracle_sql()`` gives the DuckDB-equivalent SQL
for each (queries without an oracle are approximate/engine-native ops checked
rows-only).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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


# The driver's correctness sweep checks the FIRST 50 entries of queries() in
# iteration order. Round-15 rotation policy: (a) the full round-13-dated
# backlog — the 44 still-registered r13-window keys (the "queries_dropped"
# list of PERF_r14.json), which would cross the two-round freshness boundary
# this round. This backlog ALREADY contains the r14 verdict's mandated
# changed-path canaries (ann_ivf_topk / ann_ivf_trained_topk /
# ann_ivf_recall / approx_distinct_agents_check — VERDICT next-round item 2)
# plus the queries this round's pair-generation and CC-loop changes touch
# most (dup_clusters, dedup_survivors, corpus_pipeline_full,
# dedup_minhash_lsh). (b) five r14-green entries re-checked EARLY because
# round-15 code changes their paths: semantic_dup_clusters (CC observe
# fusion), dedup_ngram_jaccard (size-ratio prefilter + first()-carried
# sizes), simhash_near_dup (branchless votes), and time_filter_today /
# adapter_normalize (webhook_mapping.py gained the nd-barrier escape hatch;
# default-on plans are unchanged, these canaries prove it). (a)+(b) = 49;
# slot 50 is the first registry query outside the list (fact_error_log,
# oracle-backed). Four (a) entries are engine-native/approximate ops with no
# DuckDB oracle — rows-only BY DESIGN, each paired with an oracle-backed
# contract in the same window (approx_distinct_agents ↔
# approx_distinct_agents_check; value_percentiles_approx ↔
# value_percentiles_approx_check; ann_ivf_topk / ann_ivf_trained_topk ↔
# ann_ivf_recall) — declared in _ROWS_ONLY_WINDOW_OK below. Every entry
# outside the window was driver-green in round 14 with unchanged code since;
# tools/check_oracle.py still sweeps all entries regardless of order.
_DRIVER_PRIORITY = [
    # -- (a) round-13-dated backlog hitting the two-round staleness boundary --
    "ann_cosine_topk",
    "ann_ivf_recall",            # r14+r15 changed path: IVF literal argmax
    "ann_ivf_topk",              # rows-only, contract = ann_ivf_recall
    "ann_ivf_trained_topk",      # rows-only, contract = ann_ivf_recall
    "approx_distinct_agents",    # rows-only, contract = _check below
    "approx_distinct_agents_check",  # r14 changed path: HLL-state cut
    "corpus_pipeline_full",      # r15 changed path: survivor-only gate
    "corpus_shards",
    "corpus_stats_by_source",
    "decontamination_flags",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_survivors",           # r15 changed path: CC observe + prefilter
    "dim_agent_sync",
    "doc_fingerprint",
    "dup_clusters",              # r15 changed path: CC observe + prefilter
    "embedding_near_dup",
    "frequent_tokens",
    "hubspot_stub",
    "lang_id",
    "quality_scores",
    "repetition_stats",
    "rollup_grouping_sets",
    "sequence_packing",
    "stratified_sample",
    "time_filter_last_month",
    "time_filter_last_week",
    "time_filter_this_month",
    "time_filter_this_week",
    "time_filter_yesterday",
    "token_counts",
    "tpch_q10_returned_revenue",
    "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority",
    "tpch_q13_order_count_distribution",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q21_sole_late_supplier",
    "tpch_q22_idle_customers",
    "tpch_q8_market_share",
    "value_percentiles",
    "value_percentiles_approx",  # rows-only, contract = _check below
    "value_percentiles_approx_check",
    # -- (b) r14-green, re-checked early: round-15 code touches their paths --
    "semantic_dup_clusters",     # connected_components observe fusion
    "dedup_ngram_jaccard",       # size-ratio prefilter, sizes via first()
    "simhash_near_dup",          # branchless vote kernel
    "time_filter_today",         # webhook_mapping barrier escape hatch
    "adapter_normalize",         # same module; proves default plans unchanged
]

# In-window entries deliberately checked rows-only (no DuckDB oracle — the
# op is engine-native/approximate). Each has an oracle-backed contract also
# in the window: approx_distinct_agents ↔ approx_distinct_agents_check
# (exact-count cross-check), value_percentiles_approx ↔
# value_percentiles_approx_check (rank-error contract), ann_ivf_topk /
# ann_ivf_trained_topk ↔ ann_ivf_recall (recall vs the oracled brute-force
# side). multimodal_real_decode and embedding_near_dup_lsh were rows-only-
# checked in round 14 with their oracled contracts and sit outside this
# window, so they must NOT appear here (the invariants test asserts the
# allowlist is exact).
_ROWS_ONLY_WINDOW_OK = {
    "approx_distinct_agents",
    "value_percentiles_approx",
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + north-star ops),
    ordered so the driver's 50-query cap yields maximum fresh coverage."""
    missing = [n for n in _DRIVER_PRIORITY if n not in registry.QUERIES]
    assert not missing, f"_DRIVER_PRIORITY references unknown queries: {missing}"
    ordered = {name: _wrap(registry.QUERIES[name]) for name in _DRIVER_PRIORITY}
    for name, fn in registry.QUERIES.items():
        if name not in ordered:
            ordered[name] = _wrap(fn)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (approximate/engine-native ops omitted
    → driver records the weaker rows-only check)."""
    return dict(registry.ORACLES)
