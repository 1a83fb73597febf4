"""Registry-WIDE physical-plan invariant sweep.

test_plan_quality.py pins deep properties on hand-picked queries; this file
asserts the cheap global invariants on EVERY registry query's compiled plan
(plan-only — nothing executes), so a regression anywhere in the registry
surface fails the suite even if no targeted test covers that query:

- no CartesianProduct, ever — an accidental unkeyed join at 100 TB is a
  job-killer, and no registry query needs one;
- BroadcastNestedLoopJoin exactly where it is the DESIGN (a deliberately
  tiny broadcast side: contract rows, the DimShift seed, scalar
  subqueries) — the allowlist is explicit in both directions, so a new BNLJ
  sneaking into any other query fails loudly, and so does an allowlisted
  query that no longer plans one (the list cannot go stale);
- no row-at-a-time Python (BatchEvalPython) anywhere — Python is allowed
  ONLY in Arrow form (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas)
  and only where the operator is genuinely Python-backed.

The sweep builds the plan at the tiny SF so it runs in seconds.
"""

from __future__ import annotations

import pytest

from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES

from conftest import SF_SMALL

# Queries whose plan contains BroadcastNestedLoopJoin: every entry is a
# deliberate tiny-broadcast-side design, documented in the query or operator
# docstring. Anything NOT listed here must stay BNLJ-free, and everything
# listed must still plan one.
BNLJ_BY_DESIGN = {
    "frequent_tokens_cms_check",  # contract row × broadcast exact-count row
    "dim_shift_sync",        # DimShift seed IS distinct-agents × calendar-days
    "events_in_shift",       # builds the same DimShift seed inline
    "pace_color",            # same DimShift seed feeds shift-elapsed pace
    "run_counters",          # processed/inserted single-row counters crossed
    "tpch_q22_idle_customers",  # scalar avg-acctbal subquery × customer rows
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_global_plan_invariants(spark, name):
    df = QUERIES[name](spark, SF_SMALL)
    # Deliberately the INITIAL plan: nothing has executed here, so under AQE
    # executedPlan() is the pre-runtime-reoptimization plan. For THESE guards
    # that is the right object — AQE only ever swaps join strategies downward
    # (e.g. SMJ → broadcast); it never INTRODUCES CartesianProduct /
    # BatchEvalPython / BroadcastNestedLoopJoin nodes absent from the initial
    # plan — and it keeps the sweep over every registry query collect-free.
    # Do not "fix" this into a collect-first test.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: unkeyed cartesian join"
    if name in BNLJ_BY_DESIGN:
        assert "BroadcastNestedLoopJoin" in plan, (
            f"{name}: allowlisted in BNLJ_BY_DESIGN but plans no "
            "BroadcastNestedLoopJoin — remove it from the allowlist"
        )
    else:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: BroadcastNestedLoopJoin outside the by-design "
            "allowlist — either key the join or document and allowlist it"
        )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF — use Arrow (pandas_udf / "
        "mapInPandas) or a JVM expression"
    )


def test_nd_barrier_keeps_consumer_filters_above_spreading_exchange(spark):
    """r15 regression guard (VERDICT r14 what's-wrong 2): the adapter chain's
    `_nd_barrier` must keep derived-column consumer filters ABOVE the
    ensure_min_partitions round-robin exchange — and the barrier expression
    itself must survive optimization (two earlier spellings were silently
    constant-folded away; a Spark upgrade could fold this one too, which this
    test would catch)."""
    from quill_agent_dashboard_pbi_etl_spark.plans import registry

    df = registry.normalized_fact(spark, SF_SMALL).filter("MetricID = 'CALLS'")
    plan_on = df._jdf.queryExecution().executedPlan().toString()
    # 1. barrier alive: the shuffle(array(...)) marker survived optimization
    assert "shuffle(array(" in plan_on, "nd-barrier folded away by the optimizer"
    # 2. the spreading exchange exists on single-file inputs...
    assert "RoundRobinPartitioning" in plan_on
    # 3. ...and NO derived-column consumer predicate sits below it (children
    # print after the parent in the tree string, so everything past the
    # round-robin exchange is its scan-side subtree).
    below = plan_on[plan_on.index("RoundRobinPartitioning"):]
    for marker in ("Contains(lower(", "MetricID", "is_outbound"):
        assert marker not in below, (
            f"consumer predicate ({marker}) pushed below the spreading "
            "exchange — the single-task-scan-stage regression is back"
        )



def test_nd_barrier_prints_the_same_plan_every_build(spark):
    """The barrier's ``shuffle`` carries a fixed seed, so two builds of
    ``events_as_webhooks`` print the same barrier in the optimized plan and
    plan captures of one tree can be diffed without masking seeds."""
    import re

    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table
    from quill_agent_dashboard_pbi_etl_spark.sources.webhook_mapping import (
        events_as_webhooks,
    )

    def barrier_text() -> list[str]:
        df = events_as_webhooks(load_table(spark, SF_SMALL, "events"))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # expression ids (#<n>) differ per build; the seed must not
        return re.findall(r"shuffle\(.*?Some\(-?\d+\)\)", re.sub(r"#\d+L?", "", plan))

    first, second = barrier_text(), barrier_text()
    assert first, "no shuffle(...) barrier in the optimized plan"
    assert first == second
