"""Audit the plan that actually EXECUTED, via the UI REST SQL endpoint.

Why not ``df._jdf.queryExecution().executedPlan()``: under AQE that is the
*initial* adaptive plan unless THIS DataFrame's own QueryExecution ran to
completion — ``df.write...save()`` and ``df.count()`` both execute a
DIFFERENT QueryExecution derived from the logical plan, leaving df's own
plan un-finalized (isFinalPlan=false, no runtime reuse/demotion visible).
Measured consequence before this helper existed: a probe recorded
"7 broadcasts materialized, 0 reused" off the initial plan while the real
execution materialized 1 and reused 6. The REST endpoint
(``/api/v1/applications/<app>/sql``) returns the FINAL formatted plan of
each completed execution — the ground truth for what ran.

Requires ``spark.ui.enabled=true`` on the session.
"""

from __future__ import annotations

import json
import re
import urllib.request


def sql_executions(spark) -> list[dict]:
    """Every SQL execution the UI still holds, oldest first (REST records:
    ``id``, ``description``, ``planDescription``, ...)."""
    ui = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{ui}/api/v1/applications") as r:
        app_id = json.load(r)[0]["id"]
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/sql"
        "?details=true&planDescription=true&length=1000"
    ) as r:
        return sorted(json.load(r), key=lambda s: s["id"])


def last_sql_plan(spark) -> str:
    """planDescription of the most recent completed SQL execution."""
    return sql_executions(spark)[-1]["planDescription"]


def _final_tree(plan: str) -> str:
    """The final-plan tree section (formatted style: node name + (id))."""
    return plan.split("== Initial Plan ==")[0]


def broadcast_reuse_counts(plan: str) -> tuple[int, int]:
    """(materialized, reused) broadcast exchanges in the FINAL plan tree.

    ``materialized`` counts real BroadcastExchange nodes; ``reused`` counts
    ReusedExchange nodes whose reuse target (resolved through the details
    section's "Reuses operator id: N") is a BroadcastExchange — shuffle
    reuses are excluded.
    """
    final = _final_tree(plan)
    bx_ids = set(re.findall(r"BroadcastExchange \((\d+)\)", final))
    ru_ids = set(re.findall(r"ReusedExchange \((\d+)\)", final))
    targets = dict(
        re.findall(r"\((\d+)\) ReusedExchange \[Reuses operator id: (\d+)\]", plan)
    )
    bx_detail_ids = set(re.findall(r"\((\d+)\) BroadcastExchange", plan))
    reused_broadcasts = [i for i in ru_ids if targets.get(i) in bx_detail_ids]
    return len(bx_ids), len(reused_broadcasts)


def join_lines(plan: str) -> list[str]:
    """Distinct join operator lines of the FINAL plan tree (tree art
    stripped) — e.g. 'SortMergeJoin LeftAnti (37)'."""
    final = _final_tree(plan)
    out = set()
    for ln in final.splitlines():
        if "Join" in ln:
            out.add(re.sub(r"^[\s:+*-]+", "", ln).strip())
    return sorted(out)


def join_node_names(plan: str) -> list[str]:
    """Distinct join operator NAMES in the final plan tree."""
    return sorted(
        {
            m
            for ln in join_lines(plan)
            for m in re.findall(r"(\w*Join\w*)", ln)
        }
    )
