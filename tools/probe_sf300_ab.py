"""Interleaved A/B for the sf300 ledger-gate walls — de-confounding the
ordering/cache effects the r9 cells carried.

The r9 sf300 cells ran in ONE process in a fixed order: exact first (cold —
113.5 s, paying the page-cache warm-up for everyone), nobcast last (warmed —
29.4 s), Bloom in between (41.8–50.3 s). SCALE.md refused to claim a wall
winner from that, correctly. This probe gives the comparison the same
treatment the bench totals get: one FRESH JVM per cell, strategies
interleaved in alternating order across rounds (round 1: exact→bloom→nobcast,
round 2: nobcast→bloom→exact) so slow ambient drift and page-cache state hit
every strategy symmetrically, min-of-2 per strategy, and every cell records
its position in the execution ordering.

Strategies:
  exact    — operators.dedup.ledger_gate, planner's choice
  bloom    — operators.dedup.ledger_gate_bloom (word-table probe) at the
             1%-fpp sizing (167 Mbits at sf300)
  nobcast  — exact with auto-broadcast disabled: the plan the gate gets once
             the TTL-live ledger outgrows the broadcast threshold (the
             regime sf300's 17.5M live keys are already in on real
             multi-executor topology — weak_scaling_probe.ledger_gates).

Inside each child the fact and ledger are pinned (localCheckpoint) BEFORE
the timer starts, so the timed region is the gate itself, not the adapter
normalization. Survivor counts are asserted equal across every cell.

Results → SCALE_LADDER.json["ledger_gate_crossover"]["sf300_ab"], cells
keyed "<strategy>_r<round>" each carrying an "ordering" index.

Usage:
    SPARK_GRAFT_DRIVER_MEM=64g python tools/probe_sf300_ab.py [ladder_root]
    # child mode (internal): --cell <strategy> <sf_dir>
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from probe_common import ambient_suspect  # noqa: E402

SF_DIR_DEFAULT = "/root/repo/scale_ladder/sf300"


def run_cell(strategy: str, sf_dir: str) -> None:
    """Child: one strategy, one fresh JVM, pinned inputs, timed gate."""
    from pyspark.sql import functions as F

    from quill_agent_dashboard_pbi_etl_spark.operators import dedup
    from quill_agent_dashboard_pbi_etl_spark.operators.materialize import pin
    from quill_agent_dashboard_pbi_etl_spark.plans.registry import (
        NOW_ANCHOR,
        normalized_fact,
    )
    from quill_agent_dashboard_pbi_etl_spark.session import get_spark

    now_epoch = int(
        dt.datetime.strptime(NOW_ANCHOR, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )
    spark = get_spark(app_name=f"sf300-ab-{strategy}")
    spark.sparkContext.setLogLevel("ERROR")

    fact = pin(
        normalized_fact(spark, sf_dir).withColumnRenamed("EventID", "dedup_key"),
        required=True,
    )
    ledger = pin(
        fact.filter(
            F.col("EventTime") < F.lit("2024-01-10 00:00:00").cast("timestamp")
        ).select(
            F.col("dedup_key").alias("pk"),
            F.col("EventTime").alias("seenAt"),
            (F.unix_timestamp("EventTime") + 14 * 86400).alias("expiresAt"),
        ),
        required=True,
    )
    live_n = ledger.filter(F.col("expiresAt") >= F.lit(now_epoch)).count()
    num_bits = max(1 << 16, int(1.44 * live_n * math.log2(1 / 0.01)))

    if strategy == "nobcast":
        for key in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ):
            spark.conf.set(key, "-1")

    t0 = time.perf_counter()
    if strategy == "bloom":
        gated = dedup.ledger_gate_bloom(
            fact, ledger, key_col="dedup_key", now_epoch=now_epoch,
            num_bits=num_bits,
        )
    else:  # exact / nobcast share the plain gate; nobcast differs by conf
        gated = dedup.ledger_gate(
            fact, ledger, key_col="dedup_key", now_epoch=now_epoch
        )
    gated.write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    survivors = gated.count()
    print(
        json.dumps(
            {
                "strategy": strategy,
                "wall_sec": round(wall, 3),
                "survivors": survivors,
                "live_keys": live_n,
                "bloom_mbits": round(num_bits / 1e6, 1),
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--cell":
        run_cell(sys.argv[2], sys.argv[3])
        return
    ladder_root = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scale_ladder"
    sf_dir = os.path.join(ladder_root, "sf300")
    if not os.path.isdir(sf_dir):
        sys.exit(f"sf300 rung missing at {sf_dir} (make_scale_ladder.py --sf300)")

    # Alternating order across rounds: ambient drift and page-cache warm-up
    # hit every strategy from both ends.
    order = [
        ("exact", 1), ("bloom", 1), ("nobcast", 1),
        ("nobcast", 2), ("bloom", 2), ("exact", 2),
    ]
    cells: dict[str, dict] = {}
    for idx, (strategy, rnd) in enumerate(order):
        print(f"=== cell {idx}: {strategy} round {rnd} ===", file=sys.stderr)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cell", strategy, sf_dir],
            capture_output=True,
            text=True,
            env=dict(os.environ),
            timeout=7200,
        )
        key = f"{strategy}_r{rnd}"
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            cells[key] = {
                "error": proc.stderr.strip().splitlines()[-1][-300:]
                if proc.stderr.strip()
                else f"exit {proc.returncode}",
                "ordering": idx,
            }
            continue
        try:
            cell = json.loads(proc.stdout.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError) as exc:
            cells[key] = {
                "error": f"unparseable child stdout ({exc})",
                "ordering": idx,
            }
            continue
        cell["ordering"] = idx
        cells[key] = cell
        print(json.dumps(cell), file=sys.stderr)
        _persist(cells)  # survive a mid-plan kill

    survivor_counts = {
        c["survivors"] for c in cells.values() if "survivors" in c
    }
    assert len(survivor_counts) <= 1, f"survivor mismatch: {cells}"

    summary: dict = {}
    for strategy in ("exact", "bloom", "nobcast"):
        walls = [
            c["wall_sec"]
            for k, c in cells.items()
            if k.startswith(strategy) and "wall_sec" in c
        ]
        if walls:
            summary[f"{strategy}_min_sec"] = min(walls)
            summary[f"{strategy}_walls"] = walls
            # third-run falsification rule (probe_common): a pair whose own
            # walls disagree >1.5x is ambient-contaminated — no rule may
            # cite it without a third fresh-process pass.
            summary[f"{strategy}_ambient_suspect"] = ambient_suspect(walls)
    ranked = sorted(
        (v, k.removesuffix("_min_sec"))
        for k, v in summary.items()
        if k.endswith("_min_sec")
    )
    if ranked:
        summary["wall_winner"] = ranked[0][1]
        summary["wall_winner_ambient_suspect"] = summary.get(
            f"{ranked[0][1]}_ambient_suspect", False
        )
    _persist(cells, summary)
    print(json.dumps({"cells": cells, "summary": summary}, indent=1))


def _persist(cells: dict, summary: dict | None = None) -> None:
    path = "/root/repo/SCALE_LADDER.json"
    data = json.load(open(path)) if os.path.exists(path) else {}
    node = data.setdefault("ledger_gate_crossover", {}).setdefault("sf300_ab", {})
    node["cells"] = cells
    node["note"] = (
        "One fresh JVM per cell, strategies interleaved in alternating order "
        "(ordering field = execution position), min-of-2 per strategy; "
        "inputs pinned before the timer so the timed region is the gate."
    )
    if summary is not None:
        node["summary"] = summary
    json.dump(data, open(path, "w"), indent=1)


if __name__ == "__main__":
    main()
