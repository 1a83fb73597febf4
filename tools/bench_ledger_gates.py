"""Measure the exact-vs-Bloom ledger-gate crossover on the scale ladder.

`ledger_gate_bloom`'s docstring predicts: below the broadcast threshold the
Bloom pre-gate is pure overhead (the tiny ledger broadcasts and the exact
anti-join is already cheap); once the TTL-live ledger outgrows broadcast,
the exact gate must shuffle EVERY event for the anti-join while the Bloom
path shuffles only the duplicate+fpp sliver. This tool measures both sides
of that claim on real rungs instead of arguing it.

Per rung: build the same synthetic prior-run ledger the registry queries use
(every event seen before 2024-01-10, 14-day TTL against the 2024-01-20
anchor), then time
  exact  — operators.dedup.ledger_gate (anti-join, planner's choice)
  bloom  — operators.dedup.ledger_gate_bloom with the bitmap sized to the
           live-key count at 1% fpp (num_bits ≈ 1.44·n·log2(1/fpp) ≈ 9.57·n),
           INCLUDING the live-count job and the word-table build in its timing — production knows ledger cardinality
           from table metadata, but we charge the honest full price here.
Both outputs are counted and must match exactly (Bloom has no false
negatives; every maybe re-checks exactly).

Results merge into SCALE_LADDER.json under ledger_gate_exact/_bloom keys.

Usage: python tools/bench_ledger_gates.py [ladder_root] [rung ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from quill_agent_dashboard_pbi_etl_spark.operators import dedup
from quill_agent_dashboard_pbi_etl_spark.operators.materialize import pin
from quill_agent_dashboard_pbi_etl_spark.plans.registry import (
    NOW_EPOCH,
    _synthetic_ledger,
    normalized_fact,
)
from quill_agent_dashboard_pbi_etl_spark.session import get_spark

RUNGS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf0.3": None,  # filled from ladder_root
    "sf1": None,
    "sf3": None,
    "sf10": None,
    "sf30": None,
    "sf100": None,
    "sf300": None,  # opt-in rung (make_scale_ladder.py --sf300)
}


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    argv = sys.argv[1:]
    ladder_root = argv[0] if argv else os.path.join(ROOT, "scale_ladder")
    wanted = argv[1:] or list(RUNGS)
    spark = get_spark(app_name="bench-ledger-gates")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict[str, float | int]] = {}
    for rung in wanted:
        sf_dir = RUNGS.get(rung) or os.path.join(ladder_root, rung)
        if not os.path.isdir(sf_dir):
            continue
        fact = pin(
            normalized_fact(spark, sf_dir).withColumnRenamed("EventID", "dedup_key")
        )
        # a real prior-run table, not lineage
        ledger = pin(_synthetic_ledger(fact, "dedup_key"))

        res: dict[str, float | int] = {"events": fact.count()}
        t0 = time.perf_counter()
        exact = dedup.ledger_gate(
            fact, ledger, key_col="dedup_key", now_epoch=NOW_EPOCH
        )
        _noop(exact)
        res["exact_sec"] = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        live_n = (
            ledger.filter(F.col("expiresAt") >= F.lit(NOW_EPOCH)).count()
        )  # charged to the bloom side: sizing needs the cardinality
        num_bits = max(1 << 16, int(1.44 * live_n * math.log2(1 / 0.01)))
        bloom = dedup.ledger_gate_bloom(
            fact, ledger, key_col="dedup_key", now_epoch=NOW_EPOCH,
            num_bits=num_bits,
        )
        _noop(bloom)
        res["bloom_sec"] = round(time.perf_counter() - t0, 3)
        res["live_keys"] = live_n
        res["bloom_mbits"] = round(num_bits / 1e6, 1)

        n_exact, n_bloom = exact.count(), bloom.count()
        assert n_exact == n_bloom, (rung, n_exact, n_bloom)
        res["survivors"] = n_exact

        # The metric the Bloom gate actually targets: rows entering the
        # anti-join (= shuffle volume once the ledger no longer broadcasts).
        # Exact gate: every event. Bloom gate: only the maybes
        # (true duplicates + fpp sliver). Local wall-clock barely moves at
        # these sizes because a few-million-row SMJ saturates neither memory
        # nor network on one box — the cut matters on network-bound
        # clusters, so record the volume itself.
        live_for_maybes = ledger.filter(
            F.col("expiresAt") >= F.lit(NOW_EPOCH)
        ).select(F.col("pk").alias("dedup_key"))
        flagged = dedup.bloom_maybe_flag_bucketed(
            fact,
            dedup.bloom_words(live_for_maybes, "dedup_key", num_bits),
            num_bits,
            "dedup_key",
        )
        maybes = flagged.filter(F.col("__bloom_maybe")).count()
        res["antijoin_rows_exact"] = res["events"]
        res["antijoin_rows_bloom"] = maybes

        # Beyond-broadcast regime, emulated: when the TTL-live ledger
        # outgrows the broadcast threshold the planner falls to a shuffle
        # join for the anti-join — disabling broadcast reproduces exactly
        # that plan on this rung's data. Both paths measured under the same
        # setting (the Bloom side's maybe-join demotes too, which is fair:
        # in that regime it also wouldn't broadcast).
        for key in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ):
            spark.conf.set(key, "-1")
        try:
            t0 = time.perf_counter()
            _noop(
                dedup.ledger_gate(
                    fact, ledger, key_col="dedup_key", now_epoch=NOW_EPOCH
                )
            )
            res["exact_sec_nobcast"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            _noop(
                dedup.ledger_gate_bloom(
                    fact, ledger, key_col="dedup_key", now_epoch=NOW_EPOCH,
                    num_bits=num_bits,
                )
            )
            res["bloom_sec_nobcast"] = round(time.perf_counter() - t0, 3)
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

        out[rung] = res
        print(f"{rung}: {res}")

    path = os.path.join(ROOT, "SCALE_LADDER.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    data.setdefault("ledger_gate_crossover", {}).update(out)
    json.dump(data, open(path, "w"), indent=1)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
