"""Isolated per-query timing: fresh process, same methodology as bench.py
(warm at sf0.001, min-of-3 noop writes at the target SF), for a named subset.

Usage: python tools/time_queries.py <sf_dir> <query> [query ...]
Prints one line per query: name min median samples.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quill_agent_dashboard_pbi_etl_spark.operators.materialize import (
    release_dead_blocks,
)
from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES
from quill_agent_dashboard_pbi_etl_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 3:
        print(
            "usage: python tools/time_queries.py <sf_dir> <query> [query ...]",
            file=sys.stderr,
        )
        sys.exit(2)
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(
            f"unknown queries: {', '.join(unknown)}\nknown: {', '.join(QUERIES)}",
            file=sys.stderr,
        )
        sys.exit(2)
    spark = get_spark(app_name="time_queries")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        spark.sparkContext.setJobDescription(f"warm {name}")
        try:
            QUERIES[name](spark, warm_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception as exc:  # warm-up is best-effort, but say so
            print(f"WARN warm {name} failed: {exc}", file=sys.stderr)
        release_dead_blocks(spark)
    from perfbench.measure import cpu_ticks, steal_pct


    for name in names:
        samples = []
        ticks0 = cpu_ticks()
        for i in range(3):
            spark.sparkContext.setJobDescription(f"timed {name} #{i}")
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            samples.append(time.perf_counter() - t0)
            release_dead_blocks(spark)
        ticks1 = cpu_ticks()
        steal = (
            f" steal={steal_pct(ticks0, ticks1):.1f}%" if ticks1[1] > ticks0[1] else ""
        )
        s = sorted(samples)
        print(
            f"TIMED {name} min={s[0]:.3f} med={s[1]:.3f} all="
            + ",".join(f"{x:.3f}" for x in samples)
            + steal,
            flush=True,
        )


if __name__ == "__main__":
    main()
