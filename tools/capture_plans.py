"""Capture .explain("formatted") for every registry query into plans/<tag>/.

Usage: python tools/capture_plans.py [--executed] <tag> [suffix] [names...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix default "before"): the
pre-execution plan (AdaptiveSparkPlan initial) of the query's own DataFrame.
That plan only scans the rows of any ``pin()`` the query built, so a change
inside a pinned stage (the shingle index, a Bloom-flagged batch) does not
show there.

``--executed`` also runs each query to completion and writes
plans/<tag>/<query>_<suffix>_executed.txt: the FINAL plan of every SQL
execution the query ran, ``pin()`` materializations included, oldest first
(read from the UI REST endpoint, see tools/plan_audit.py).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES
from quill_agent_dashboard_pbi_etl_spark.session import get_spark
from plan_audit import sql_executions  # sibling script in tools/


def main() -> None:
    argv = sys.argv[1:]
    executed = "--executed" in argv
    argv = [a for a in argv if a != "--executed"]
    tag = argv[0] if argv else "r14"
    suffix = argv[1] if len(argv) > 1 else "before"
    names = argv[2:] or list(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        app_name=f"capture-plans-{tag}",
        extra_conf={"spark.ui.enabled": "true"} if executed else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            # Query builders run their pins eagerly: the execution window
            # opens before the builder is called.
            if executed:
                seen = max((e["id"] for e in sql_executions(spark)), default=-1)
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            if executed:
                df.collect()
                parts = [
                    f"==== SQL execution {e['id']}: {e['description'].split(' at ')[0]}\n"
                    f"{e['planDescription']}"
                    for e in sql_executions(spark)
                    if e["id"] > seen
                ]
                with open(os.path.join(out_dir, f"{name}_{suffix}_executed.txt"), "w") as fh:
                    fh.write("\n".join(parts))
            print(f"ok   {name}", flush=True)
        except Exception as exc:  # noqa: BLE001 — record and continue
            with open(path, "w") as fh:
                fh.write(f"ERROR: {type(exc).__name__}: {exc}\n")
            print(f"ERR  {name}: {exc}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
