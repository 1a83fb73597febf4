"""Session factory contracts that only show outside the test process."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A driver that finds the package only through its own ``sys.path``
    still runs mapInPandas queries: ``get_spark`` ships the package root to
    the Python workers, so a script started outside the checkout (the oracle
    harness run from a scratch directory) checks the tree it was loaded
    from."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from quill_agent_dashboard_pbi_etl_spark.session import get_spark
        from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
        from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES
        spark = get_spark(app_name="cwd-probe", master="local[2]")
        rows = QUERIES["multimodal_real_decode"](spark, {SF_SMALL!r}).collect()
        print("ROWS", len(rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    n = int(proc.stdout.split("ROWS")[-1])
    assert n > 0
