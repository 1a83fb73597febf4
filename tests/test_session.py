"""Session factory contracts that only show outside the test process."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from conftest import SF_ORACLE, SF_SMALL

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


def test_session_defaults_fit_the_box_and_keep_a_refresh_compiled(tmp_path):
    """Shuffle partitions follow a local master's task slots unless
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` says otherwise, and the codegen cache
    holds every class two batch refreshes (the two dashboard visuals plus
    ``corpus_pipeline_full``) generate: each compile adds one cache entry,
    so a cache with fewer entries than compiles has evicted a class the next
    refresh compiles again. The second refresh usually compiles nothing, but
    not always: AQE re-plans as query stages finish, so stage timing can
    produce a plan variant (8 new classes seen in one run of four). The
    cache size is a static conf, so this needs a fresh JVM."""
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        from quill_agent_dashboard_pbi_etl_spark.session import get_spark
        from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
        from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        spark = get_spark(app_name="defaults-probe", master="local[2]")
        print("PARTITIONS", spark.conf.get("spark.sql.shuffle.partitions"))
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        counts = []
        for _ in range(2):
            before = compiles.METRIC_COMPILATION_TIME().getCount()
            for name in ("goal_attainment", "star_join_enriched", "corpus_pipeline_full"):
                df = QUERIES[name](spark, {SF_ORACLE!r})
                df.write.format("noop").mode("overwrite").save()
            counts.append(compiles.METRIC_COMPILATION_TIME().getCount() - before)
        generator = spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
        )
        field = generator.getDeclaredField("cache")
        field.setAccessible(True)
        print("COMPILES", *counts)
        print("CACHED", field.get(None).size(), compiles.METRIC_COMPILATION_TIME().getCount())
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "7"
        spark = get_spark(app_name="defaults-probe")
        print("OVERRIDE", spark.conf.get("spark.sql.shuffle.partitions"))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = dict(line.split(" ", 1) for line in proc.stdout.splitlines() if " " in line)
    assert out["PARTITIONS"] == "2"
    assert out["OVERRIDE"] == "7"
    first, second = map(int, out["COMPILES"].split())
    cached, compiled = map(int, out["CACHED"].split())
    assert first > 0
    assert cached == compiled, (
        f"codegen cache evicted {compiled - cached} of {compiled} classes; "
        f"the second refresh compiled {second} of the first's {first}"
    )
