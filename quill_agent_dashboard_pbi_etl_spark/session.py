"""SparkSession factory tuned for the engine.

All engine code paths assume a UTC session timezone (the reference coerces all
timestamps to UTC instants and derives business dates per-row in an IANA tz —
``src/adapters/aloware.adapter.ts:24-33,4-22`` — so the engine standardizes on
UTC internally; the DuckDB correctness oracle does the same explicitly).

Scale posture: AQE on (runtime coalesce, skew-join splitting, dynamic broadcast
selection), shuffle partitions sized for the local harness but overridable via
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` for cluster runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "quill-agent-dashboard-pbi-etl-spark"

# Directory that holds the package: Python workers put it on their path, so
# UDF / mapInPandas stages import the same tree the driver loaded, whatever
# the working directory.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, omit ``master`` and let spark-submit decide; locally the
    default is ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` (default all).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism / oracle parity
        .config("spark.sql.session.timeZone", "UTC")
        # Shuffle sizing: explicit floor for local; AQE coalesces down at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: runtime re-plan, skew-join splitting, partition
        # coalescing — the first line of defense at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dims in this model are tiny (DimMetric=4 rows, roster=one ring group);
        # make sure the planner is allowed to broadcast them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for the (few) Pandas-UDF extension ops.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: vectorized reader + pushdown are defaults, pinned here
        # so a misconfigured cluster profile can't silently disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Timestamps: keep µs semantics stable across engines.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Driver testdata carries TIMESTAMP(NANOS) columns, which Spark 4
        # rejects outright; read them as raw int64 and let the reader layer
        # truncate ns→µs (same truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Spark merges this with its own and the environment's PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
