"""SparkSession factory tuned for the engine.

All engine code paths assume a UTC session timezone (the reference coerces all
timestamps to UTC instants and derives business dates per-row in an IANA tz —
``src/adapters/aloware.adapter.ts:24-33,4-22`` — so the engine standardizes on
UTC internally; the DuckDB correctness oracle does the same explicitly).

Scale posture: AQE on (runtime coalesce, skew-join splitting, dynamic broadcast
selection). Shuffle partitions default to the task slots of a local master
(``local[N]`` -> N, ``local[*]`` -> the JVM's core count) and to 32 on any
other master; ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides both (on a cluster,
2-4x total executor cores; on one box, when the data outgrows its memory).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "quill-agent-dashboard-pbi-etl-spark"

# Directory that holds the package: Python workers put it on their path, so
# UDF / mapInPandas stages import the same tree the driver loaded, whatever
# the working directory.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Generated classes Spark keeps compiled. One pass over the whole registry
# generates about 910 distinct classes (NOTES.md r18). Spark's default of 100
# is fewer than one batch refresh's ~100 once its LRU segments evict early,
# so every refresh recompiled most of them.
CODEGEN_CACHE_ENTRIES = 2048

# Shuffle partitions on a non-local master. A cluster's parallelism at start-up
# says little about its size under dynamic allocation, so it is not used.
CLUSTER_SHUFFLE_PARTITIONS = 32


def _default_shuffle_partitions(spark: SparkSession) -> int:
    """One shuffle partition per task slot of a local master, else
    ``CLUSTER_SHUFFLE_PARTITIONS``.

    More partitions than slots buy nothing on one box and cost a task launch
    each in every stage that cannot coalesce them: AQE may not change the
    partitioning of a cached plan, so a persisted relation keeps all of them.
    """
    sc = spark.sparkContext
    if re.fullmatch(r"local(\[[^\]]*\])?", sc.master):
        # local / local[N] / local[*] / local[N,F]: the context's default
        # parallelism is its slot count (the JVM's cores for local[*]).
        return sc.defaultParallelism
    return CLUSTER_SHUFFLE_PARTITIONS


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, omit ``master`` and let spark-submit decide; locally the
    default is ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` (default all).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism / oracle parity
        .config("spark.sql.session.timeZone", "UTC")
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
        # Static: only a session that starts the JVM sets it.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        partitions = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(
            _default_shuffle_partitions(spark)
        )
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    return spark
