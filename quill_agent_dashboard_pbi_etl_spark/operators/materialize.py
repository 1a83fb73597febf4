"""Mid-plan materialization with an explicit executor-loss posture.

Several operators reuse an expensive intermediate (near-dup candidate pairs
joined 2-3×, iterative label propagation whose plan would otherwise grow per
iteration), or must snapshot rows before the files beneath them change (the
ledger gate under its lock). They pin that intermediate through
:func:`pin`, whose strategy is a session conf rather than a hardcoded
``localCheckpoint``:

``spark.graft.pin`` =
  ``localCheckpoint`` (default)
      Eager local checkpoint: lineage-truncating, blocks GC-released when the
      DataFrame is collected (no persist leak), but UNREPLICATED — stored only
      on the executors that computed them. On executor loss (spot kill, OOM,
      dynamic-allocation decommission) the data is unrecoverable and the job
      fails instead of recomputing. Right for single-node dev/bench and for
      clusters without preemption.
  ``checkpoint``
      Reliable checkpoint to ``sparkContext.setCheckpointDir`` storage
      (HDFS/object store): survives executor loss — the 100 TB posture on
      preemptible fleets. Requires the checkpoint dir to be configured;
      costs one write+read of the intermediate.

Both strategies materialize eagerly: every caller relies on it, either for
lineage truncation or for a snapshot that later lazy executions must not
recompute.

This makes the executor-loss trade-off a deployment choice instead of a
hidden property of the operator internals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

PIN_CONF = "spark.graft.pin"


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly per the session's ``spark.graft.pin``
    strategy (``checkpoint``, else ``localCheckpoint``)."""
    if df.sparkSession.conf.get(PIN_CONF, "localCheckpoint") == "checkpoint":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def unpin(df: DataFrame) -> None:
    """Free a pin()-materialized DataFrame's storage blocks immediately.

    ONLY safe when nothing will execute ``df`` (or any lazy plan referencing
    it) again: a ``localCheckpoint`` truncates lineage, so once its blocks
    drop the data is unrecoverable and further actions on ``df`` FAIL.
    Iterative operators use this to retire *superseded* intermediates inside
    their loop — without it each round's dead blocks sit in the block
    manager until Python GC + the JVM ContextCleaner happen to run, and the
    accumulated dead storage measurably poisons later work in the same
    session (execution-memory pressure evicts/spills the corpses over and
    over; measured r14: three pin-heavy queries left enough dead blocks to
    slow the next Arrow/Python-stage query from ~3 s to ~40 s, and the sf10
    ladder rung previously OOMed on the third execution for the same
    reason). Reliable ``checkpoint`` frames keep their on-disk copy — for
    them this only drops the memory replica. No-op for frames that are not
    pinned materializations (derived plans).
    """
    try:
        lp = df._jdf.queryExecution().analyzed()
        if lp.getClass().getSimpleName() == "LogicalRDD":
            lp.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: a leak here degrades to the old GC-released path


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-local rows → DataFrame as a JVM ``LocalRelation`` (r14, guide
    §4: eliminate the Python boundary).

    ``createDataFrame(list)`` parallelizes into ``defaultParallelism``
    Python-RDD slices — every downstream stage that scans the frame then
    launches that many tasks, each paying a Python-worker round trip for a
    near-empty slice (measured: ~0.25 s/task × 32 tasks × every stage, with
    ~zero CPU — the dominant cost of the k-means centroid loop and of every
    query broadcasting the 4-row DimMetric). Routing through pandas + Arrow
    yields a ``LocalRelation``: no RDD, no Python workers, directly
    broadcastable, and Catalyst gets honest size stats. Falls back to the
    plain path when pandas/Arrow is unavailable or rejects the values."""
    if rows:
        try:
            import pandas as pd

            if hasattr(schema, "fields"):
                struct = schema
            else:  # DDL string → StructType, via the public empty-frame path
                struct = spark.createDataFrame([], schema).schema
            pdf = pd.DataFrame(
                [tuple(r) for r in rows], columns=[f.name for f in struct.fields]
            )
            return spark.createDataFrame(pdf, schema=struct)
        except Exception:
            pass  # fall back to the row-iterating path below
    return spark.createDataFrame(rows, schema)


def release_dead_blocks(spark) -> None:
    """Session hygiene between independent query executions: drop cached
    tables and nudge both GCs so dead pin() blocks actually leave the block
    manager (the ContextCleaner unpersists them only after the JVM notices
    the Python-side references died). The JVM GC is skipped when nothing is
    persisted — the common (pin-free) case stays cheap."""
    import gc

    spark.catalog.clearCache()
    gc.collect()
    try:
        if spark.sparkContext._jsc.sc().getPersistentRDDs().size() > 0:
            spark.sparkContext._jvm.System.gc()
    except Exception:
        spark.sparkContext._jvm.System.gc()
