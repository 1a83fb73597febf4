"""Materialization strategies (operators/materialize.pin)."""

from __future__ import annotations

from quill_agent_dashboard_pbi_etl_spark.operators.materialize import PIN_CONF, pin


def test_pin_default_is_local_checkpoint(spark):
    df = spark.range(10)
    out = pin(df)
    assert out is not df
    assert out.count() == 10
    # lineage is truncated: the checkpointed plan is a scan over materialized
    # blocks, with the original Range operator gone
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Range" not in plan
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan


def test_pin_reliable_checkpoint(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(PIN_CONF, "checkpoint")
    try:
        out = pin(spark.range(10))
        assert out.count() == 10
        # the reliable checkpoint materialized to the configured dir
        assert any((tmp_path / "ckpt").iterdir())
    finally:
        spark.conf.unset(PIN_CONF)


def test_unpin_frees_blocks_and_is_noop_on_plain_frames(spark):
    from quill_agent_dashboard_pbi_etl_spark.operators.materialize import unpin

    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    pinned = pin(spark.range(100))
    assert sc._jsc.sc().getPersistentRDDs().size() == before + 1
    unpin(pinned)
    assert sc._jsc.sc().getPersistentRDDs().size() == before
    # plain / derived frames are a safe no-op
    unpin(spark.range(5))
    unpin(pinned.select("id"))


def test_connected_components_retires_superseded_pins(spark):
    """The CC loop must not leave one dead block generation per round: after
    the call returns, only the FINAL pinned step may remain persisted (the
    returned frame is backed by it); the symmetric edge pin and every
    superseded round must be gone (materialize.unpin)."""
    from quill_agent_dashboard_pbi_etl_spark.operators import clustering

    sc = spark.sparkContext
    before = sc._jsc.sc().getPersistentRDDs().size()
    # a diameter-4 chain forces >1 loop round before convergence
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    comp = clustering.connected_components(edges)
    got = {(r["node"], r["cluster_id"]) for r in comp.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}
    after = sc._jsc.sc().getPersistentRDDs().size()
    assert after <= before + 1, (
        f"CC leaked {after - before} persisted RDDs (expected <= 1: the "
        "final step backing the result)"
    )
