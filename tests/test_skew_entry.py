"""Skew utilities + the driver-contract smoke checks."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from quill_agent_dashboard_pbi_etl_spark.operators import skew

# The checkout this test file lives in: the entry module and the
# CORRECTNESS_r*.json verdicts are read from the tree under test.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ENTRY = os.path.join(_ROOT, "__spark_entry__.py")


def test_salted_agg_count_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot",)] * 500 + [("cold1",)] * 3 + [("cold2",)] * 7, "k string"
    )
    salted = {r.k: r.cnt for r in skew.salted_agg_count(df, ["k"], buckets=8).collect()}
    plain = {r.k: r.cnt for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    assert salted == plain == {"hot": 500, "cold1": 3, "cold2": 7}


def test_salted_join_matches_plain_join(spark):
    facts = spark.createDataFrame(
        [("unknown", i) for i in range(200)] + [("a1", 1), ("a2", 2)],
        "AgentID string, v long",
    )
    dim = spark.createDataFrame(
        [("unknown", "Unknown"), ("a1", "Ann"), ("a3", "Cee")],
        "AgentID string, AgentName string",
    )
    out = skew.salted_join_hot_keys(facts, dim, "AgentID", ["unknown"], buckets=4)
    plain = facts.join(dim, "AgentID", "left")
    assert out.count() == plain.count() == 202
    got = {(r.AgentID, r.AgentName) for r in out.collect()}
    assert ("unknown", "Unknown") in got
    assert ("a2", None) in got


from hypothesis import given, settings
from hypothesis import strategies as st

_keys = st.sampled_from(["hot", "warm", "a", "b", "c", "missing-from-dim"])


@settings(max_examples=8, deadline=None)
@given(
    fact_keys=st.lists(_keys, min_size=1, max_size=30),
    hot_list=st.lists(_keys, min_size=1, max_size=3, unique=True),
    buckets=st.sampled_from([1, 2, 5]),
)
def test_salted_join_equivalence_property(spark, fact_keys, hot_list, buckets):
    """salted_join_hot_keys must be row-for-row equivalent to the plain left
    join for ANY hot-key list (including keys absent from the data or the
    dim) and any bucket count — the salt is a physical-layout knob only."""
    facts = spark.createDataFrame(
        [(k, i) for i, k in enumerate(fact_keys)], "AgentID string, v long"
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("warm", "W"), ("a", "A"), ("b", "B")],
        "AgentID string, AgentName string",
    )
    out = sorted(
        (r.AgentID, r.v, r.AgentName)
        for r in skew.salted_join_hot_keys(
            facts, dim, "AgentID", hot_list, buckets=buckets
        ).collect()
    )
    plain = sorted(
        (r.AgentID, r.v, r.AgentName) for r in facts.join(dim, "AgentID", "left").collect()
    )
    assert out == plain


def test_entry_contract(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location("entrymod", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"AgentID", "FactDateKey", "MetricID", "EventCount", "GoalPct"} <= set(df.columns)

    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30
    # spot-run one query through the public contract
    out = qs["daily_rollup"](spark, "/root/testdata/sf0.001")
    assert out.count() > 0


def _load_entry(path, name):
    import importlib.util

    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# Engine-native/approximate ops checked rows-only; each has an
# oracle-backed accuracy-contract query elsewhere in the registry.
_ROWS_ONLY = {
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
    "approx_distinct_agents",
    "embedding_near_dup_lsh",
    "multimodal_real_decode",
    "value_percentiles_approx",
}


def test_driver_window_invariants():
    """The correctness sweep adjudicates the FIRST 50 queries()
    entries: queries() lists every registered query exactly once, and the
    rows-only tier is exactly the declared set, so a query that loses its
    oracle fails here."""
    mod = _load_entry(_ENTRY, "entrymod2")
    order = list(mod.queries())
    assert sorted(order) == sorted(mod.registry.QUERIES)
    assert len(set(order[:50])) == 50
    assert set(order) - set(mod.oracle_sql()) == _ROWS_ONLY


def test_driver_window_rotates_through_every_query(tmp_path, monkeypatch):
    """Two-round invariant: once the current window comes back green, the
    next window is the rest of the registry. Runs a copy of the entry module
    beside a copy of the committed verdicts plus a synthetic next round."""
    import glob
    import json
    import re
    import shutil
    import sys

    monkeypatch.setattr(sys, "path", list(sys.path))  # the entry module prepends its dir
    shutil.copy2(_ENTRY, tmp_path / "__spark_entry__.py")
    files = glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))
    for path in files:
        shutil.copy2(path, tmp_path)
    mod = _load_entry(str(tmp_path / "__spark_entry__.py"), "entrymod4")
    registered = list(mod.registry.QUERIES)
    window = list(mod.queries())[:50]
    oracles = mod.oracle_sql()
    nxt = 1 + max(int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)) for p in files)
    verdicts = {
        n: {"rows_match": True, "err": None, "spark_rows": 1}
        if n in oracles
        else {"rows_match": False, "err": "no_oracle", "spark_rows": 1}
        for n in window
    }
    (tmp_path / f"CORRECTNESS_r{nxt:02d}.json").write_text(json.dumps(verdicts))
    rotated = list(mod.queries())[:50]
    assert set(window) | set(rotated) == set(registered)
    assert mod.driver_order(registered, []) == registered  # no verdicts: registry order


def test_driver_window_covers_freshness_contract():
    """The two-round freshness treadmill, mechanized: every registered query
    that is NOT in the current 50-slot driver window must carry a green
    verdict in one of the two most recent CORRECTNESS_r*.json files —
    otherwise its verdict will be >2 rounds stale after this round's sweep
    and the rotation was mis-planned. Fails loudly at round start until the
    window is rotated for the new round, which is exactly the reminder the
    next builder needs."""
    import glob
    import importlib.util
    import json
    import re

    files = sorted(
        glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    if len(files) < 1:
        return  # round 1: nothing to be stale against
    recent = files[-2:]
    green: set[str] = set()
    for path in recent:
        for name, rec in json.load(open(path)).items():
            oracle_green = rec.get("err") is None and rec.get("rows_match", False)
            # declared no-oracle tier: the driver records err="no_oracle"
            # with the spark row count — a successful rows-only check. The
            # count must be an explicitly recorded int: a missing/None
            # spark_rows means the rows-only check never actually ran.
            rows_only_green = rec.get("err") == "no_oracle" and (
                isinstance(rec.get("spark_rows"), int) and rec["spark_rows"] >= 0
            )
            if oracle_green or rows_only_green:
                green.add(name)

    spec = importlib.util.spec_from_file_location(
        "entrymod3", _ENTRY
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    window = set(list(mod.queries())[:50])
    registered = set(mod.queries())
    stale = sorted(registered - window - green)
    assert not stale, (
        f"queries neither in the driver window nor green in {recent}: "
        f"{stale} — check driver_order in the entry module"
    )
