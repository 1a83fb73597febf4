"""Local oracle harness: run every registry query in Spark AND DuckDB and
compare sorted rows exactly (the driver's check is row-count + schema +
order-insensitive value-hash; exact row equality is strictly stronger).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quill_agent_dashboard_pbi_etl_spark.session import get_spark
from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401 — registers queries
from quill_agent_dashboard_pbi_etl_spark.plans.registry import ORACLES, QUERIES

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if v is None:
        return "\x00__NULL__"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = 0
    for name in names:
        fn = QUERIES[name]
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sorted(
                (tuple(norm(r[c]) for c in scols) for r in sdf.collect()), key=repr
            )
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in ORACLES:
            print(f"  ok {name}: {len(srows)} rows (no oracle — rows-only)")
            continue
        try:
            rel = con.sql(ORACLES[name])
            dcols_raw = rel.columns
            idx = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
            dcols = [dcols_raw[i] for i in idx]
            drows = sorted((tuple(norm(row[i]) for i in idx) for row in rel.fetchall()), key=repr)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if scols != dcols:
            print(f"FAIL {name}: columns differ spark={scols} duck={dcols}")
            failures += 1
            continue
        if srows != drows:
            failures += 1
            print(f"FAIL {name}: rows differ (spark={len(srows)} duck={len(drows)})")
            sset, dset = set(srows), set(drows)
            for r in list(sset - dset)[:3]:
                print(f"   spark-only: {r}")
            for r in list(dset - sset)[:3]:
                print(f"   duck-only:  {r}")
        else:
            print(f"  ok {name}: {len(srows)} rows match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
