"""Oracle type-parity sweep: DuckDB surfaces integer sum() as HUGEINT, which
arrives as decimal128 via Arrow and breaks the driver's value-hash even when
the values are numerically equal to Spark's BIGINT. This tool runs every
oracle at a small SF, fetches the Arrow schema from both engines, and flags
any numeric-type divergence (decimal vs int64, int64 vs float64, ...).

Usage: python tools/check_types.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quill_agent_dashboard_pbi_etl_spark.session import get_spark
from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
from quill_agent_dashboard_pbi_etl_spark.plans.registry import ORACLES, QUERIES

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Spark simpleString dtype → acceptable Arrow types on the DuckDB side.
ACCEPT = {
    "bigint": {pa.int64(), pa.int32(), pa.int16(), pa.int8()},
    "int": {pa.int64(), pa.int32(), pa.int16(), pa.int8()},
    "smallint": {pa.int64(), pa.int32(), pa.int16(), pa.int8()},
    "double": {pa.float64()},
    "float": {pa.float32(), pa.float64()},
    "string": {pa.string(), pa.large_string()},
    "boolean": {pa.bool_()},
    "date": {pa.date32()},
}


def arrow_ok(spark_dtype: str, arrow_type: pa.DataType) -> bool:
    if spark_dtype.startswith("decimal"):
        return pa.types.is_decimal(arrow_type)
    if spark_dtype in ACCEPT:
        return arrow_type in ACCEPT[spark_dtype]
    if spark_dtype.startswith("timestamp"):
        return pa.types.is_timestamp(arrow_type)
    if spark_dtype.startswith("array"):
        return pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type)
    return True  # map/struct/binary: not hash-compared numerically


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or [n for n in QUERIES if n in ORACLES]
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = 0
    for name in names:
        if name not in ORACLES:
            continue
        spark_types = dict(QUERIES[name](spark, sf_dir).dtypes)
        duck_schema = con.sql(ORACLES[name]).arrow().schema
        for field in duck_schema:
            sd = spark_types.get(field.name)
            if sd is None:
                print(f"MISMATCH {name}: oracle column {field.name!r} missing in Spark")
                bad += 1
            elif not arrow_ok(sd, field.type):
                print(
                    f"MISMATCH {name}.{field.name}: spark={sd} duckdb_arrow={field.type}"
                )
                bad += 1
    print(f"{'FAIL' if bad else 'OK'}: {bad} type mismatches across {len(names)} oracles")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
