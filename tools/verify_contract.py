"""Run the driver contract the way the external driver does (see
.claude/skills/verify/SKILL.md): plain SparkSession, sf0.01 fixtures,
DuckDB oracle canon-compare for every oracled query.

Usage:  python tools/verify_contract.py [name ...]   (no names = all)
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__ as E  # noqa: E402
from etl_drone_sense_spark.schemas import TABLE_NAMES  # noqa: E402

SF = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")


def canon(df_):
    cols = sorted(df_.columns)

    def c(v):
        return "" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v)

    return sorted(tuple(c(r[col]) for col in cols) for r in df_.to_dict("records"))


def main() -> int:
    # The driver gate runs a PLAIN session (sf0.01 fits the 1g default).
    # The sf1 certification sweep reuses this harness on 10x data, where
    # local mode's single JVM needs a real heap — size it via env, the
    # way a cluster submit would size executors.
    builder = SparkSession.builder.master(
        os.environ.get("VERIFY_MASTER", "local[8]")
    )
    if mem := os.environ.get("VERIFY_DRIVER_MEM"):
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    rows = E.entry(spark).collect()
    print(f"entry(): {len(rows)} rows OK", flush=True)

    qs, os_ = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        # fixture tables are single files; synthesized sf1 replicas are
        # Spark-written DIRECTORIES named *.parquet — glob those
        p = f"{SF}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    only = set(sys.argv[1:])
    # Unknown names fail LOUDLY: a typo'd (or flag-style) argument used
    # to silently select NOTHING and print a vacuous ALL GREEN — the
    # worst possible failure mode for a verification tool.
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
        print("usage: verify_contract.py [name ...]  "
              "(fixture dir via VERIFY_SF_DIR)", file=sys.stderr)
        return 2
    failed = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF).toPandas()
            if name in os_:
                odf = con.execute(os_[name]).fetchdf()
                assert sorted(sdf.columns) == sorted(odf.columns), (
                    f"schema: {sorted(sdf.columns)} vs {sorted(odf.columns)}"
                )
                assert canon(sdf) == canon(odf), (
                    f"values ({len(sdf)} vs {len(odf)} rows)"
                )
                status = f"oracle-match ({len(sdf)} rows)"
            else:
                status = f"rows-only ({len(sdf)} rows)"
        except Exception as e:  # noqa: BLE001
            status = f"FAIL: {e}"
            failed.append(name)
        print(f"  {name}: {status} [{time.time() - t0:.1f}s]", flush=True)

    print(f"\n{'FAILED: ' + ', '.join(failed) if failed else 'ALL GREEN'}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
