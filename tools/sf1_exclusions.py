"""Close the sf1 oracle exclusions (r6 VERDICT item 2; reworked r13).

SF1_CERT.md certified 145/148 queries by direct hash compare at the 10×
fixture; the rest were excluded for ORACLE/COMPARE-side cost, not engine
failures. This harness certifies each with an alternative:

* ``dedup_cluster_stats`` / ``corpus_split_leakage_safe`` /
  ``dedup_keep_best`` — the DuckDB recursive-CTE closure times out at
  sf1 (Σ|component|² tuples). r13 (r12 VERDICT item 5): each query runs
  TWICE in-engine — once as registered (min-label PROPAGATION
  connected components) and once with the CC step swapped for the
  structurally independent STAR-CONTRACTION implementation
  (operators/graph.connected_components_contract: different recurrence,
  different join shapes, edge rewiring instead of label flooding) — and
  the full outputs must match canonically. Everything downstream of the
  CC swap (LSH pairs, md5 coins, quality scores, windows) is the
  query's own certified code, so a disagreement isolates the closure.
  This replaces the pre-r13 DRIVER-SIDE sequential union-find harness
  (319-429 s single-threaded walls) with distributed verification; the
  union-find ground truth lives on in tests/test_graph.py at unit
  scale, where the contraction operator is pinned against it directly.
* ``geo_radius_join`` — the registered oracle is the DELIBERATE
  quadratic join (1.5×10⁹ candidates at sf1). Here DuckDB runs an
  INDEPENDENT latitude-band blocked formulation; with the
  blocked-vs-quadratic equivalence already driver-certified at
  sf0.01/sf0.1, engine-vs-blocked at sf1 completes the two-step
  transitivity.
* ``dedup_simhash`` — the narrow 16-bit config emits 312M pairs at sf1
  (excluded by design; its docstring pins the measurement). The
  occupancy rule's config at this scale IS ``dedup_simhash_adaptive``
  (12-bit cap width, ~500k pairs): certify IT by direct hash compare
  against the width-independent 48-bit oracle.

Writes SF1_EXCLUSIONS.json. Needs the kept sf1 fixture
(.scale_probe/sf1_full_x10 — run ``tools/lane.py --scale 10 --samples 0``
first) and a sized driver heap (VERIFY_DRIVER_MEM=24g).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_drone_sense_spark.schemas import TABLE_NAMES  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, ".scale_probe", "sf1_full_x10")


def canon(df_):
    cols = sorted(df_.columns)

    def c(v):
        return "" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v)

    return sorted(tuple(c(r[col]) for col in cols) for r in df_.to_dict("records"))


def _two_path_cc(spark, name: str) -> dict:
    """Run registry query ``name`` twice — propagation CC (as
    registered) vs star-contraction CC (the independent verifier) — and
    compare the full outputs canonically. See the module docstring."""
    from etl_drone_sense_spark.operators import graph as G
    from etl_drone_sense_spark.plans.registry import get

    t0 = time.time()
    a = get(name).fn(spark, SF1).toPandas()
    t_prop = round(time.time() - t0, 1)

    orig = G.connected_components

    def contract_cc(edges, src="id_a", dst="id_b", **_ignored):
        # same (node, component) contract; max_iters/narrow_shuffle are
        # propagation-loop knobs the contraction path has no use for
        return G.connected_components_contract(edges, src, dst)

    t1 = time.time()
    G.connected_components = contract_cc
    try:
        b = get(name).fn(spark, SF1).toPandas()
    finally:
        G.connected_components = orig
    t_contract = round(time.time() - t1, 1)
    return {
        "match": sorted(a.columns) == sorted(b.columns)
        and canon(a) == canon(b),
        "rows": int(len(a)),
        "rows_contract": int(len(b)),
        "wall_s": round(time.time() - t0, 1),
        "wall_propagation_s": t_prop,
        "wall_contraction_s": t_contract,
        "method": "two independent in-engine CC algorithms (min-label "
        "propagation vs star contraction) through the query's own "
        "downstream pipeline; full canonical output compare",
    }


def check_cluster_stats(spark) -> dict:
    return _two_path_cc(spark, "dedup_cluster_stats")


def check_split_leakage(spark) -> dict:
    return _two_path_cc(spark, "corpus_split_leakage_safe")


def check_keep_best(spark) -> dict:
    return _two_path_cc(spark, "dedup_keep_best")


def check_geo_radius(spark, con) -> dict:
    from etl_drone_sense_spark.functions.geodesy import haversine_sql
    from etl_drone_sense_spark.plans.drone import _RADIUS_M
    from etl_drone_sense_spark.plans.registry import get

    t0 = time.time()
    blocked_sql = f"""
    WITH cust AS (
        SELECT c_custkey,
               CAST(((c_custkey * 7) % 120) - 60 + 0.25 AS DOUBLE) AS dlat,
               CAST(((c_custkey * 13) % 340) - 170 + 0.25 AS DOUBLE) AS dlon
        FROM customer
    ),
    poi AS (
        SELECT s_suppkey,
               CAST(((s_suppkey * 31) % 120) - 60 + 0.5 AS DOUBLE) AS plat,
               CAST(((s_suppkey * 17) % 340) - 170 + 0.5 AS DOUBLE) AS plon
        FROM supplier
    ),
    poib AS (
        SELECT s_suppkey, plat, plon,
               CAST(floor(plat) AS BIGINT) + d.d AS band
        FROM poi CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) d
    ),
    cand AS (
        SELECT c.c_custkey, p.s_suppkey, c.dlat, c.dlon, p.plat, p.plon
        FROM (SELECT *, CAST(floor(dlat) AS BIGINT) AS band FROM cust) c
        JOIN poib p USING (band)
    )
    SELECT c_custkey, s_suppkey,
           round({haversine_sql('dlat', 'dlon', 'plat', 'plon')}, 4) AS dist_m
    FROM cand
    WHERE round({haversine_sql('dlat', 'dlon', 'plat', 'plon')}, 4)
          <= {_RADIUS_M}
    """
    odf = con.execute(blocked_sql).fetchdf()
    sdf = get("geo_radius_join").fn(spark, SF1).toPandas()
    return {
        "match": sorted(sdf.columns) == sorted(odf.columns)
        and canon(sdf) == canon(odf),
        "rows": int(len(sdf)),
        "oracle_rows": int(len(odf)),
        "wall_s": round(time.time() - t0, 1),
        "method": "independent DuckDB latitude-band blocked join "
        "(blocked-vs-quadratic already certified at sf0.01/sf0.1)",
    }


def check_simhash_adaptive(spark, con) -> dict:
    from etl_drone_sense_spark.plans.registry import get

    t0 = time.time()
    spec = get("dedup_simhash_adaptive")
    sdf = spec.fn(spark, SF1).toPandas()
    odf = con.execute(spec.oracle).fetchdf()
    return {
        "match": sorted(sdf.columns) == sorted(odf.columns)
        and canon(sdf) == canon(odf),
        "rows": int(len(sdf)),
        "oracle_rows": int(len(odf)),
        "wall_s": round(time.time() - t0, 1),
        "method": "direct hash compare of the adaptive config (12-bit "
        "derived width at sf1) against the width-independent oracle; "
        "the fixed 16-bit twin stays excluded by design (312M pairs)",
    }


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    if not os.path.isdir(SF1):
        print(f"missing sf1 fixture at {SF1}; run tools/lane.py --scale 10 --samples 0")
        return 2

    builder = SparkSession.builder.master(
        os.environ.get("VERIFY_MASTER", "local[16]")
    )
    if mem := os.environ.get("VERIFY_DRIVER_MEM", "24g"):
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t_ in TABLE_NAMES:
        p = f"{SF1}/{t_}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t_} AS SELECT * FROM '{src}'")

    checks = {
        "dedup_cluster_stats": lambda: check_cluster_stats(spark),
        "corpus_split_leakage_safe": lambda: check_split_leakage(spark),
        "geo_radius_join": lambda: check_geo_radius(spark, con),
        "dedup_simhash_adaptive": lambda: check_simhash_adaptive(spark, con),
        "dedup_keep_best": lambda: check_keep_best(spark),
    }
    only = set(sys.argv[1:])
    unknown = only - set(checks)
    if unknown:
        print(f"unknown check names: {sorted(unknown)}", file=sys.stderr)
        return 2
    # named-subset runs MERGE into the existing report (same convention
    # as tools/lane.py's slope merge) so a targeted re-cert keeps the others
    report = {}
    out_path = os.path.join(REPO, "SF1_EXCLUSIONS.json")
    if only and os.path.isfile(out_path):
        with open(out_path) as f:
            report = json.load(f)
    for name, fn in checks.items():
        if only and name not in only:
            continue
        report[name] = fn()
        print(f"{name}: {report[name]}", flush=True)

    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    ok = all(r["match"] for r in report.values())
    print("ALL MATCHED" if ok else "MISMATCH", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
