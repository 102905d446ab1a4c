"""Query registry: every operator the engine claims, as a named pair of
(a Spark DataFrame program, an ANSI-SQL DuckDB oracle).

This feeds ``__spark_entry__.queries()`` / ``oracle_sql()``, ``bench.py``
and the differential tests.

Numeric-parity conventions (SURVEY §7.4):
* double sums over UNBOUNDED groups go through the ``dsum``/``dsum_sql``
  helpers below: quantize per row with ``floor(x*1e6 + 0.5)``
  (IEEE-identical in every engine), sum as exact integers (DECIMAL(38,0)
  — order-independent, so Spark's partial-aggregation order can't
  diverge from DuckDB's), then take the identical int→double + /1e6
  rounding sequence in both engines (see the r6 note at dsum below —
  the previous decimal(28,6)-cast convention diverged by one ULP past
  2^53 scaled units because the engines' decimal→double casts round
  differently). Scope: this convention is the HELPERS' contract; a
  handful of inline query/oracle pairs keep the older
  ``sum(cast(x as decimal(28,6)))``→double shape DELIBERATELY — their
  groups are time- or key-bounded (windowed/sessionized event-value
  sums, conditional TPC-H aggregates) and sit orders of magnitude under
  the 2^53-scaled-unit divergence ceiling even at 100× (SF1_CERT.md
  scope note). Any NEW unbounded-group sum must use the helpers;
* results of transcendental math are ``round(.., 6)`` inside the query;
* top-k queries always carry a unique-key tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver does a weaker rows-only check
    tags: tuple[str, ...]
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = (), bench: bool = False
):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, tuple(tags), bench)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table scan with declared schema."""
    return read_table(spark, sf_dir, name)


# --- exact-sum helpers (see module docstring) -------------------------------
#
# r6 convention change (sf1 certification finding): the old shape —
# sum(cast(x as decimal(28,6))) cast to double — is exact through the sum,
# but the FINAL decimal→double conversion takes different paths per
# engine: Spark's BigDecimal.doubleValue() is a correctly-rounded single
# step, while DuckDB converts the scaled int128 to double and THEN
# divides by 10^scale (two roundings). Below ~2^53 scaled units the paths
# coincide; at sf1 a 5.4M-row group's sum crossed it and the engines
# landed one ULP apart (join_skewed_salted, caught by the 10× oracle
# sweep). The fix makes BOTH engines take the IDENTICAL two-step path:
# per-row fixed-point floor(x*1e6 + 0.5) (IEEE-identical everywhere, the
# convention the streaming state operators already use), exact integer
# sum (DECIMAL(38,0) — a 128-bit accumulator in both engines, never
# wraps), then int→double (correctly rounded in both) followed by one
# shared /1e6. Same 6-decimal semantic. The GROUP SUM has no scale
# ceiling; the PER-ROW input must satisfy |x| < 2^63/1e6 ≈ 9.2e12
# (Spark's floor(double) lands in BIGINT) — every dsum consumer feeds
# prices/quantities/values ≤ ~1e7, six orders inside the domain. A
# per-row value outside it needs a dedicated decimal formulation, not
# this helper.

# r16 (optimization round, guide §2.3 "narrower types"): the decimal(38,0)
# accumulator is the EXACTNESS anchor but also the measured cost of every
# dsum-bearing aggregate — Spark's Decimal sum updates a 128-bit BigDecimal
# buffer per row, outside the primitive codegen fast path (q18's r14 rework
# measured one such aggregate at 1.87 s vs 1.07 s with a long accumulator;
# the ml_ols 10-moment shape re-measured 1.12 s decimal vs 0.39 s lanes).
# The lane formulation below keeps the IDENTICAL result: the per-row
# micro-unit value v = floor(x*1e6 + 0.5) (a long, by the per-row domain
# bound above) is decomposed into four 17-bit lanes
#     v = ((hi*2^17 + m2)*2^17 + m1)*2^17 + m0,
#       m_i = (v >> 17i) & 0x1FFFF  (non-negative),  hi = v >> 51
# (arithmetic shift = floor division, so the identity holds for negative v
# in two's complement). Each lane is summed as a plain LONG — pure codegen
# primitives — and the lanes are recombined IN DECIMAL(38,0) once per
# GROUP, so the final integer is bit-identical to the old decimal per-row
# sum, and the decimal→double cast stays the same correctly-rounded single
# step. Overflow safety: |lane| < 2^17 per row ⇒ a group of n rows sums to
# < n·2^17, safe while n ≤ 2^46 ≈ 7.0e13 rows PER GROUP (the top lane is
# bounded by 2^12 per row — stricter); 100 TB lineitem is ~6e11 rows, two
# orders inside the bound. The combined decimal magnitude is ≤ 2^109 ≈
# 6.5e32 < 10^38, inside decimal(38,0). NULL semantics match: all four
# lanes are null exactly when v is null, sum skips the same rows, and an
# all-null group yields null through the combine exactly like the old
# decimal sum.

_LANE_BITS = 17
_LANE_MASK = (1 << _LANE_BITS) - 1


def _dsum_micro(col: Column | str) -> Column:
    """Exact Σ floor(x*1e6 + 0.5) as decimal(38,0), lane-accumulated."""
    c = F.col(col) if isinstance(col, str) else col
    v = F.floor(c.cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long")
    lanes = [
        F.sum(F.shiftright(v, i * _LANE_BITS).bitwiseAND(F.lit(_LANE_MASK)))
        for i in range(3)
    ]
    lanes.append(F.sum(F.shiftright(v, 3 * _LANE_BITS)))
    total = lanes[3].cast("decimal(38,0)")
    for i in (2, 1, 0):
        total = total * F.lit(1 << _LANE_BITS) + lanes[i].cast("decimal(38,0)")
    return total


def dsum(col: Column | str, alias: str) -> Column:
    return (_dsum_micro(col).cast("double") / F.lit(1e6)).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (
        _dsum_micro(col).cast("double") / F.lit(1e6) / F.count(c)
    ).alias(alias)


# DECIMAL(38,0), not HUGEINT: the SQL renderings are parsed by BOTH
# DuckDB (oracles) and Spark SQL (queries that express grouping
# sets/pivots as SQL text), and DECIMAL(38,0) means the same exact
# 128-bit integer accumulator in each; its cast to DOUBLE is the same
# correctly-rounded single step in both engines.

def dsum_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(sum(CAST(floor(({expr}) * 1000000 + 0.5) AS DECIMAL(38,0))) "
        f"AS DOUBLE) / 1000000 AS {alias}"
    )


def davg_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(sum(CAST(floor(({expr}) * 1000000 + 0.5) AS DECIMAL(38,0))) "
        f"AS DOUBLE) / 1000000 / count({expr}) AS {alias}"
    )


def _load() -> None:
    # Import for registration side-effects.
    from . import curation, drone, extensions, relational  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {n: s.fn for n, s in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load()
    return {n: s.oracle for n, s in REGISTRY.items() if s.oracle is not None}


def get(name: str) -> QuerySpec:
    _load()
    return REGISTRY[name]


def bench_queries() -> dict[str, QueryFn]:
    _load()
    return {n: s.fn for n, s in REGISTRY.items() if s.bench}
