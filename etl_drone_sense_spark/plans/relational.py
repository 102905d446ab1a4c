"""Relational operator corpus (SURVEY §2 Part B).

The reference implements none of these (its whole dataflow is one narrow
map — reference task.ts:123-214); they are the engine surface a general
analytics user needs, expressed as DataFrame programs with DuckDB oracle
SQL for the driver's differential gate.

Scale notes are attached per query; the recurring ones:
* always-tiny dimensions (region/nation, literal bucket tables) carry an
  explicit ``broadcast()`` hint; SF-dependent dims (customer, supplier)
  deliberately do NOT — below the broadcast threshold they broadcast
  anyway, above it the planner falls back to a shuffle join, whereas a
  hint would force a multi-GB broadcast at large SF;
* aggregations use map-side-combinable exact decimal sums (registry.dsum);
* every top-k is ``orderBy().limit()`` which Spark executes as
  TakeOrderedAndProject (per-partition heaps — no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import scoped_persist
from ..operators.skew import salted_join
from ..sources.readers import built_once, rebalance_for_compute
from .registry import davg, davg_sql, dsum, dsum_sql, register, t

# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql("l_quantity", "sum_qty")},
           {dsum_sql("l_extendedprice", "sum_base_price")},
           {dsum_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {dsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
           {davg_sql("l_quantity", "avg_qty")},
           {davg_sql("l_extendedprice", "avg_price")},
           {davg_sql("l_discount", "avg_disc")},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → 6-group hash agg.

    Scale: filter + column pruning push into the parquet scan; the agg is
    map-side partial (6 groups → bytes per task), so the shuffle is trivial
    at any SF. r16: the pre-r16 decimal(38,0) aggregates were CPU-heavy
    enough to pay for rebalancing an under-split source (measured 2× at
    sf0.1 then); with the lane-accumulated dsum the math is codegen'd
    longs and the round-robin costs more than it saves (0.30 s as-is vs
    0.60 s spread at sf0.1) — the rebalance is removed."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-09-01 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        dsum(charge, "sum_charge"),
        davg("l_quantity", "avg_qty"),
        davg("l_extendedprice", "avg_price"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact joins → agg → top-k.

    Scale: the filtered customer set broadcasts while it fits the
    threshold (no shuffle of orders on custkey) — deliberately NOT a
    broadcast() hint, because a hint forces the broadcast even when the
    segment is millions of rows at large SF; the size threshold makes the
    fallback to a shuffle join automatic. lineitem⨝orders shuffles on
    orderkey only after both sides' filters prune; top-10 is a heap."""
    cust = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1998-06-15 00:00:00").cast("timestamp")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle=f"""
    SELECT n.n_name,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("join", "agg"),
    bench=True,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join through region→nation→customer with a
    co-nation supplier constraint.

    Scale: region/nation are always tiny → explicit broadcast hints.
    customer and supplier get NO hint: below the broadcast threshold they
    broadcast anyway (the local plan), above it the planner falls back to
    a shuffle join — a hint would force a multi-GB broadcast at SF100+.
    Only orders⨝lineitem must shuffle at any scale."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    dims = F.broadcast(r.join(n, n.n_regionkey == r.r_regionkey)).join(
        c, c.c_nationkey == F.col("n_nationkey")
    )
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    return (
        dims.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer over a quarter.

    Scale: the quarter filter prunes orders at the scan; the returnflag
    filter prunes lineitem before the orderkey shuffle join. nation is
    always tiny → explicit broadcast; customer gets no hint (threshold
    decides, same policy as q5). Top-20 is a TakeOrderedAndProject heap —
    no global sort of the grouped output."""
    cust = t(spark, sf_dir, "customer")
    nat = F.broadcast(t(spark, sf_dir, "nation"))
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "agg", "outer"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution over ALL customers,
    including zero-order ones (the left join + count(col) null semantics;
    the reference fixture has no o_comment, so the classic NOT LIKE
    anti-filter is carried by o_orderpriority instead — same shape: a
    predicate on the NULL-supplying side inside the join condition).

    Scale: first agg shuffles on custkey (same key as the join — AQE
    reuses the exchange), second agg's key space is tiny (distinct order
    counts) → map-side combine collapses it."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(
        100.0
        * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                             THEN l.l_extendedprice * (1 - l.l_discount)
                             ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE)
        / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(28,6))) AS DOUBLE), 6
    ) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    """,
    tags=("join", "agg", "scalar"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share).

    Scale: the CASE folds the promo predicate into the aggregate, so one
    pass computes both sums — no second scan, no self-join. part is the
    build side of the partkey join (no hint — threshold decides at SF).
    Both sums are exact decimal → the double ratio is deterministic across
    partition orders, so round(..,6) is hash-stable."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(dsum(promo, "x"), dsum(disc_price, "y"))
        .select(
            F.round(F.lit(100.0) * F.col("x") / F.col("y"), 6).alias(
                "promo_revenue_pct"
            )
        )
    )


@register(
    "q18_large_volume",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {dsum_sql("l.l_quantity", "sum_qty")}
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("join", "agg", "subquery", "topk"),
    bench=True,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (HAVING-filtered semi join).

    Scale (r14 — r13 VERDICT item 6): the r13 form scanned lineitem
    TWICE — once for the HAVING filter's per-order sums, once to
    re-aggregate qualifying orders' lines — and carried the fleet's
    second-highest raw sf1 slope (4.2×). But the first aggregation
    already computes the exact quantity sum the OUTPUT needs, so the
    second scan was pure rework: one groupBy(l_orderkey) pass now
    produces BOTH the decimal HAVING sum and the fixed-point output
    ``sum_qty``; the post-filter relation (~1e-4 of orders — one row
    per qualifying order, already aggregated) joins into orders ⨝
    customer with no further lineitem contact and no re-aggregation
    (the group key is orderkey-functional, so the old final groupBy
    was a per-order identity). At 100 TB this is ONE fact-table scan +
    one map-combined exchange, then catalog-scale work; AQE picks
    broadcast vs shuffle for the tiny qualifying side at runtime.
    Hash unchanged: the HAVING predicate keeps the r13 decimal(28,6)
    sum verbatim, and ``sum_qty`` is dsum's fixed-point formula with a
    BIGINT accumulator instead of decimal(38,0) — measured 1.87 →
    1.07 s for the aggregate alone (decimal-128 accumulation is the
    cost), and exactness holds because per-ORDER micro-unit sums are
    bounded by 7 lines × 50e6 « 2^53 (the general dsum needs the
    128-bit lane only for unbounded groups). Measured sf0.1: the r13
    two-scan form 1.79 s quiet for its first aggregate alone; the full
    r14 query 0.94 s quiet median; sf1 slope 4.2× → 2.76×
    (BENCH_sf1.json — the residual slope is the orders⨝qualifying
    shuffle growing into the probe's fixed 32 cores)."""
    li = t(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("q"),
            (
                F.sum(
                    F.floor(
                        F.col("l_quantity").cast("double") * F.lit(1e6)
                        + F.lit(0.5)
                    ).cast("long")
                ).cast("double")
                / F.lit(1e6)
            ).alias("sum_qty"),
        )
        .filter(F.col("q") > 300)
        .select("l_orderkey", "sum_qty")
    )
    orders = t(spark, sf_dir, "orders").join(
        per_order, F.col("o_orderkey") == F.col("l_orderkey")
    )
    cust = t(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_bracket_disjunction",
    oracle=f"""
    SELECT {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
    tags=("join", "filter", "scalar"),
)
def q19_bracket_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive bracket predicates across the join.

    Scale: Catalyst derives the single-side implications of the OR —
    part prunes to the three brands, lineitem to the qty hull [1,50] —
    BEFORE the join (constraint propagation); only the residual
    disjunction evaluates post-join. The interesting check is that the
    brand IN-list reaches the part scan as a pushed filter."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    b = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#9")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(b)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q22_dormant_balance",
    oracle=f"""
    SELECT n.n_name, count(*) AS numcust,
           {dsum_sql("c.c_acctbal", "totacctbal")}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (
        SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    tags=("join", "agg", "subquery", "anti"),
)
def q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers dormant since 2000
    (uncorrelated scalar subquery + anti join; the fixture's c_phone-less
    customer table carries the country grouping via nation instead of
    phone prefixes — every fixture customer has SOME order, so dormancy
    is date-scoped to keep the anti join non-vacuous).

    Scale: the scalar avg is one tiny agg broadcast into the filter; the
    anti join shuffles on custkey against date-pruned orders (recent
    orders only — a small fraction of the lake at any SF)."""
    cust = t(spark, sf_dir, "customer")
    nat = F.broadcast(t(spark, sf_dir, "nation"))
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    recent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("n_name")
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {dsum_sql("l_extendedprice * l_discount", "revenue")},
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "filter", "scalar"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the pushdown benchmark.

    Scale: all three predicates (date range, discount band, quantity cap)
    push into the parquet scan as PushedFilters with row-group min/max
    skipping; the agg reduces to one row with map-side partials — the
    whole query is scan-bound, which is the point."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year —
    the same dimension table (nation) joined twice under a disjunctive
    cross-side predicate.

    Scale: both nation joins broadcast (always-tiny dim, two aliases);
    the pair disjunction can't split per-side beyond the 2-nation IN
    hull, which Catalyst DOES derive and push to both scans — supplier
    and customer prune to two nations' worth before the fact joins."""
    n1 = F.broadcast(t(spark, sf_dir, "nation")).alias("n1")
    n2 = F.broadcast(t(spark, sf_dir, "nation")).alias("n2")
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    pair = (
        (F.col("n1.n_name") == "NATION_1") & (F.col("n2.n_name") == "NATION_2")
    ) | ((F.col("n1.n_name") == "NATION_2") & (F.col("n2.n_name") == "NATION_1"))
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(n2, F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .filter(pair)
        .select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_vol"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("_vol", "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           round(
               CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_1' THEN volume
                                  ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(sum(CAST(volume AS DECIMAL(28,6))) AS DOUBLE), 6
           ) AS mkt_share
    FROM (
        SELECT year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA'
          AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("join", "agg"),
    bench=True,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's market
    for one part type, by order year — the widest join web in the set
    (8 tables, nation twice).

    Scale: region/nation broadcast; the p_type filter prunes part before
    its partkey join into lineitem (the most selective edge, so Catalyst
    starts there); the share is a conditional aggregate over ONE pass —
    no per-nation re-scan."""
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = t(spark, sf_dir, "customer")
    n1 = F.broadcast(t(spark, sf_dir, "nation")).alias("n1")
    n2 = F.broadcast(t(spark, sf_dir, "nation")).alias("n2")
    r = F.broadcast(t(spark, sf_dir, "region")).filter(F.col("r_name") == "ASIA")
    s = t(spark, sf_dir, "supplier")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(r, F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    num = F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
        F.lit(0)
    )
    return (
        base.groupBy("o_year")
        .agg(dsum(num, "_num"), dsum("volume", "_den"))
        .select(
            "o_year",
            F.round(F.col("_num") / F.col("_den"), 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {dsum_sql("l_extendedprice * (1 - l_discount)", "total_revenue")}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    tags=("join", "agg", "subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) hitting the quarter's maximum
    revenue — an aggregate reused by both the probe and its own scalar max
    (the classic view-reuse query).

    Scale: the revenue relation is one map-side-combinable agg keyed by
    suppkey; its scalar max is a one-row broadcast; the equality filter
    is exact because both sides are the same decimal-summed doubles.
    supplier joins only the (tiny) max-revenue survivors — broadcast."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    rev = scoped_persist(
        "relational.q15_revenue", rev
    )  # reused by the max subquery and the probe
    best = rev.agg(F.max("total_revenue").alias("_max"))
    top = (
        rev.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("_max"))
        .drop("_max")
    )
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(top), s.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity",
    oracle="""
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                 / 7.0, 6) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND l.l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey
      )
    """,
    tags=("join", "agg", "subquery", "scalar"),
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines below half their part's average quantity —
    a correlated aggregate subquery decorrelated into a per-part agg join.

    Scale: the per-part average is ONE agg over lineitem keyed by partkey
    (map-side partials; quantities are small ints so the double avg is
    exact), joined back on the same key — the shuffle is shared with the
    brand join under AQE instead of a per-row re-scan. 7.0 = the
    fixture's ship-date year span (1995-2001)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("_avg_qty")
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("_pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("_avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast(
                    "double"
                )
                / 7.0,
                6,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H completion tier (r8): the eight remaining query shapes. The fixture
# has no partsupp table and lineitem carries no commit/receipt dates or ship
# modes, so each query keeps its TPC-H PLAN SHAPE (the thing the engine must
# execute well) over the columns that exist:
#   * partsupp        → distinct (l_partkey, l_suppkey) pairs from lineitem,
#                       with unit cost min(l_extendedprice / l_quantity)
#   * "late shipment" → l_shipdate > o_orderdate + 90 days (q4) or
#                       l_returnflag = 'R' (q21)
#   * l_shipmode      → l_returnflag as the two-class line category (q12)
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eligible AS (
        SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
               n.n_name, ps.unit_cost
        FROM ps
        JOIN part p ON p.p_partkey = ps.l_partkey
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE p.p_type = 'ECONOMY' AND r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey, e.p_name,
           e.unit_cost AS min_cost
    FROM eligible e
    WHERE e.unit_cost = (
        SELECT min(e2.unit_cost) FROM eligible e2
        WHERE e2.p_partkey = e.p_partkey
    )
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.p_partkey
    LIMIT 100
    """,
    tags=("join", "subquery", "topk"),
    bench=True,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional supplier per part — a correlated
    MIN subquery over a five-table join web, decorrelated to a per-part
    min joined back on (partkey, cost).

    The fixture has no partsupp; the part-supplier catalog is the distinct
    (l_partkey, l_suppkey) relation with unit_cost = min unit price ever
    charged (IEEE division + MIN are bit-identical in both engines, so the
    equality probe against the per-part minimum is exact).

    Scale: ps is one map-side-combinable agg on (partkey, suppkey);
    the correlated min is a rank()==1 window over partkey — Spark plans
    it as WindowGroupLimit (per-partition top-1 heaps BEFORE the
    shuffle), and rank keeps min-cost TIES exactly like the oracle's
    equality probe. One pass over the join web — the agg+equality-probe
    formulation needed a persisted relation read twice and measured 25%
    slower at sf0.1. nation/region broadcast. Top-100 is a
    TakeOrderedAndProject heap with a total-order tie-break (acctbal
    desc, nation, supplier, partkey)."""
    li = t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = t(spark, sf_dir, "supplier")
    nat = F.broadcast(t(spark, sf_dir, "nation"))
    reg = F.broadcast(
        t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    )
    eligible = (
        ps.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(nat, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(reg, F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal",
            "n_name", "unit_cost",
        )
    )
    w = Window.partitionBy("p_partkey").orderBy("unit_cost")
    return (
        eligible.withColumn("_rk", F.rank().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.col("unit_cost").alias("min_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("join", "semi", "agg", "subquery"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority census of orders with at least one late
    line — a correlated EXISTS whose predicate spans BOTH sides
    (l_shipdate > o_orderdate + 90 days), so the semi join carries an
    equi key plus a residual cross-side condition.

    The fixture lineitem has no commit/receipt dates; "late" is shipped
    more than 90 days after the order date.

    Scale: the quarter filter prunes orders at the scan; the semi join
    shuffles on orderkey and short-circuits per key (no duplicate blowup,
    no distinct); the final 5-group agg is map-side trivial."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           {dsum_sql(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - 0.6 * p.p_retailprice * l.l_quantity",
               "sum_profit",
           )}
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%ring%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("join", "agg"),
    bench=True,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by nation and year — the widest
    fact-side join web after q8 (lineitem joined to part, supplier, orders,
    nation) under a part-name LIKE filter that cannot prune by min/max.

    The fixture has no ps_supplycost; cost is modeled as 60% of the part's
    retail price (same multiply-into-the-sum shape).

    Scale: the LIKE-filtered part relation is the selective side and
    broadcast-joins into lineitem below threshold (shuffle fallback above);
    supplier/nation broadcast; the orders join shuffles on orderkey only
    for surviving lines. The profit expression stays inside one
    whole-stage-codegen project; dsum keeps the (possibly negative)
    per-row profit exact."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%ring%"))
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    nat = F.broadcast(t(spark, sf_dir, "nation"))
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(nat, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit, "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q11_important_stock",
    oracle=f"""
    WITH val AS (
        SELECT l.l_partkey AS ps_partkey,
               {dsum_sql("l.l_extendedprice * l.l_quantity", "part_value")}
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY l.l_partkey
    )
    SELECT ps_partkey, part_value FROM val
    WHERE part_value > (
        SELECT CAST(sum(CAST(floor(part_value * 1000000 + 0.5)
                             AS DECIMAL(38,0))) AS DOUBLE) / 1000000
               * 2.0 / count(*)
        FROM val
    )
    ORDER BY part_value DESC, ps_partkey
    """,
    tags=("join", "agg", "subquery", "filter"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose regional traded value exceeds a
    threshold derived from the whole relation — a grouped aggregate
    filtered against an uncorrelated scalar computed from ITSELF. TPC-H
    scales its 0.0001 fraction by 1/SF to keep the query non-vacuous; the
    scale-free equivalent is 2× the mean per-part value (total × 2 / n).

    No partsupp: "stock value" is the lineitem trade value
    (extendedprice × quantity) routed through EUROPE suppliers.

    Scale: val is one keyed agg; it persists for its two consumers (the
    scalar total and the probe) so the supplier-routed join web runs once;
    the scalar is a one-row broadcast. The threshold comparison is exact
    cross-engine because BOTH sides re-quantize through the dsum fixed-
    point path (a plain double sum of the group values would be
    order-dependent)."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nat = F.broadcast(t(spark, sf_dir, "nation"))
    reg = F.broadcast(
        t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    )
    val = (
        li.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(nat, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(reg, F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_quantity"), "part_value"))
    )
    val = scoped_persist("relational.q11_val", val)
    total = val.agg(dsum("part_value", "_t"), F.count(F.lit(1)).alias("_n"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("_t") * 2.0 / F.col("_n"))
        .select("ps_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


@register(
    "q12_line_class_priority",
    oracle="""
    SELECT l.l_returnflag AS line_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag IN ('A', 'R')
      AND l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY line_class
    ORDER BY line_class
    """,
    tags=("join", "agg", "filter"),
)
def q12_line_class_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per-category census of high- vs low-priority
    orders — two complementary conditional aggregates (CASE-sums) over one
    join, the canonical "pivot a predicate into columns" shape.

    The fixture has no l_shipmode; l_returnflag ('A'/'R') is the two-class
    line category standing in for ship mode.

    Scale: the year + flag filters push to the lineitem scan; the join
    shuffles on orderkey (orders side prunes to the surviving keys under
    AQE); both CASE-sums ride the same map-side partial agg — integer
    counters, no numeric-parity risk."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_returnflag").alias("line_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("line_class")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#11'
      AND p.p_type NOT LIKE 'SMALL%'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    tags=("join", "agg", "anti", "subquery"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier census per part attribute triple,
    excluding a NOT IN supplier blacklist — anti join + count(DISTINCT)
    over a de-duplicated catalog relation.

    partsupp is the distinct (l_partkey, l_suppkey) relation; the
    "complaints" blacklist (the fixture has no s_comment) is low-balance
    suppliers (s_acctbal < 1000 — non-empty at every fixture SF).
    s_suppkey is non-nullable, so NOT IN ≡ anti join.

    Scale: the distinct collapses lineitem to catalog cardinality BEFORE
    any join; the blacklist is a broadcast anti join; part's attribute
    filters push to its scan. count(DISTINCT suppkey) per triple expands
    in the agg, but the group keys bound the expansion to catalog size."""
    li = t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 1000).select(
        "s_suppkey"
    )
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#11")
        & ~F.col("p_type").like("SMALL%")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        ps.join(
            F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@register(
    "q20_concentrated_suppliers",
    oracle=f"""
    WITH total AS (
        SELECT l_partkey, l_suppkey,
               {dsum_sql("l_quantity", "qty_all")}
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    recent AS (
        SELECT l_partkey, l_suppkey,
               {dsum_sql("l_quantity", "qty_97")}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
      AND s.s_suppkey IN (
          SELECT rc.l_suppkey
          FROM recent rc
          JOIN total tt ON tt.l_partkey = rc.l_partkey
                       AND tt.l_suppkey = rc.l_suppkey
          WHERE rc.l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
          )
          AND rc.qty_97 > 0.5 * tt.qty_all
      )
    ORDER BY s.s_suppkey
    """,
    tags=("join", "semi", "subquery", "agg"),
)
def q20_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers qualified through NESTED IN subqueries —
    an inner parts-list IN, a correlated per-(part,supplier) aggregate
    threshold (the 0.5 × sum half-qty test), and an outer supplier IN —
    all decorrelated to aggregates + semi joins.

    No ps_availqty: a supplier qualifies if, for some 'red%' part, their
    1997 shipments exceed half their ALL-TIME shipments of it (recent
    concentration — same agg-vs-scaled-agg comparison shape).

    Scale: both quantity rollups are one map-side agg each over the same
    scan (Spark reuses the exchange under AQE); the parts list is a
    broadcast semi join; the qualifying-supplier set collapses via
    distinct before the final semi join into supplier. dsum on both sides
    keeps the 0.5× comparison exact cross-engine."""
    li = t(spark, sf_dir, "lineitem")
    total = li.groupBy(
        F.col("l_partkey").alias("_tpk"), F.col("l_suppkey").alias("_tsk")
    ).agg(dsum("l_quantity", "qty_all"))
    recent = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity", "qty_97"))
    )
    red_parts = t(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    qualifying = (
        recent.join(
            F.broadcast(red_parts),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .join(
            total,
            (F.col("_tpk") == F.col("l_partkey"))
            & (F.col("_tsk") == F.col("l_suppkey")),
        )
        .filter(F.col("qty_97") > 0.5 * F.col("qty_all"))
        .select("l_suppkey")
        .distinct()
    )
    supp = t(spark, sf_dir, "supplier")
    nat = F.broadcast(t(spark, sf_dir, "nation"))
    reg = F.broadcast(
        t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    )
    return (
        supp.join(
            qualifying, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
        )
        .join(nat, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(reg, F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
    tags=("join", "semi", "anti", "agg", "subquery", "topk"),
    bench=True,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for a failed order's
    problem line — EXISTS (another supplier participated) plus NOT EXISTS
    (no OTHER supplier also flagged), both correlated to the same fact.

    No receipt/commit dates: the "kept waiting" line is l_returnflag='R'
    on an o_orderstatus='F' order.

    Scale: instead of two self-joins of lineitem (the naive EXISTS /
    NOT EXISTS transliteration — two extra shuffles of the biggest
    table), ONE scan feeds a two-level aggregate: (orderkey, suppkey)
    with the supplier's flagged-LINE count, then per orderkey —
    expressing it as two countDistincts instead makes Spark plan an
    Expand (2× the rows through the first shuffle) and measured 1.8×
    slower at sf0.1. A flagged supplier-pair qualifies iff its order
    has ≥2 suppliers and exactly 1 flagged supplier (necessarily
    itself), and numwait is the sum of its per-pair flagged-line counts
    — so the fact table is never re-scanned or re-joined at line grain;
    every relation past the first shuffle is order- or pair-grain. The
    oracle keeps the EXISTS / NOT EXISTS formulation, so the driver's
    hash gate doubles as an equivalence proof of the decorrelation.
    Top-100 heap with (numwait desc, s_name) total order."""
    li = t(spark, sf_dir, "lineitem")
    per_pair = li.groupBy(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    ).agg(
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("_n_r")
    )
    # r17 (r16 VERDICT item 5): the pair relation previously fed TWO
    # consumers (the per-order rollup and the flagged-pair probe), and
    # with nothing staged Spark recomputed it — two full lineitem scans
    # and two pair-grain shuffles. Since a qualifying order has EXACTLY
    # one flagged supplier, the order rollup can carry that supplier's
    # identity and line count along as max/sum-of-flagged aggregates —
    # ONE consumer, so ONE lineitem scan and one pair shuffle, and the
    # pair→order rejoin disappears entirely.
    per_order = per_pair.groupBy("_ok").agg(
        F.count(F.lit(1)).alias("_n_supp"),
        F.sum(F.when(F.col("_n_r") > 0, 1).otherwise(0)).alias("_n_flagged"),
        F.max(F.when(F.col("_n_r") > 0, F.col("_sk"))).alias("_flag_sk"),
        F.sum(F.when(F.col("_n_r") > 0, F.col("_n_r"))).alias("_flag_n"),
    )
    orders_f = t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    qualifying = (
        per_order.filter(
            (F.col("_n_supp") >= 2) & (F.col("_n_flagged") == 1)
        )
        .join(orders_f, F.col("_ok") == F.col("o_orderkey"), "left_semi")
        .select("_flag_sk", "_flag_n")
    )
    supp = t(spark, sf_dir, "supplier")
    return (
        qualifying
        .join(supp, F.col("s_suppkey") == F.col("_flag_sk"))
        .groupBy("s_name")
        .agg(F.sum("_flag_n").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count + multi count-distinct (Spark expands to a partial-agg expand;
    at scale prefer approx_count_distinct — see agg_approx_distinct)."""
    return t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           round(stddev_samp(l_extendedprice), 3) AS sd_price,
           median(l_quantity) AS med_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates. stddev rounded (engines differ in the last
    few ULPs of the M2 accumulation); median is exact in both."""
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 3).alias("sd_price"),
        F.median("l_quantity").alias("med_qty"),
    )


@register(
    "having_filter",
    oracle=f"""
    SELECT o_custkey, count(*) AS n_orders,
           {dsum_sql("o_totalprice", "total_spend")}
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 12
    """,
    tags=("agg", "filter"),
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "rollup_region_nation",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           grouping(r.r_name) AS g_region, grouping(n.n_name) AS g_nation,
           count(*) AS n_customers,
           {dsum_sql("c.c_acctbal", "total_balance")}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    tags=("agg", "rollup", "join"),
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup with GROUPING disambiguation of the null rows."""
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("long").alias("g_region"),
        F.grouping("n_name").cast("long").alias("g_nation"),
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", "total_balance"),
    )


@register(
    "cube_status_priority",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_status, grouping(o_orderpriority) AS g_priority,
           count(*) AS n_orders,
           {dsum_sql("o_totalprice", "total_price")}
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


@register(
    "grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items, {dsum_sql("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg",),
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via Spark SQL (registered temp view)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items, {dsum_sql("l_quantity", "sum_qty")}
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "pivot_priority_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a pinned value list (unpinned pivot needs an extra pass to
    discover values — never do that at 100 TB)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


@register(
    "unpivot_priority_status",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, n_orders
    FROM wide
    UNPIVOT (n_orders FOR status IN (f_cnt AS 'F', o_cnt AS 'O', p_cnt AS 'P'))
    ORDER BY o_orderpriority, status
    """,
    tags=("agg", "pivot"),
)
def unpivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — pivot_priority_status's inverse: the wide
    per-priority status counts fold back to (priority, status, n) rows.
    Wide→long reshape is the other half of the pivot surface (feature
    matrices → training rows); Spark's native ``unpivot`` is a zero-
    shuffle narrow expand, so the only exchange is the upstream agg's.

    Round-trip shape check: unpivot(pivot(x)) = the plain two-key
    groupBy — which is exactly what the oracle's UNPIVOT over the
    FILTER-pivoted CTE computes in DuckDB."""
    wide = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )
    return wide.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "status", "n_orders"
    ).orderBy("o_orderpriority", "status")


@register(
    "basket_pair_counts",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, count(*) AS n_baskets
    FROM pairs GROUP BY part_a, part_b
    HAVING count(*) >= 2
    ORDER BY n_baskets DESC, part_a, part_b
    LIMIT 50
    """,
    tags=("join", "agg", "topk"),
)
def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (the frequent-itemset k=2 pass): part
    pairs bought together in >= 2 orders — a self-join WITHIN the basket
    key, the one self-join shape that is safe at scale because the
    quadratic blowup is bounded by basket size (C(|basket|, 2), ~6 pairs
    for the fixture's ~4-line orders), never by corpus size.

    Scale: items collapses to distinct (order, part) first so multi-line
    duplicates can't square the pair count; the self-join shuffles both
    sides on orderkey (co-partitioned, one exchange each); the pair count
    is map-side combinable and the HAVING prunes the long tail before the
    top-50 heap. A basket-size cap (filter huge baskets) is the standard
    guard on real retail data — the fixture's baskets are bounded by
    construction."""
    items = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "_ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= 2)
        .orderBy(F.col("n_baskets").desc(), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_left_count",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS n_orders,
           {dsum_sql("coalesce(o.o_totalprice, 0)", "total_spend")}
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join", "agg"),
)
def join_left_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count of the null
    key = 0). Scale: pre-aggregate orders per custkey before the join to
    cut the shuffle — here expressed directly; AQE picks broadcast side."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0)), "total_spend"),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("join",),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — no duplication of the left side, right columns
    dropped; the right side is reduced to its join key before shuffling."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    tags=("join",),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "join_full_outer",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                FROM customer GROUP BY c_nationkey),
         ss AS (SELECT s_nationkey AS nk, count(*) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cc.nk, ss.nk) AS nationkey, cc.n_cust, ss.n_supp
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
    tags=("join", "agg"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    ss = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cc.join(ss, "nk", "full_outer").select(
        F.coalesce(cc.nk, ss.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, s.st AS status
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus AS st FROM orders) s
    """,
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = t(spark, sf_dir, "region").select("r_name")
    s = t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status")
    ).distinct()
    return r.crossJoin(s)


@register(
    "join_range_nonequi",
    oracle="""
    SELECT p.p_partkey, p.p_size, b.bucket_id
    FROM part p
    JOIN (VALUES (0, 0, 10), (1, 10, 25), (2, 25, 60)) AS b(bucket_id, lo, hi)
      ON p.p_size >= b.lo AND p.p_size < b.hi
    """,
    tags=("join",),
)
def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join against a small bucket table. Scale: the
    small side MUST broadcast (a non-equi condition otherwise forces
    nested-loop across a full shuffle)."""
    p = t(spark, sf_dir, "part")
    buckets = F.broadcast(
        p.sparkSession.createDataFrame(
            [(0, 0, 10), (1, 10, 25), (2, 25, 60)], "bucket_id INT, lo INT, hi INT"
        )
    )
    return p.join(
        buckets, (p.p_size >= buckets.lo) & (p.p_size < buckets.hi)
    ).select("p_partkey", "p_size", "bucket_id")


# ---------------------------------------------------------------------------
# Filters / sorts / set ops
# ---------------------------------------------------------------------------


@register(
    "filter_in_between_like",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice, p.p_name
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_returnflag IN ('A', 'R')
      AND l.l_quantity BETWEEN 10 AND 20
      AND p.p_name LIKE '%widget%'
      AND l.l_discount <> 0
    """,
    tags=("filter", "join"),
    bench=True,
)
def filter_in_between_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate surface: IN / BETWEEN / LIKE / <>; all push into the scans
    (verify with .explain → PushedFilters)."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(10, 20)
        & (F.col("l_discount") != 0)
    )
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    )
    return li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "p_name"
    )


@register(
    "sort_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    tags=("sort", "topk"),
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject (no full sort at any scale)."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "set_ops",
    oracle="""
    WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT 'both' AS src, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
    UNION ALL
    SELECT 'f_only' AS src, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)
    UNION ALL
    SELECT 'o_only' AS src, o_custkey FROM (SELECT o_custkey FROM o EXCEPT SELECT o_custkey FROM f)
    """,
    tags=("setop",),
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL (distinct set semantics)."""
    orders = t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f.intersect(o).select(F.lit("both").alias("src"), "o_custkey")
    f_only = f.subtract(o).select(F.lit("f_only").alias("src"), "o_custkey")
    o_only = o.subtract(f).select(F.lit("o_only").alias("src"), "o_custkey")
    return both.unionAll(f_only).unionAll(o_only)


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
    WHERE rn <= 3
    """,
    tags=("window", "topk"),
    bench=True,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number (unique-key tie-break). Scale: one
    shuffle on the partition key; with AQE skewed groups still sort locally."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    """,
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer (exact decimal accumulation)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS micros_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window",),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation with deterministic (ts, event_id) ordering."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("micros_since_prev"),
    )


@register(
    "window_rank_navigation",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           rank() OVER wt AS bal_rank,
           dense_rank() OVER wt AS bal_dense_rank,
           percent_rank() OVER wt AS bal_pct_rank,
           ntile(4) OVER wu AS bal_quartile,
           first_value(c_acctbal) OVER wf AS nation_top_bal,
           last_value(c_acctbal) OVER wf AS nation_bottom_bal
    FROM customer
    WINDOW wt AS (PARTITION BY c_nationkey ORDER BY floor(c_acctbal / 1000) DESC),
           wu AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
           wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
)
def window_rank_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/percent_rank (tie-tolerant ordering), ntile and
    first/last_value with an explicit full frame."""
    wt = Window.partitionBy("c_nationkey").orderBy(
        F.floor(F.col("c_acctbal") / 1000).desc()
    )
    wu = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wf = wu.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(wt).alias("bal_rank"),
        F.dense_rank().over(wt).alias("bal_dense_rank"),
        F.percent_rank().over(wt).alias("bal_pct_rank"),
        F.ntile(4).over(wu).alias("bal_quartile"),
        F.first("c_acctbal").over(wf).alias("nation_top_bal"),
        F.last("c_acctbal").over(wf).alias("nation_bottom_bal"),
    )


@register(
    "window_distribution_funcs",
    oracle="""
    SELECT c_custkey, c_nationkey,
           round(cume_dist() OVER wd, 9) AS bal_cume,
           nth_value(c_acctbal, 2) OVER wf AS nation_second_bal,
           round(c_acctbal - avg(c_acctbal) OVER wp, 6) AS bal_vs_nation_avg
    FROM customer
    WINDOW wd AS (PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey),
           wf AS (PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           wp AS (PARTITION BY c_nationkey)
    """,
    tags=("window",),
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining window-function tier after window_rank_navigation:
    cume_dist (distribution), nth_value over an explicit full frame, and
    an un-ordered whole-partition analytic (value vs partition average —
    the 'compare each row to its group aggregate without a join' shape).

    Scale: all three ride ONE shuffle on c_nationkey; the ordered and
    un-ordered frames share the exchange, the sort serves the first two.
    cume_dist is rounded(9): both engines compute rank/n in doubles but
    the division is the only float op, so 9 digits is far inside the
    shared precision; the avg delta rides the usual round(6)."""
    wd = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wf = wd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wp = Window.partitionBy("c_nationkey")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.cume_dist().over(wd), 9).alias("bal_cume"),
        F.nth_value("c_acctbal", 2).over(wf).alias("nation_second_bal"),
        F.round(
            F.col("c_acctbal") - F.avg("c_acctbal").over(wp), 6
        ).alias("bal_vs_nation_avg"),
    )


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------


@register(
    "string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           substr(p_name, 1, 4) AS name_prefix,
           length(p_name) AS name_len,
           replace(p_name, ' ', '_') AS name_snake,
           lpad(p_brand, 10, '#') AS brand_padded,
           concat_ws('-', p_brand, p_type) AS brand_type,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           string_split(p_name, ' ')[1] AS first_word,
           reverse(p_type) AS type_rev,
           instr(p_name, 'e') AS first_e
    FROM part
    """,
    tags=("scalar",),
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.lpad("p_brand", 10, "#").alias("brand_padded"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.element_at(F.split("p_name", " "), 1).alias("first_word"),
        F.reverse("p_type").alias("type_rev"),
        F.instr(F.col("p_name"), "e").cast("long").alias("first_e"),
    )


@register(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate) AS order_day,
           quarter(o_orderdate) AS order_quarter,
           date_trunc('month', o_orderdate) AS order_month_start,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_95,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
    FROM orders
    """,
    tags=("scalar",),
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = F.col("o_orderdate")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(od).cast("long").alias("order_year"),
        F.month(od).cast("long").alias("order_month"),
        F.dayofmonth(od).cast("long").alias("order_day"),
        F.quarter(od).cast("long").alias("order_quarter"),
        F.date_trunc("month", od).alias("order_month_start"),
        F.datediff(od, F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch_95"),
        (od + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.last_day(od).cast("timestamp").alias("month_end"),
    )


@register(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS disc_dev,
           l_extendedprice / l_quantity AS unit_price,
           power(l_quantity, 2) AS qty_sq,
           sqrt(l_extendedprice) AS price_sqrt,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(exp(l_discount), 6) AS disc_exp,
           CAST(sign(l_tax - 0.04) AS DOUBLE) AS tax_sign,
           CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k_ceil,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
           mod(l_orderkey, 7) AS key_mod,
           greatest(l_discount, l_tax) AS max_rate,
           least(l_discount, l_tax) AS min_rate
    FROM lineitem WHERE l_orderkey < 500
    """,
    tags=("scalar",),
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.signum(F.col("l_tax") - 0.04).alias("tax_sign"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_k_ceil"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_k_floor"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@register(
    "json_funcs",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_val
    FROM events
    """,
    tags=("scalar", "json"),
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from an embedded JSON string column (A2-adjacent:
    the schema-flexible path; from_json with a declared schema is the
    schema-strict path, exercised in tests)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.get_json_object("props", "$.missing").cast("long").alias("missing_val"),
    )


@register(
    "json_variant_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           count(*) - count(json_extract_string(props, '$.absent'))
               AS n_missing_absent
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("scalar", "json", "variant"),
)
def json_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: the JSON
    props column is parsed ONCE into the binary variant encoding, then
    typed paths are extracted with variant_get / try_variant_get and
    aggregated. At scale this is the open-table-format 'shredded JSON'
    path — parse cost paid once at ingest, extractions are cheap typed
    reads instead of per-query string re-parsing (get_json_object in
    json_funcs is the string-re-parse twin). The variant bytes themselves
    are engine-specific and never hashed; only extracted typed values
    surface."""
    ev = t(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("_v")
    )
    k = F.expr("variant_get(_v, '$.k', 'long')")
    absent = F.expr("try_variant_get(_v, '$.absent', 'string')")
    return (
        v.select("event_type", k.alias("_k"), absent.alias("_a"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
            (F.count(F.lit(1)) - F.count("_a")).alias("n_missing_absent"),
        )
        .orderBy("event_type")
    )


@register(
    "case_bucketing",
    oracle=f"""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 3000 THEN 'low'
                WHEN c_acctbal < 7000 THEN 'mid'
                ELSE 'high' END AS bal_bucket,
           count(*) AS n_customers,
           {dsum_sql("c_acctbal", "total_bal")}
    FROM customer GROUP BY 1
    """,
    tags=("scalar", "agg"),
)
def case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
        .alias("bal_bucket")
    )
    return (
        t(spark, sf_dir, "customer")
        .groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal", "total_bal"))
    )


# ---------------------------------------------------------------------------
# Subqueries (Catalyst decorrelation — SURVEY §4.2)
# ---------------------------------------------------------------------------

_SUBQ_EXISTS_SQL = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      AND c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'F')
"""

# Correlated scalar subquery: the per-customer average is an exact decimal
# mean so Spark's and DuckDB's per-group summation order cannot diverge on
# the > boundary.
_SUBQ_SCALAR_SQL = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice >
          (SELECT 1.5 * CAST(avg(CAST(o2.o_totalprice AS DECIMAL(28,6)))
                             AS DOUBLE)
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
"""


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        t(spark, sf_dir, n).createOrReplaceTempView(n)


@register("subquery_exists_notin", oracle=_SUBQ_EXISTS_SQL, tags=("subquery",))
def subquery_exists_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT IN. Catalyst rewrites both to joins (left
    semi / left anti) — check the plan, not just the answer: a 100 TB
    correlated subquery that ISN'T decorrelated re-scans orders per row."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SUBQ_EXISTS_SQL)


@register("subquery_scalar_correlated", oracle=_SUBQ_SCALAR_SQL, tags=("subquery",))
def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 1.5× above the customer's own
    mean) — decorrelates to an aggregate + equi-join on o_custkey."""
    _views(spark, sf_dir, "orders")
    return spark.sql(_SUBQ_SCALAR_SQL)


# ---------------------------------------------------------------------------
# Collection functions: higher-order arrays, maps, percentiles
# ---------------------------------------------------------------------------


@register(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS n_dims,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_component,
           (len(list_filter(embedding, x -> abs(x) > 2.0)) > 0) AS has_outlier
    FROM embeddings
    """,
    tags=("array", "higher-order"),
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/exists/aggregate) —
    pure Catalyst expressions over array<float>, no UDF, no explode: the
    per-row fold stays narrow and never shuffles element rows."""
    e = F.col("embedding")
    as_double = lambda x: x.cast("double")  # noqa: E731
    return t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size(e).cast("long").alias("n_dims"),
        F.round(
            F.sqrt(
                F.aggregate(
                    e, F.lit(0.0), lambda a, x: a + as_double(x) * as_double(x)
                )
            ),
            4,
        ).alias("l2_norm"),
        F.size(F.filter(e, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(F.array_max(e).cast("double"), 6).alias("max_component"),
        F.exists(e, lambda x: F.abs(x) > 2.0).alias("has_outlier"),
    )


@register(
    "map_funcs",
    oracle="""
    SELECT event_id,
           len(json_keys(props)) AS n_keys,
           array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
           json_extract_string(props, '$.k') AS k_val
    FROM events
    """,
    tags=("map", "json"),
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: JSON string → map<string,string> (schema-flexible
    decode), then map_keys/element_at. The map stays a value — no explode."""
    m = F.from_json(F.col("props"), "map<string,string>")
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(m, "k").alias("k_val"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS price_p25,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS price_median,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS price_p75,
           round(quantile_cont(l_quantity, 0.9), 4) AS qty_p90
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). The approx twin for 100 TB is
    ``approx_percentile`` (t-digest, engine-specific → rows-only check
    territory, same shape as agg_approx_distinct)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("price_p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("price_median"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("price_p75"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("qty_p90"),
    )


# ---------------------------------------------------------------------------
# Temporal: as-of join, range-frame windows
# ---------------------------------------------------------------------------


@register(
    "join_asof",
    oracle="""
    WITH clicks AS (SELECT user_id, event_id, ts, value FROM events
                    WHERE event_type = 'click'),
    purch AS (SELECT user_id, ts, max(value) AS purchase_value FROM events
              WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT c.user_id, c.event_id, c.ts, c.value,
           p.purchase_value AS purchase_value_asof, p.ts AS ts_asof
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    tags=("join", "temporal"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.temporal): each click is enriched with the
    user's latest at-or-before purchase. Oracle is DuckDB's native ASOF
    JOIN; the Spark side is the union+window formulation — one shuffle,
    no candidate-pair explosion (see operators/temporal.py docstring).
    The right side is pre-deduped per (user_id, ts) so 'latest' is
    well-defined in both engines."""
    from ..operators.temporal import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["purchase_value"],
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH clicks AS (SELECT user_id, event_id, ts, value FROM events
                    WHERE event_type = 'click'),
    purch AS (SELECT user_id, ts, max(value) AS purchase_value FROM events
              WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT c.user_id, c.event_id, c.ts, c.value,
           CASE WHEN p.ts >= c.ts - INTERVAL 48 HOUR
                THEN p.purchase_value END AS purchase_value_asof,
           CASE WHEN p.ts >= c.ts - INTERVAL 48 HOUR
                THEN p.ts END AS ts_asof
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    tags=("join", "temporal"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (pandas merge_asof's
    ``tolerance``): the latest at-or-before purchase enriches a click
    only when it is at most 48 hours old (the fixture's events are
    month-spread, so ~58% of matches survive — a real split, not a
    vacuous all-null column) — older state is noise, the
    sensor-fusion/feature-freshness rule every training pipeline needs
    (join_asof's unbounded backward fill would happily attach a
    week-old value). Unmatched and too-stale clicks keep NULLs, same
    row count as the left side.

    The Spark side is the union+window formulation with the tolerance
    applied as a post-projection NULL-out (the match itself is still
    the latest-at-or-before row — tolerance FILTERS, it never picks an
    older row); the oracle is DuckDB's NATIVE ASOF JOIN plus the same
    CASE — two independently-derived formulations, not a transcription.
    Scale: identical to join_asof — one shuffle on the key, no
    candidate-pair explosion, the projection is free."""
    from ..operators.temporal import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    j = asof_join(
        clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["purchase_value"],
    )
    fresh = F.col("ts_asof") >= F.col("ts") - F.expr("INTERVAL 48 HOUR")
    return j.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(fresh, F.col("purchase_value_asof")).alias(
            "purchase_value_asof"
        ),
        F.when(fresh, F.col("ts_asof")).alias("ts_asof"),
    )


@register(
    "events_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(t0, t1, INTERVAL '6 hours')) AS grid_ts
        FROM bounds
    ),
    obs AS (
        SELECT user_id, ts, max(value) AS value FROM events GROUP BY 1, 2
    )
    SELECT g.user_id, g.grid_ts,
           o.value AS value_ffill, o.ts AS observed_ts
    FROM grid g ASOF LEFT JOIN obs o
      ON g.user_id = o.user_id AND g.grid_ts >= o.ts
    """,
    tags=("temporal", "gapfill"),
    bench=True,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-time-grid resampling with forward fill: per user, a 6-hour
    grid spanning their activity, each point carrying the latest
    observation at-or-before it (the sensor/feature-store shape that turns
    irregular telemetry into fixed-step training rows).

    Scale: the grid generates from per-key bounds (one small agg), and the
    fill is the as-of union+window form — one shuffle on user_id, cost
    independent of gap width; no candidate-pair range join. Oracle is
    DuckDB's native ASOF JOIN over the same grid. Observations are
    pre-deduped per (user_id, ts) so 'latest' is well-defined."""
    from ..operators.temporal import asof_join

    ev = t(spark, sf_dir, "events")
    bounds = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("INTERVAL 6 HOURS"))
        ).alias("grid_ts"),
    )
    obs = ev.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    filled = asof_join(
        grid, obs, on="user_id", left_ts="grid_ts", right_ts="ts",
        right_cols=["value"],
    )
    return filled.select(
        "user_id",
        "grid_ts",
        F.col("value_asof").alias("value_ffill"),
        F.col("ts_asof").alias("observed_ts"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE)
               AS rev_30d,
           count(*) OVER w AS n_orders_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "temporal"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-customer trailing-30-day revenue.
    Spark RANGE frames need a numeric ordering → epoch seconds; inclusive
    [cur-30d, cur] matches DuckDB's INTERVAL PRECEDING semantics. Decimal
    window sums keep the frame arithmetic order-independent."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("rev_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


@register(
    "agg_skew_salted",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
    tags=("agg", "skew"),
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys.

    ``events.event_type`` has 5 values over the whole table — a direct
    groupBy puts each key's entire volume on one reducer. Phase 1 salts the
    key with a deterministic 16-way hash and pre-aggregates (each
    (key, salt) shard fits a task); phase 2 merges the 5×16 partials.
    Decimal partial sums make the two-phase result bit-identical to the
    single-phase oracle. Spark's own map-side partial agg + AQE skew
    handling often makes this unnecessary — the operator is the explicit,
    composable form for when a single reducer key still exceeds a task
    (e.g. count-distinct-like states that don't combine small)."""
    ev = t(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(16)))
    phase1 = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("_sum"),
        F.max("value").alias("_max"),
    )
    return phase1.groupBy("event_type").agg(
        F.sum("_n").alias("n_events"),
        F.sum("_sum").cast("double").alias("sum_value"),
        F.max("_max").alias("max_value"),
    )


@register(
    "string_distance",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_name, p_brand) AS name_brand_dist,
           levenshtein(p_name, reverse(p_name)) AS palindrome_dist
    FROM part
    """,
    tags=("scalar", "similarity"),
)
def string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar (fuzzy-matching primitive for entity
    resolution; at scale always applied AFTER a blocking join — see the
    LSH operators — never across the raw pair space)."""
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.levenshtein("p_name", "p_brand").cast("long").alias("name_brand_dist"),
        F.levenshtein("p_name", F.reverse(F.col("p_name")))
        .cast("long")
        .alias("palindrome_dist"),
    )


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS price_median_exact,
           round(quantile_cont(l_quantity, 0.9), 4) AS qty_p90_exact,
           TRUE AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (the 100 TB path; exact twin is
    agg_percentiles), upgraded from rows-only to a BOUNDED-ERROR oracle:
    the sketch value itself is engine-specific and never hashed — instead
    the query emits the exact percentile (cross-engine-checkable) plus a
    ``within_tol`` flag asserting the KLL/GK guarantee in-plan: a sketch
    with accuracy=10000 returns a real data value whose rank is within
    n/10000 of the target, so it must lie between the exact interpolated
    percentiles at q ± 0.02 (two orders of magnitude of slack). The oracle
    emits TRUE unconditionally; a sketch outside the band hash-mismatches
    and the driver flags it — the tolerance check rides the hash gate."""
    li = t(spark, sf_dir, "lineitem")
    # One percentile agg per column (array of percentages = one sorted
    # pass each), not one per (column, percentage) — 8 separate aggs
    # measured ~2× slower at sf0.1.
    g = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("med_a"),
        F.percentile_approx("l_quantity", 0.9, 10000).alias("p90_a"),
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.48), F.lit(0.5), F.lit(0.52))
        ).alias("price_pcts"),
        F.percentile(
            "l_quantity", F.array(F.lit(0.88), F.lit(0.9), F.lit(0.92))
        ).alias("qty_pcts"),
    )
    return g.select(
        "l_returnflag",
        F.round(F.col("price_pcts")[1], 4).alias("price_median_exact"),
        F.round(F.col("qty_pcts")[1], 4).alias("qty_p90_exact"),
        (
            F.col("med_a").between(F.col("price_pcts")[0], F.col("price_pcts")[2])
            & F.col("p90_a").between(F.col("qty_pcts")[0], F.col("qty_pcts")[2])
        ).alias("within_tol"),
    )


@register(
    "unpivot_metrics",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value
    FROM orders
    """,
    tags=("setop", "pivot"),
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot/melt (the inverse of pivot_priority_status).
    Narrow: each input row emits one row per value column — no shuffle."""
    return (
        t(spark, sf_dir, "orders")
        .withColumn("o_custkey_d", F.col("o_custkey").cast("double"))
        .unpivot(
            ids=["o_orderkey"],
            values=["o_totalprice", "o_custkey_d"],
            variableColumnName="metric",
            valueColumnName="value",
        )
        .withColumn(
            "metric",
            F.when(F.col("metric") == "o_custkey_d", "o_custkey").otherwise(
                F.col("metric")
            ),
        )
    )


@register(
    "null_semantics",
    oracle="""
    SELECT o_orderkey,
           nullif(o_orderstatus, 'O') AS status_or_null,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
           (nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM
            nullif(o_orderpriority, '1-URGENT')) AS null_safe_eq,
           (nullif(o_orderstatus, 'O') IS NULL) AS is_open,
           count(nullif(o_orderstatus, 'O')) OVER () AS n_non_null
    FROM orders
    """,
    tags=("scalar", "null"),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: nullif/coalesce, null-safe equality (<=> /
    IS NOT DISTINCT FROM), IS NULL, and count's null-skipping — the
    semantics joins and aggs silently depend on."""
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    prio_or_null = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_filled"),
        status_or_null.eqNullSafe(prio_or_null).alias("null_safe_eq"),
        status_or_null.isNull().alias("is_open"),
        F.count(status_or_null).over(Window.partitionBy()).alias("n_non_null"),
    )


@register(
    "set_ops_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (bag semantics — each copy pairs off),
    complementing the distinct-set variants in set_ops."""
    orders = t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersectAll(o)


@register(
    "join_range_binned",
    oracle="""
    SELECT o.o_orderkey, p.p_partkey, o.o_totalprice, p.p_retailprice
    FROM orders o
    JOIN part p
      ON o.o_totalprice >= p.p_retailprice - 100.0
     AND o.o_totalprice <  p.p_retailprice + 100.0
    """,
    tags=("join", "range"),
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable range join (operators.temporal.range_join_binned): orders
    whose total price falls in a ±100 band around a part's retail price.
    The oracle is the plain non-equi join; the Spark side bins both sides
    to a 200-unit grid and equi-joins — the shape that survives when
    NEITHER side is broadcastable (the broadcast-NLJ twin is
    join_range_nonequi)."""
    from ..operators.temporal import range_join_binned

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        (F.col("p_retailprice") - 100.0).alias("lo"),
        (F.col("p_retailprice") + 100.0).alias("hi"),
    )
    return range_join_binned(o, p, "o_totalprice", "lo", "hi", 200.0).select(
        "o_orderkey", "p_partkey", "o_totalprice", "p_retailprice"
    )


@register(
    "join_skewed_salted",
    oracle=f"""
    WITH fact AS (
        SELECT CASE WHEN l_partkey % 100 < 90 THEN 1
                    ELSE (l_partkey % 97) + 2 END AS hot_key,
               l_extendedprice * (1 - l_discount) AS rev
        FROM lineitem
    ),
    dim AS (
        SELECT p_partkey AS hot_key, p_type AS key_attr
        FROM part WHERE p_partkey <= 98
    )
    SELECT d.key_attr,
           count(*) AS n,
           {dsum_sql("f.rev", "revenue")}
    FROM fact f JOIN dim d USING (hot_key)
    GROUP BY d.key_attr
    """,
    tags=("join", "skew"),
    bench=True,
)
def join_skewed_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key fact⨝dim via explicit salting (operators/skew.py).

    The derived key sends ~90% of lineitem to ONE value — the shape that
    wedges a sort-merge join's hot reducer at scale. ``salted_join``
    shards the hot key 16 ways (fact hashed on its unique natural key,
    dim replicated ×16); the follow-up aggregate merges shards with
    map-side-combinable decimal sums. At local/bench scale Catalyst may
    still broadcast the tiny dim (fine — broadcast also kills skew); the
    salted plan is the guarantee for dims too big to broadcast, asserted
    shuffle-side in tests/test_plans.py."""
    li = t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_partkey") % 100 < 90, F.lit(1).cast("long"))
        .otherwise((F.col("l_partkey") % 97 + 2).cast("long"))
        .alias("hot_key"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        "l_orderkey",
        "l_linenumber",
    )
    dim = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 98)
        .select(F.col("p_partkey").alias("hot_key"), F.col("p_type").alias("key_attr"))
    )
    joined = salted_join(
        fact, dim, "hot_key", salt_on=("l_orderkey", "l_linenumber"), salts=16
    )
    return joined.groupBy("key_attr").agg(
        F.count(F.lit(1)).alias("n"), dsum("rev", "revenue")
    )


@register(
    "join_bloom_prefiltered",
    oracle="""
    SELECT l.l_orderkey,
           count(*) AS n_items,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN (SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT') o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_orderkey
    """,
    tags=("join", "bloom", "prefilter"),
    bench=True,
)
def join_bloom_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered equi-join (operators/bloomjoin.py — the
    engine-owned analogue of Spark's runtime bloom filter and
    Iceberg/Trino bloom pushdown): a selective dim (urgent orders,
    ~1-in-5) would normally shuffle ALL of lineitem into the join; here
    one executor pass builds a bitset over the dim keys (numpy double
    hashing, per-partition partials OR-merged on the driver — bitset
    traffic, never keys), broadcasts it into an Arrow-batched
    ``might_contain`` predicate, and only fact rows that might match
    reach the shuffle. Bloom false positives ride through and die in
    the exact join, so the result is hash-identical to the plain join —
    which IS the oracle. The fact-side filter sits before the exchange
    (plan-asserted in tests/test_plans.py); the built-in optimizer
    injection (``runtime.bloomFilter``) is plan-asserted separately —
    this operator is for when the heuristics don't fire or the build
    side is another engine's artifact (a committed manifest bloom).

    Scale shape: dim pass is narrow; bitset size is the only driver
    traffic (num_partitions × m/8 bytes); fact filter is Arrow-batched
    JVM→Python on ONE long column; the surviving shuffle carries
    O(selectivity · fact) rows instead of O(fact)."""
    from ..operators.bloomjoin import bloom_prefilter_join

    fact = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    dim = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    joined = bloom_prefilter_join(
        fact, dim, "l_orderkey", "o_orderkey", m_bits=1 << 20
    )
    return joined.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Data governance: one-pass profiling, declarative expectations
# ---------------------------------------------------------------------------


@register(
    "profile_columns",
    oracle=f"""
    SELECT 'o_orderkey' AS col, count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_v,
           CAST(max(o_orderkey) AS DOUBLE) AS max_v,
           {davg_sql('o_orderkey', 'mean_v')}
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           {davg_sql('o_custkey', 'mean_v')}
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
           {davg_sql('o_totalprice', 'mean_v')}
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), NULL, NULL, NULL
    FROM orders
    """,
    tags=("profile", "governance"),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling — the data-quality snapshot every pipeline
    publishes with a dataset (null rate, cardinality, numeric extent,
    mean). ALL columns' statistics are computed in a SINGLE wide
    aggregate over one scan (Catalyst fuses them into one partial-agg
    pipeline; count(DISTINCT ..) per column expands to one expand-node
    pass, still one shuffle), then unpivoted to long form — never one
    scan per column, which is the naive profiler's 10×-scan trap at
    100 TB. Means use exact decimal sums (registry.davg) for cross-engine
    hash parity; non-numeric columns carry NULL extents."""
    o = t(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    agg = o.agg(
        *[
            x
            for c in ("o_orderkey", "o_custkey", "o_totalprice")
            for x in (
                (n - F.count(c)).alias(f"{c}__nn"),
                F.countDistinct(c).alias(f"{c}__nd"),
                F.min(c).cast("double").alias(f"{c}__mn"),
                F.max(c).cast("double").alias(f"{c}__mx"),
                davg(c, f"{c}__av"),
            )
        ],
        (n - F.count("o_orderstatus")).alias("o_orderstatus__nn"),
        F.countDistinct("o_orderstatus").alias("o_orderstatus__nd"),
    )
    rows = [
        F.struct(
            F.lit(c).alias("col"),
            F.col(f"{c}__nn").alias("n_null"),
            F.col(f"{c}__nd").alias("n_distinct"),
            F.col(f"{c}__mn").alias("min_v"),
            F.col(f"{c}__mx").alias("max_v"),
            F.col(f"{c}__av").alias("mean_v"),
        )
        for c in ("o_orderkey", "o_custkey", "o_totalprice")
    ] + [
        F.struct(
            F.lit("o_orderstatus").alias("col"),
            F.col("o_orderstatus__nn").alias("n_null"),
            F.col("o_orderstatus__nd").alias("n_distinct"),
            F.lit(None).cast("double").alias("min_v"),
            F.lit(None).cast("double").alias("max_v"),
            F.lit(None).cast("double").alias("mean_v"),
        )
    ]
    return agg.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


@register(
    "validate_expectations",
    oracle="""
    SELECT 'orderkey_unique' AS rule,
           count(*) - count(DISTINCT o_orderkey) AS violations
    FROM orders
    UNION ALL
    SELECT 'custkey_not_null', count(*) - count(o_custkey) FROM orders
    UNION ALL
    SELECT 'totalprice_non_negative',
           count(CASE WHEN o_totalprice < 0 THEN 1 END) FROM orders
    UNION ALL
    SELECT 'status_in_domain',
           count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END)
    FROM orders
    UNION ALL
    SELECT 'custkey_references_customer', count(*)
    FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    tags=("governance", "expectations"),
)
def validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data expectations (Delta constraints / Great-
    Expectations shape): per-rule violation counts as data, not
    exceptions — the gate a pipeline consults before publishing a
    snapshot. Row-local rules (uniqueness, null, range, domain) fuse into
    ONE aggregate over one scan; the referential rule is a LEFT ANTI
    broadcast join counted in the same output relation. At 100 TB the
    anti join's dim side (customer keys) broadcasts and the whole check
    stays one fact-table pass."""
    o = t(spark, sf_dir, "orders")
    local = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "orderkey_unique"
        ),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("custkey_not_null"),
        F.count(F.when(F.col("o_totalprice") < 0, 1)).alias(
            "totalprice_non_negative"
        ),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("status_in_domain"),
    )
    rules = [
        "orderkey_unique",
        "custkey_not_null",
        "totalprice_non_negative",
        "status_in_domain",
    ]
    long = local.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"), F.col(r).alias("violations")
                    )
                    for r in rules
                ]
            )
        ).alias("p")
    ).select("p.*")
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orphans = (
        o.join(
            F.broadcast(cust),
            o.o_custkey == cust.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("custkey_references_customer").alias("rule"), "violations")
    )
    return long.unionByName(orphans)


@register(
    "profile_drift_psi",
    oracle="""
    WITH b AS (
        SELECT CAST(least(floor(o_totalprice / 62500), 7) AS BIGINT) AS bucket,
               count(*) FILTER (WHERE o_orderdate
                                < TIMESTAMP '1998-01-01 00:00:00') AS n_ref,
               count(*) FILTER (WHERE o_orderdate
                                >= TIMESTAMP '1998-01-01 00:00:00') AS n_cur
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM b)
    SELECT bucket,
           CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           round(
               (CAST(n_cur + 1 AS DOUBLE) / (t_cur + 8)
                - CAST(n_ref + 1 AS DOUBLE) / (t_ref + 8))
               * ln((CAST(n_cur + 1 AS DOUBLE) / (t_cur + 8))
                    / (CAST(n_ref + 1 AS DOUBLE) / (t_ref + 8))), 6
           ) AS psi_contrib
    FROM b CROSS JOIN tot
    ORDER BY bucket
    """,
    tags=("governance", "drift", "agg"),
)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring between two table epochs: per-bucket
    Population Stability Index contributions of o_totalprice, reference
    epoch (orders before 1998) vs current (1998+). The standard
    training-data drift gate (PSI > 0.2 ⇒ investigate) — emitted
    per-bucket rather than pre-summed so the alert can localize WHICH
    price band moved, and so the oracle needs no cross-bucket
    float-summation order.

    Determinism: bucket counts are exact ints in ONE pass (conditional
    counts — no second scan, no join between epochs); the Laplace-smoothed
    ratios (+1 / +n_buckets, so an empty bucket never hits ln(0)) and the
    single ln() per bucket are identical IEEE expressions in both
    engines, rounded at 6 — the module's transcendental convention.

    Scale: one shuffle on the 8-bucket key with map-side partials; the
    totals are a broadcast one-row aggregate. At 100 TB this runs as one
    pass over each epoch's partition range with stats-pruned scans."""
    ref_cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    o = t(spark, sf_dir, "orders")
    b = (
        o.select(
            F.least(F.floor(F.col("o_totalprice") / 62500), F.lit(7))
            .cast("long")
            .alias("bucket"),
            (F.col("o_orderdate") < ref_cut).alias("_is_ref"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.when(F.col("_is_ref"), 1)).alias("n_ref"),
            F.count(F.when(~F.col("_is_ref"), 1)).alias("n_cur"),
        )
    )
    tot = b.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + 8)
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + 8)
    return (
        b.join(F.broadcast(tot))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
                "psi_contrib"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "governance_quarantine_split",
    oracle="""
    WITH flags AS (
        SELECT o_orderkey, o_totalprice,
               o_totalprice > 400000 AS v_price,
               o_orderstatus = 'P' AS v_status
        FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           CASE WHEN v_price OR v_status
                THEN 'quarantine' ELSE 'pass' END AS disposition,
           CASE WHEN v_price AND v_status THEN 'price_cap,status_settled'
                WHEN v_price THEN 'price_cap'
                WHEN v_status THEN 'status_settled'
                ELSE '' END AS rules
    FROM flags
    """,
    tags=("governance", "expectations", "lake"),
)
def governance_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation enforcement as a SPLIT WRITE, not just a violation
    count (the validate_expectations gate composed with table_commit,
    VERDICT r5 item 7): rows passing every row-local rule commit to the
    clean table; violating rows commit to a quarantine table TAGGED with
    the comma-joined ids of the rules they broke (fixed rule order, so
    the tag is deterministic). The registered relation is the ROUND TRIP
    — both committed tables read back and unioned with their disposition
    — so the driver hash certifies that the split lost nothing, dropped
    nothing into both sides, and preserved the rule attribution, against
    a plain SQL restatement of the rules.

    Scale shape: rules are row-local, so the flagged relation is ONE
    narrow scan, scoped-persisted and consumed by the two filtered
    commits (no second fact-table pass); each commit is the manifest
    CAS protocol (object-store honest). Rules chosen to actually FIRE on
    the fixture (price cap: ~20% of orders; status 'P': ~34%) so the
    certified quarantine is never vacuous. Built once per source
    generation (fingerprint-keyed), then a lazy two-table readback."""
    import os as _os

    from ..caching import scoped_persist
    from ..sources import table_commit as TC

    v_price = F.col("o_totalprice") > 400000
    v_status = F.col("o_orderstatus") == "P"
    rules = (
        F.when(v_price & v_status, F.lit("price_cap,status_settled"))
        .when(v_price, F.lit("price_cap"))
        .when(v_status, F.lit("status_settled"))
        .otherwise(F.lit(""))
    )

    def build(root):
        flagged = scoped_persist(
            "relational.quarantine_flags",
            t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", rules.alias("rules"))
        )
        TC.commit(
            flagged.filter(F.col("rules") == "").drop("rules"),
            _os.path.join(root, "clean"),
        )
        TC.commit(
            flagged.filter(F.col("rules") != ""),
            _os.path.join(root, "quarantine"),
        )
        return root

    root = built_once(sf_dir, "orders", "sg_quarantine_", build)
    clean = TC.read_table(spark, _os.path.join(root, "clean")).select(
        "o_orderkey",
        "o_totalprice",
        F.lit("pass").alias("disposition"),
        F.lit("").alias("rules"),
    )
    quar = TC.read_table(spark, _os.path.join(root, "quarantine")).select(
        "o_orderkey",
        "o_totalprice",
        F.lit("quarantine").alias("disposition"),
        "rules",
    )
    return clean.unionByName(quar)


@register(
    "avro_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate
    FROM orders WHERE o_orderkey % 5 = 2
    """,
    tags=("source", "avro"),
)
def avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro file-format scan end-to-end, driver-certified: an orders
    slice is written as REAL Avro object container files (three files,
    deflate + null + snappy codecs, multi-block —
    sources/avrolite.write_avro; snappy rides pyarrow's bundled
    implementation, r8)
    and read back through ``read_avro_records``, which in this
    connector-less container exercises the engine's own dependency-free
    ``format("avrolite")`` Python DataSource (zigzag varints, sync-marker
    blocks, raw-DEFLATE inflate, nullable unions, timestamp-micros). The
    readback must equal the plain SQL projection of the same source rows
    — a varint, block-boundary, union-branch, or timestamp-scale bug
    anywhere in the codec shifts values and hash-fails.

    Scale posture: executor-side decode, driver touches only metadata
    (the dronesense DataSource pattern). The scan passes a fixture-sized
    ``split_target_bytes`` so each multi-block container file fans out
    to several BLOCK-ALIGNED byte-range partitions (r7:
    sources/avrolite.build_split_index — the multi-GB-file path), making
    the driver row certify the SPLIT read, not just whole-file decode;
    results must be byte-identical either way. Built once per source
    generation (fingerprint-keyed); later calls are a lazy scan."""
    from ..sources.readers import read_avro_records

    landing = _avro_landing(sf_dir)
    return read_avro_records(
        spark, landing, options={"split_target_bytes": str(16 * 1024)}
    )


def _avro_landing(sf_dir: str) -> str:
    """Build (once per source generation) the two-file multi-codec Avro
    landing that avro_scan and stream_avro_scan read."""
    import os as _os

    from ..sources import avrolite as AL

    def build(landing):
        import glob as _glob

        import pyarrow.parquet as pq

        src = f"{sf_dir}/orders.parquet"
        parts = (
            sorted(_glob.glob(f"{src}/*.parquet"))
            if _os.path.isdir(src)
            else [src]
        )

        def rows_where(pred):
            # bounded-memory fixture build: stream arrow batches, never
            # materialize the whole slice as python dicts (review catch
            # r6 — write_avro consumes any iterable). The two writer
            # calls each make their own pass — a deliberate trade: one
            # extra columnar scan of a fixture slice vs holding either
            # half (or a two-sink writer refactor) in the build path
            for part in parts:
                pf = pq.ParquetFile(part)
                for batch in pf.iter_batches(
                    batch_size=10_000,
                    columns=[
                        "o_orderkey",
                        "o_custkey",
                        "o_totalprice",
                        "o_orderstatus",
                        "o_orderdate",
                    ],
                ):
                    for r in batch.to_pylist():
                        if r["o_orderkey"] % 5 == 2 and pred(r):
                            yield r

        schema = {
            "type": "record",
            "name": "orders",
            "fields": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_custkey", "type": ["null", "long"]},
                {"name": "o_totalprice", "type": ["null", "double"]},
                {"name": "o_orderstatus", "type": ["null", "string"]},
                {
                    "name": "o_orderdate",
                    "type": {
                        "type": "long",
                        "logicalType": "timestamp-micros",
                    },
                },
            ],
        }
        # deterministic four-file split by key (a length-based split
        # would need the whole slice in memory); one file per codec so
        # the driver row certifies deflate + null + snappy + zstandard
        # (r8 — snappy/zstd ride pyarrow's bundled implementations) in
        # one readback
        codecs = ("deflate", "null", "snappy", "zstandard")
        for i, codec in enumerate(codecs):
            AL.write_avro(
                _os.path.join(landing, f"part-000{i + 1}.avro"),
                schema,
                rows_where(
                    lambda r, i=i: (r["o_orderkey"] // 5) % len(codecs) == i
                ),
                codec=codec,
                block_records=500,
            )
        return landing

    return built_once(sf_dir, "orders", "sg_avro_", build)


@register(
    "stream_avro_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate
    FROM orders WHERE o_orderkey % 5 = 2
    """,
    tags=("source", "avro", "streaming"),
)
def stream_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Avro landing zone as a REAL micro-batch STREAM (r7):
    ``spark.readStream.format("avrolite")`` over the same three-file
    multi-codec landing as avro_scan, drained AvailableNow to a memory sink — the
    AppendOnlyLandingStreamReader offset protocol (checkpointed
    file-count offsets, prefix-hash enforcement) carried by the Avro
    source. Decode is invocation-agnostic, so the BATCH oracle is the
    streaming oracle, exactly the stream_drone_features_flat pattern."""
    from ..sources import avrolite as AL
    from ..streaming.pipeline import run_to_memory

    landing = _avro_landing(sf_dir)
    AL.register(spark)
    stream = spark.readStream.format("avrolite").load(landing)
    return run_to_memory(stream, "avro_stream", output_mode="append")


def _arrow_landing(sf_dir: str) -> str:
    """Build (once per source generation) the three-file multi-codec
    Arrow IPC landing that arrowipc_scan reads: an orders slice split
    deterministically by key across uncompressed / LZ4-frame / ZSTD
    files, 256-row record batches so every file is MULTI-batch and the
    footer-indexed split path always has batch ranges to hand out."""
    import os as _os

    import duckdb as _duck

    from ..sources import arrowipc as AI

    def build(landing):
        src = f"{sf_dir}/orders.parquet"
        glob = f"{src}/*.parquet" if _os.path.isdir(src) else src
        con = _duck.connect()
        codecs = (None, "lz4", "zstd")
        for i, codec in enumerate(codecs):
            tbl = con.execute(
                "SELECT o_orderkey, o_custkey, o_totalprice,"
                " o_orderstatus, o_orderdate"
                f" FROM '{glob}'"
                f" WHERE o_orderkey % 5 = 3 AND (o_orderkey // 5) % 3 = {i}"
                " ORDER BY o_orderkey"
            ).arrow()
            AI.write_arrow_ipc(
                _os.path.join(landing, f"part-000{i + 1}.arrows"),
                tbl,
                compression=codec,
                max_chunksize=256,
            )
        con.close()
        return landing

    return built_once(sf_dir, "orders", "sg_arrow_", build)


@register(
    "arrowipc_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate
    FROM orders WHERE o_orderkey % 5 = 3
    """,
    tags=("source", "arrow"),
)
def arrowipc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather V2) file-format scan end-to-end,
    driver-certified (r12 — the columnar-interchange gap in the format
    matrix: parquet/JSON/CSV/ORC/text/Avro/XML all have rows; ``.arrows``
    is what pyarrow/polars/DuckDB pipelines hand around): an orders
    slice is written as REAL multi-batch IPC files (three files —
    uncompressed, LZ4-frame, ZSTD buffer compression; 256-row record
    batches) and read back through the engine's ``format("arrowipc")``
    Python DataSource (sources/arrowipc.py). The readback must equal the
    plain SQL projection of the same source rows — a footer-index,
    batch-range, codec, or timestamp-unit bug shifts values and
    hash-fails.

    Scale posture: the driver reads ONLY footer metadata (batch counts)
    to group record batches into ~split_target_bytes partitions; each
    executor memory-maps its file and yields its batch range AS ARROW —
    the DataSource Arrow fast path, no Python-object row materialization
    anywhere in the scan. The fixture passes a small split target so the
    driver row certifies the SPLIT read (multiple batch-range partitions
    per file), not just whole-file decode."""
    from ..sources import arrowipc as AI

    landing = _arrow_landing(sf_dir)
    AI.register(spark)
    return (
        spark.read.format("arrowipc")
        .options(split_target_bytes=str(16 * 1024))
        .load(landing)
    )


@register(
    "stream_arrowipc_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate
    FROM orders WHERE o_orderkey % 5 = 3
    """,
    tags=("source", "arrow", "streaming"),
)
def stream_arrowipc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow IPC landing zone as a REAL micro-batch STREAM (r12):
    ``spark.readStream.format("arrowipc")`` over the same three-codec
    landing as arrowipc_scan, drained AvailableNow to a memory sink —
    the AppendOnlyLandingStreamReader offset protocol (checkpointed
    file-count offsets, prefix-hash enforcement) carried by the Arrow
    source, exactly the avrolite/dronesense pattern. Decode is
    invocation-agnostic, so the BATCH oracle is the streaming oracle."""
    from ..sources import arrowipc as AI
    from ..streaming.pipeline import run_to_memory

    landing = _arrow_landing(sf_dir)
    AI.register(spark)
    stream = spark.readStream.format("arrowipc").load(landing)
    return run_to_memory(stream, "arrow_stream", output_mode="append")


@register(
    "arrowipc_sink_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate
    FROM orders WHERE o_orderkey % 7 = 4
    """,
    tags=("sink", "arrow"),
)
def arrowipc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC WRITE path end-to-end, driver-certified (r12 — the sink
    twin of arrowipc_scan): an orders slice flows through the
    executor-parallel ``write_arrow_ipc_records`` sink — built on
    ``mapInArrow``, so rows cross to Python as Arrow batches and are
    written as Arrow batches with ZSTD buffer compression, one file per
    partition with an atomic rename publish — and is read back through
    ``format("arrowipc")``. The readback must equal the plain SQL
    projection of the same source rows: a schema-mapping, batch-write,
    codec, or timestamp-unit bug on EITHER side of the roundtrip shifts
    values and hash-fails. Built once per source generation
    (fingerprint-keyed); later calls are a lazy scan."""
    from ..sources import arrowipc as AI

    def build(out):
        sliced = (
            t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 7 == 4)
            .select(
                "o_orderkey", "o_custkey", "o_totalprice",
                "o_orderstatus", "o_orderdate",
            )
        )
        AI.write_arrow_ipc_records(sliced, out, compression="zstd")
        return out

    out = built_once(sf_dir, "orders", "sg_arrow_sink_", build)
    AI.register(spark)
    return spark.read.format("arrowipc").load(out)


@register(
    "avro_sink_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate
    FROM orders WHERE o_orderkey % 7 = 3
    """,
    tags=("sink", "avro"),
)
def avro_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro WRITE path end-to-end, driver-certified (r7 — the sink twin
    of avro_scan): an orders slice flows through the executor-parallel
    ``write_avro_records`` sink (one container file per partition,
    schema derived from the DataFrame, block-buffered streaming encode,
    atomic per-file publish — sources/avrolite.py) and is read back
    through the avrolite scan. The readback must equal the plain SQL
    projection of the same source rows — an encode-side varint, union-
    branch, timestamp-scale, or block-flush bug shifts values and
    hash-fails. Scan + sink close the Avro surface in both directions.
    Since r8 the sink writes SNAPPY-coded blocks (pyarrow's bundled
    implementation + the spec's trailing CRC32 of the uncompressed
    data), so with the scan fixture's deflate/null/snappy files every
    supported codec is driver-certified in BOTH directions.

    Scale posture: the sink is mapPartitionsWithIndex — write
    parallelism = input partitioning, no driver materialization (the
    returned count is the only driver traffic)."""
    from ..sources import avrolite as AL
    from ..sources.readers import read_avro_records

    def build(out):
        src = (
            t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 7 == 3)
            .select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                "o_orderstatus",
                "o_orderdate",
            )
        )
        AL.write_avro_records(src, out, codec="snappy")
        return out

    out = built_once(sf_dir, "orders", "sg_avro_sink_", build)
    return read_avro_records(spark, out)


@register(
    "csv_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 11 = 4
    """,
    tags=("source", "csv"),
)
def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV file-format scan end-to-end, driver-certified (r9 VERDICT
    item 2 — the scan category's oracle evidence was parquet/Avro-only;
    csv/orc had tests but no driver row). An orders slice is written as
    headered CSV through Spark's native writer (executor-parallel, one
    file per partition) and read back with an EXPLICIT schema in
    FAILFAST mode — the reference's typed-decode posture (task.ts:66-72
    validates every record against the flow schema and fails loudly);
    schema inference is never trusted. Microsecond ``timestampFormat``
    on BOTH sides makes the timestamp roundtrip exact regardless of
    sub-second components, and doubles survive because Spark writes
    shortest-roundtrip representations. The readback must equal the
    plain SQL projection of the same source rows — any quoting, escape,
    null-marker, or timestamp-format bug shifts values and hash-fails.

    Scale posture: CSV decode is executor-side and splittable
    (uncompressed files split by byte ranges, newline-aligned); the
    explicit schema means no inference pre-pass over the data. The
    fixture is built once per source generation; later calls are a lazy
    scan with pushed column pruning."""
    import os as _os

    cols = [
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        "o_orderdate",
        "o_orderpriority",
    ]
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

    def build(work: str) -> str:
        landing = _os.path.join(work, "orders")
        (
            t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 11 == 4)
            .select(*cols)
            .write.option("header", "true")
            .option("timestampFormat", ts_fmt)
            .csv(landing)
        )
        return landing

    landing = built_once(sf_dir, "orders", "sg_csv_", build)
    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, "
        "o_orderstatus STRING, o_orderdate TIMESTAMP, o_orderpriority STRING"
    )
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", ts_fmt)
        .option("mode", "FAILFAST")
        .csv(landing)
        .select(*cols)
    )


@register(
    "orc_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 11 = 7
    """,
    tags=("source", "orc"),
)
def orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC file-format scan end-to-end, driver-certified (r9 VERDICT
    item 2, the columnar sibling of csv_scan): an orders slice is
    written as ORC through Spark's native writer and read back through
    the vectorized ORC reader. ORC is a typed columnar format, so the
    roundtrip is exact by construction; the driver row certifies the
    engine's wiring (write → footer/stripe metadata → vectorized read)
    against the plain SQL projection of the same source rows.

    Scale posture: ORC scans split by stripe, carry min/max stripe
    statistics for predicate pushdown, and decode executor-side into
    columnar batches (``spark.sql.orc.enableVectorizedReader`` defaults
    on) — at 100 TB this is the same scan class as parquet. Fixture
    built once per source generation; later calls are a lazy scan."""
    import os as _os

    cols = [
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        "o_orderdate",
        "o_orderpriority",
    ]

    def build(work: str) -> str:
        landing = _os.path.join(work, "orders")
        (
            t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 11 == 7)
            .select(*cols)
            .write.orc(landing)
        )
        return landing

    landing = built_once(sf_dir, "orders", "sg_orc_", build)
    return spark.read.orc(landing).select(*cols)


@register(
    "xml_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 11 = 9
    """,
    tags=("source", "xml"),
)
def xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML file-format scan end-to-end (r11 — completes the text-format
    matrix: parquet/JSON/CSV/ORC/text/Avro/XML): an orders slice is
    written as row-tagged XML through Spark 4's NATIVE xml source
    (the spark-xml package was merged upstream in Spark 4.0) and read
    back with an EXPLICIT schema in FAILFAST mode — the same
    typed-decode posture as csv_scan (task.ts:66-72; inference never
    trusted). Entity escaping (&, <, >) is the writer's job and the
    reader's to undo — the priority strings and any markup-significant
    bytes roundtrip exactly; microsecond ``timestampFormat`` on both
    sides pins the timestamp encoding. The readback must equal the
    plain SQL projection of the same source rows.

    Scale posture: XML rows are parsed executor-side per file split
    (rowTag framing); the explicit schema means no sampling inference
    pass. Fixture built once per source generation under the shared
    landing lock."""
    import os as _os

    cols = [
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        "o_orderdate",
        "o_orderpriority",
    ]
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

    def build(work: str) -> str:
        landing = _os.path.join(work, "orders")
        (
            t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 11 == 9)
            .select(*cols)
            .write.option("rootTag", "orders")
            .option("rowTag", "order")
            .option("timestampFormat", ts_fmt)
            .format("xml")
            .save(landing)
        )
        return landing

    landing = built_once(sf_dir, "orders", "sg_xml_", build)
    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, "
        "o_orderstatus STRING, o_orderdate TIMESTAMP, o_orderpriority STRING"
    )
    return (
        spark.read.schema(schema)
        .option("rowTag", "order")
        .option("timestampFormat", ts_fmt)
        .option("mode", "FAILFAST")
        .format("xml")
        .load(landing)
        .select(*cols)
    )
