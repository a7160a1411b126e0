"""SURVEY.md §2 group X6 — all 22 TPC-H query shapes on the driver tables,
plus the derived ``partsupp`` table they need.

Several templates are re-targeted at the columns the driver schema has (no
commitdate / shipmode columns) while keeping each query's *shape*: EXISTS
semi-join (q4), pure scan-agg (q6), CASE-conditional agg (q12/q14),
correlated scalar subqueries planned as joins (q2/q17/q20), OR-of-ANDs
pushdown predicate (q19), nested IN subqueries (q20), and q21 against
derived receipt/commit dates (see its docstring).

The driver schema ships no ``partsupp``. ``partsupp`` derives a
DETERMINISTIC one from the tables that do exist — a pure integer function
of ``part`` keys and the supplier count, written identically in Spark and
in the DuckDB oracle, so both engines materialize the exact same rows and
q2/q9/q11/q16/q20 run their real correlated-subquery semantics:

- 4 suppliers per part (the TPC-H partsupp cardinality):
  ``ps_suppkey = (p_partkey*4 + i) % S`` for i in 0..3 — distinct for any
  S ≥ 4, uniform supplier load (every supplier serves P*4/S parts), and
  0-based to match the driver's 0-based keys.
- ``ps_availqty = (p_partkey*7 + i*131) % 9999 + 1`` (1..9999, the
  dbgen range).
- ``ps_supplycost_cents = (p_partkey*13 + i*97) % 99900 + 100`` — money
  kept in INTEGER CENTS ($1.00..$999.99) so every aggregate over it
  (sums, mins, products with integral quantities) is exact BIGINT
  arithmetic on both engines; divide by 100.0 only at the output edge.

partsupp is part-dimension-sized (4 rows per part — ~8 M rows at SF 100),
derives map-only from the part scan plus one broadcast scalar (the
supplier count), and is broadcastable wherever part itself is. Unlike
dbgen there is no guarantee lineitem's (l_partkey, l_suppkey) pairs all
appear in it — the driver generated lineitem independently — so q9/q20
join through the pairs that DO match (~4/S of lineitem rows), identically
on both engines.

Determinism rules (PERF.md): money sums in DECIMAL (associative, bit-stable
at any parallelism); ratios divide double-cast SUMS in a fixed order; scalar
thresholds are derived from exact sums so both engines compare identical
doubles; supply costs live in BIGINT cents, so q2's min-equality re-join
cannot flip on a borderline tie across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compute import spread_if_underparallel
from ..functions.money import SQL_CHARGE, SQL_DISC_PRICE, charge, dec2, disc_price
from ..registry import load, register


# The SAME derivation as SQL, for embedding in oracle CTEs:
# WITH partsupp AS ({PARTSUPP_SQL}) ...
PARTSUPP_SQL = """
    SELECT p_partkey AS ps_partkey,
           (p_partkey * 4 + gen.i) % (SELECT count(*) FROM supplier)
               AS ps_suppkey,
           (p_partkey * 7 + gen.i * 131) % 9999 + 1 AS ps_availqty,
           (p_partkey * 13 + gen.i * 97) % 99900 + 100
               AS ps_supplycost_cents
    FROM part CROSS JOIN (VALUES (0), (1), (2), (3)) gen(i)
"""


def partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp as a DataFrame: part scan → 4-way explode →
    integer arithmetic; the supplier count enters as a broadcast scalar
    (1-row cross join — the repo's standard scalar-subquery pattern)."""
    part = load(spark, sf_dir, "part").select("p_partkey")
    s_n = load(spark, sf_dir, "supplier").agg(F.count("*").alias("_s_n"))
    return (
        part.crossJoin(F.broadcast(s_n))
        .select(
            "p_partkey",
            "_s_n",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("_i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") * 4 + F.col("_i")) % F.col("_s_n")).alias(
                "ps_suppkey"
            ),
            ((F.col("p_partkey") * 7 + F.col("_i") * 131) % 9999 + 1).alias(
                "ps_availqty"
            ),
            (
                (F.col("p_partkey") * 13 + F.col("_i") * 97) % 99900 + 100
            ).alias("ps_supplycost_cents"),
        )
    )


# ------------------------------------------------- X6: TPC-H-style composites


@register(
    "x6_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_base_price,
           CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
           CAST(sum({SQL_CHARGE}) AS DOUBLE) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def x6_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q1 pricing summary (adapted to driver schema); money math
    in exact decimal (functions.money) so sums are partition-order-proof.
    The scan feeds the whole aggregation map-side, so a single-row-group
    input file would run it one-tasked — `spread_if_underparallel`
    repartitions first ONLY in that case (no-op on a multi-split table;
    see functions/compute.py)."""
    li = spread_if_underparallel(load(spark, sf_dir, "lineitem"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(charge()).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "x6_tpch_q2",
    oracle=f"""
    WITH partsupp AS ({PARTSUPP_SQL}),
    eu AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    eu_offers AS (
        SELECT ps.ps_partkey, ps.ps_supplycost_cents, eu.s_suppkey,
               eu.s_name, eu.s_acctbal, eu.n_name
        FROM partsupp ps JOIN eu ON ps.ps_suppkey = eu.s_suppkey
    ),
    mincost AS (
        SELECT ps_partkey, min(ps_supplycost_cents) AS min_cents
        FROM eu_offers GROUP BY ps_partkey
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           CAST(e.ps_supplycost_cents AS DOUBLE) / 100.0 AS ps_supplycost
    FROM eu_offers e
    JOIN mincost m ON e.ps_partkey = m.ps_partkey
                  AND e.ps_supplycost_cents = m.min_cents
    JOIN part p ON p.p_partkey = e.ps_partkey
    WHERE p.p_size <= 8 AND p.p_type = 'LARGE'
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 100
    """,
)
def x6_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q2 (minimum-cost supplier): for
    each qualifying part, the European supplier(s) offering it at the
    regional minimum ``ps_supplycost`` over the derived PARTSUPP — the
    genuine correlated scalar-min subquery, decorrelated as aggregate +
    re-join on the min (never per-row probes). Costs compare in exact
    BIGINT cents so min-equality ties resolve identically on both
    engines; the size/type predicate is adapted to the driver's value
    domains (p_size ≤ 8, single-word p_type). The LIMIT's ORDER BY is a
    total order (s_name is unique per supplier), so the cut is
    deterministic. Plan: supplier/nation/region and the filtered part
    dim broadcast; the offers build persists and feeds both the min and
    the probe side."""
    ps = partsupp(spark, sf_dir)
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_offers = ps.join(
        F.broadcast(eu), ps.ps_suppkey == eu.s_suppkey
    ).select("ps_partkey", "ps_supplycost_cents", "s_name", "s_acctbal", "n_name")
    eu_offers = eu_offers.persist()
    # explicit rename for the self-join: the grouped side's key must be a
    # distinct column, not the same resolved attribute (Spark warns and
    # relies on plan-id disambiguation otherwise)
    mincost = (
        eu_offers.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost_cents").alias("min_cents"))
        .withColumnRenamed("ps_partkey", "_min_pk")
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 8) & (F.col("p_type") == "LARGE")
    )
    return (
        eu_offers.join(
            mincost,
            (eu_offers.ps_partkey == F.col("_min_pk"))
            & (eu_offers.ps_supplycost_cents == mincost.min_cents),
        )
        .drop("_min_pk")
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            (F.col("ps_supplycost_cents").cast("double") / 100.0).alias(
                "ps_supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "x6_tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def x6_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q3 shipping priority: 3-way join, agg, ordered top-k.
    The customer dim is broadcast; decimal revenue keeps cross-engine
    ordering exact at the LIMIT boundary."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "x6_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY o.o_orderpriority
    """,
)
def x6_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q4 shape (order priority checking): EXISTS subquery as a
    left-semi join; lineitem side is filtered BEFORE the semi join so the
    probe input shrinks first. Classic q4 tests commitdate<receiptdate; the
    driver schema lacks those, so the exists-predicate is returnflag='R'."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "x6_tpch_q5",
    oracle=f"""
    SELECT n.n_name,
           CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def x6_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q5 local-supplier volume: 6-way star join; every dim side
    broadcast, so the only fact-table shuffle is the final group-by."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


@register(
    "x6_tpch_q6",
    oracle=f"""
    SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def x6_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q6 (forecasting revenue change): the canonical
    filter-then-global-agg scan. All four predicates push down to the
    parquet reader; the agg reduces map-side to one row per partition."""
    l = load(spark, sf_dir, "lineitem")
    rev = (dec2("l_extendedprice") * dec2("l_discount")).cast("decimal(18,4)")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "x6_tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year, {SQL_DISC_PRICE} AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                               AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def x6_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q7 (volume shipping): bilateral trade between two nations
    by year. Both nation dims broadcast; the disjunctive nation-pair
    predicate lands post-join on broadcast columns, so lineitem is scanned
    once and never shuffled for the joins."""
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "x6_tpch_q8",
    oracle=f"""
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT year(o.o_orderdate) AS o_year, {SQL_DISC_PRICE} AS volume,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
          AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                AND TIMESTAMP '1997-12-31'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def x6_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q8 (national market share): one supplier nation's share of
    regional PROMO revenue per year. Seven-way star join — every dim
    broadcast, lineitem scanned once; the share is a conditional-sum /
    total-sum ratio computed on exact decimal sums, divided in double in a
    fixed order (engine-portable, PERF.md #9)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    zero = F.lit(0).cast("decimal(18,4)")
    vol = disc_price()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("nation") == "NATION_5", vol).otherwise(zero)).alias(
                "_nat"
            ),
            F.sum(vol).alias("_tot"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_nat").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@register(
    "x6_tpch_q9",
    oracle=f"""
    WITH partsupp AS ({PARTSUPP_SQL})
    SELECT nation, o_year,
           CAST(sum(volume) AS DOUBLE)
             - CAST(sum(cost_cents) AS DOUBLE) / 100.0 AS sum_profit
    FROM (
        SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
               {SQL_DISC_PRICE} AS volume,
               ps.ps_supplycost_cents * CAST(l.l_quantity AS BIGINT)
                   AS cost_cents
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                        AND ps.ps_suppkey = l.l_suppkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%r%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def x6_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q9 (product-type profit): profit =
    revenue − ps_supplycost·quantity against the derived partsupp
    (`partsupp` above), joined on BOTH keys exactly like dbgen's. The
    profit splits into two exact sums per group — revenue in DECIMAL,
    cost in BIGINT cents (quantities are integral) — combined in double
    only at the output edge, so both engines emit identical doubles with
    no rounding step. Plan: part filter and partsupp both broadcast into
    the lineitem scan; one shuffle for the orders join; nation broadcast."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%r%"))
    ps = partsupp(spark, sf_dir)
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    cost_cents = F.col("ps_supplycost_cents") * F.col("l_quantity").cast(
        "bigint"
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(
            F.broadcast(ps),
            (l.l_partkey == ps.ps_partkey) & (l.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            (
                F.sum(disc_price()).cast("double")
                - F.sum(cost_cents).cast("double") / 100.0
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "x6_tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def x6_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q10 (returned-item reporting): who returned the most
    revenue in a quarter; 4-way join, decimal-exact ranking, top 20."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "x6_tpch_q11",
    oracle=f"""
    WITH partsupp AS ({PARTSUPP_SQL}),
    scoped AS (
        SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS v_cents
        FROM partsupp
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    )
    SELECT ps_partkey, CAST(sum(v_cents) AS DOUBLE) / 100.0 AS value
    FROM scoped GROUP BY ps_partkey
    HAVING CAST(sum(v_cents) AS DOUBLE) >
           (SELECT CAST(sum(v_cents) AS DOUBLE) * 0.0005 FROM scoped)
    ORDER BY value DESC, ps_partkey
    """,
)
def x6_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q11 (important stock):
    ``sum(ps_supplycost * ps_availqty)`` per part over the derived
    partsupp, scoped to one region's suppliers (EUROPE stands in for the
    single-nation scope — the driver's synthetic nations don't all carry
    suppliers at every SF), kept against a scalar
    fraction-of-global-total subquery over the SAME aggregate. Money in
    BIGINT cents: both the per-part values and the threshold are exact
    integers cast to double once, so the HAVING compares identical
    doubles on both engines. Plan: one hash agg persisted and reused by
    both sides; the 1-row total broadcast cross-joins (no re-scan)."""
    ps = partsupp(spark, sf_dir)
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_sup = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    scoped = ps.join(
        F.broadcast(eu_sup), ps.ps_suppkey == eu_sup.s_suppkey
    ).select(
        "ps_partkey",
        (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v_cents"),
    )
    pv = scoped.groupBy("ps_partkey").agg(F.sum("v_cents").alias("_v"))
    pv = pv.persist()
    total = pv.agg(
        (F.sum("_v").cast("double") * F.lit(0.0005)).alias("_threshold")
    )
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("_v").cast("double") > F.col("_threshold"))
        .select(
            "ps_partkey",
            (F.col("_v").cast("double") / 100.0).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


@register(
    "x6_tpch_q12",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def x6_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q12 shape (shipping modes & priority): conditional
    CASE-WHEN aggregation over a fact-fact join. Grouped by l_linestatus
    (driver schema has no l_shipmode)."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "x6_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def x6_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q13 (customer distribution): left outer join with a
    filter INSIDE the join condition (customers with zero qualifying orders
    must survive with count 0 — the semantics that distinguish ON-clause
    from WHERE-clause filtering), then a distribution-of-counts re-agg.
    The ``o_comment NOT LIKE`` filter is replaced by an o_orderpriority
    predicate (no comment column in the driver schema)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "x6_tpch_q14",
    oracle=f"""
    SELECT 100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                 THEN {SQL_DISC_PRICE} ELSE 0 END) AS DOUBLE)
                 / CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def x6_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q14 (promotion effect): ratio of two conditional sums in
    one aggregation pass; part is broadcast so lineitem never shuffles for
    the join. Both exact-decimal sums are cast to double BEFORE dividing —
    a decimal divide's result scale is engine-specific (observed last-ulp
    drift), while double ops in a fixed order are bit-identical."""
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    promo = F.when(F.col("p_type") == "PROMO", disc_price()).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc_price()).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "x6_tpch_q15",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, sum({SQL_DISC_PRICE}) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def x6_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q15 (top supplier): quarterly revenue per supplier, keep
    the max (ties preserved — exact decimal revenue makes tie equality
    well-defined, unlike doubles). The revenue aggregate is computed once
    (persisted) and feeds both the max scalar and the probe side."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load(spark, sf_dir, "supplier")
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(disc_price()).alias("total_revenue"))
        .persist()
    )
    mx = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "x6_tpch_q16",
    oracle=f"""
    WITH partsupp AS ({PARTSUPP_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT IN ('PROMO', 'ECONOMY')
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def x6_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q16 (parts/supplier relationship):
    distinct-count of suppliers per part attribute group over the derived
    PARTSUPP (the dbgen relation, not a lineitem stand-in), excluding a
    NOT IN-subquery supplier set (negative-balance suppliers substitute
    the comment-matched complaint suppliers — the driver schema has no
    s_comment). NOT IN on a non-nullable key → left anti join; both the
    excluded-supplier set and the filtered part dim broadcast."""
    ps = partsupp(spark, sf_dir)
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "x6_tpch_q17",
    oracle="""
    WITH avg_qty AS (
        SELECT l_partkey, avg(l_quantity) AS part_avg
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) / 7.0 AS DOUBLE)
           AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN avg_qty a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < 0.5 * a.part_avg
    """,
)
def x6_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q17 (small-quantity-order revenue): the correlated scalar
    subquery `l_quantity < 0.5 * (SELECT avg(..) WHERE same part)` decorrelated
    into an aggregate + equi-join — exactly what Catalyst does to the SQL
    form. The per-part average is a partial-agg shuffle on l_partkey; the
    brand filter broadcast-prunes before the expensive compare."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("part_avg")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .join(avg_qty, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("part_avg"))
        .agg(
            (F.sum(dec2("l_extendedprice")) / 7.0)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "x6_tpch_q18",
    oracle="""
    WITH big AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 120
    )
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def x6_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q18 (large-volume orders): HAVING-filtered aggregate as a
    semi-join filter, then re-aggregate with customer context."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 120)
        .select("l_orderkey")
    )
    return (
        l.join(big, "l_orderkey", "left_semi")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty")
        )
    )


@register(
    "x6_tpch_q19",
    oracle=f"""
    SELECT CAST(sum({SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def x6_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q19 (discounted revenue): disjunction of conjunctive
    range predicates across BOTH join sides. Catalyst extracts the common
    join key as an equi-join and keeps the OR as a post-join filter; the
    part side stays broadcast. Verifies complex-predicate planning."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & q.between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(1, 25)
        & q.between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 35)
        & q.between(20, 30)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


@register(
    "x6_tpch_q20",
    oracle=f"""
    WITH partsupp AS ({PARTSUPP_SQL}),
    red_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    demand AS (
        SELECT l_partkey, l_suppkey,
               sum(CAST(l_quantity AS BIGINT)) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_partkey, l_suppkey
    ),
    qualified AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM partsupp ps
        JOIN red_parts g ON ps.ps_partkey = g.p_partkey
        JOIN demand d ON d.l_partkey = ps.ps_partkey
                     AND d.l_suppkey = ps.ps_suppkey
        WHERE CAST(ps.ps_availqty AS DOUBLE) > 0.5 * CAST(d.qty AS DOUBLE)
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND s.s_suppkey IN (SELECT ps_suppkey FROM qualified)
    ORDER BY s.s_name
    """,
)
def x6_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q20 (potential part promotion):
    suppliers whose ``ps_availqty`` exceeds half the quantity they
    shipped of some red part in 1997 — the genuine nested-IN +
    correlated-scalar-threshold structure over the derived PARTSUPP.
    The correlated ``(SELECT 0.5*sum(l_quantity) ...)`` decorrelates
    into a pre-aggregated demand relation inner-joined on both keys,
    which also reproduces the spec's NULL semantics (pairs with no 1997
    shipments compare NULL → excluded). EUROPE's region stands in for
    the spec's single-nation scope (the driver's synthetic nations don't
    all carry suppliers at every SF). Quantities are integral, so the
    threshold compares doubles derived from exact BIGINTs. Plan:
    filtered part keys and partsupp broadcast; one shuffle on
    (part, supp) for the demand aggregate; the final IN is a left-semi
    join to the supplier dim."""
    ps = partsupp(spark, sf_dir)
    red_parts = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    demand = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty")
    )
    qualified = (
        ps.join(F.broadcast(red_parts), ps.ps_partkey == red_parts.p_partkey)
        .join(
            demand,
            (demand.l_partkey == ps.ps_partkey)
            & (demand.l_suppkey == ps.ps_suppkey),
        )
        .filter(
            F.col("ps_availqty").cast("double")
            > F.lit(0.5) * F.col("qty").cast("double")
        )
        .select("ps_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        s.join(qualified, s.s_suppkey == qualified.ps_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "x6_tpch_q21",
    oracle="""
    WITH l AS (
        SELECT l_orderkey, l_suppkey,
               CAST(l_shipdate AS DATE)
                   + CAST((l_orderkey*31 + l_linenumber*7) % 30 AS INT)
                   AS l_commitdate,
               CAST(l_shipdate AS DATE)
                   + CAST((l_orderkey*17 + l_linenumber*13) % 45 AS INT)
                   AS l_receiptdate
        FROM lineitem
    )
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN l l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_receiptdate > l1.l_commitdate
      AND r.r_name = 'EUROPE'
      AND EXISTS (SELECT 1 FROM l l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_receiptdate > l3.l_commitdate)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def x6_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q21: suppliers
    who kept finalized orders waiting — the sole LATE supplier
    (``l_receiptdate > l_commitdate``) on multi-supplier 'F' orders.

    The driver schema ships no receipt/commit dates, so both are DERIVED
    deterministically from columns that do exist, with the identical
    integer-day expression in Spark and the oracle CTE (the
    ``partsupp`` technique):

    - ``l_commitdate  = date(l_shipdate) + (l_orderkey*31 + l_linenumber*7)  % 30 days``
    - ``l_receiptdate = date(l_shipdate) + (l_orderkey*17 + l_linenumber*13) % 45 days``

    Both engines add integer days to the same DATE, so the late predicate
    is bit-identical (~65% of rows late; the NOT EXISTS then keeps only
    orders where exactly one supplier was late).

    The correlated EXISTS / NOT EXISTS pair — the hard part of q21 — is
    computed from ONE lineitem scan (a semi+anti form scans lineitem three
    times and builds two lineitem-sized broadcast relations): every decision both subqueries
    encode is a function of the per-(order, supplier) late-row profile, so
    hash-partition the narrow (orderkey, suppkey, late) projection by
    ``l_orderkey`` once, aggregate late-row counts per (order, supplier)
    exchange-free, and read the per-order distinct-supplier /
    distinct-late-supplier counts off a window over the SAME partitioning:

    - EXISTS other-supplier        ⇔ n_supp  ≥ 2 (I am one of them)
    - NOT EXISTS other-late-supplier ⇔ n_late = 1 (I am late, so ≥ 1)
    - numwait counts late ROWS     ⇔ sum of the per-pair late-row counts

    One exchange of fixed-width rows replaces three full lineitem legs at
    any scale (measured: sf0.1 best 1.20 → 0.94 s, 10× fixture best
    6.43 → 3.10 s, results row-identical both scales)."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    commit = F.expr(
        "date_add(CAST(l_shipdate AS DATE), "
        "CAST((l_orderkey*31 + l_linenumber*7) % 30 AS INT))"
    )
    receipt = F.expr(
        "date_add(CAST(l_shipdate AS DATE), "
        "CAST((l_orderkey*17 + l_linenumber*13) % 45 AS INT))"
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", (receipt > commit).alias("_late"))
        .repartition("l_orderkey")
    )
    pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.when(F.col("_late"), F.lit(1))).alias("_late_rows")
    )
    w = Window.partitionBy("l_orderkey")
    prof = pair.select(
        "l_orderkey",
        "l_suppkey",
        "_late_rows",
        F.count(F.lit(1)).over(w).alias("_n_supp"),
        F.sum((F.col("_late_rows") > 0).cast("int")).over(w).alias("_n_late"),
    )
    qual = prof.filter(
        (F.col("_late_rows") > 0)
        & (F.col("_n_supp") >= 2)
        & (F.col("_n_late") == 1)
    )
    return (
        qual.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("s_name")
        .agg(F.sum("_late_rows").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@register(
    "x6_tpch_q22",
    oracle="""
    WITH pool AS (
        SELECT c_custkey, c_nationkey % 10 AS cntrycode,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5, 6, 7)
    ),
    threshold AS (
        SELECT CAST(sum(bal) AS DOUBLE) / count(*) AS avg_bal
        FROM pool WHERE bal > 0
    )
    SELECT cntrycode, count(*) AS numcust,
           CAST(sum(bal) AS DOUBLE) AS totacctbal
    FROM pool, threshold
    WHERE CAST(bal AS DOUBLE) > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = pool.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def x6_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x6 — TPC-H Q22 (global sales opportunity): rich-but-inactive
    customers per country code. The phone-prefix country code becomes
    ``c_nationkey % 10`` (no phone column). The scalar-average threshold is
    computed as exact-decimal sum / count, divided in double once — the
    membership predicate is then bit-identical in both engines (a plain
    double avg() would drift with partitioning and could flip a borderline
    customer). NOT EXISTS(urgent orders) → left anti join (the priority
    filter keeps the anti-join non-vacuous on the driver data, where every
    customer has at least one order)."""
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    pool = c.filter((F.col("c_nationkey") % 10).isin(1, 2, 3, 4, 5, 6, 7)).select(
        "c_custkey",
        (F.col("c_nationkey") % 10).alias("cntrycode"),
        dec2("c_acctbal").alias("bal"),
    )
    pool = pool.persist()
    threshold = pool.filter(F.col("bal") > 0).agg(
        (F.sum("bal").cast("double") / F.count("*")).alias("avg_bal")
    )
    return (
        pool.crossJoin(F.broadcast(threshold))
        .filter(F.col("bal").cast("double") > F.col("avg_bal"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )
