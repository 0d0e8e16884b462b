"""§2.C (SQL entry point, EP2) — the TPC-H suite, complete.

Q3/Q5/Q10/Q18 live in queries/joins.py; this module carries the other
18, so all 22 TPC-H queries are registered with DuckDB value oracles.
The r6 batch (Q4/Q13/Q14/Q15/Q17/Q19/Q21/Q22) covers the
decorrelation-heavy shapes; the r7 batch (Q1/Q2/Q6/Q7/Q8/Q9/Q11/Q12/
Q16/Q20) completes the suite — wide aggregates, the 8-table join, the
derived-supply-relation family (this schema has no partsupp; Q2/Q11/
Q16/Q20 build (l_partkey, l_suppkey) rollups from lineitem instead,
adaptation noted per query). The r6 decorrelation showcases:

  * Q4  — correlated EXISTS with a NON-EQUI outer reference
          (l_shipdate > o_orderdate + interval): decorrelates to a
          left-semi join on the equi key with the range predicate as a
          post-join filter.
  * Q13 — double aggregation over a pushed-down outer-join condition
          (the COUNT-of-COUNTs distribution).
  * Q14 — conditional-aggregate ratio (promo revenue share).
  * Q15 — scalar subquery over a CTE reused twice (revenue view + its
          MAX): AQE dedups the exchange via exchange reuse.
  * Q17 — correlated scalar AVG threshold (the classic per-part
          anti-correlation): decorrelates to an aggregate + equi join.
  * Q19 — disjunctive mixed join/filter predicates: the common
          p_partkey equi key is extracted so the OR-arms run as a
          post-join filter, never a nested loop.
  * Q21 — EXISTS + NOT EXISTS against the same fact with an outer
          reference two tables away (o_orderdate inside the l3
          subquery): both decorrelate onto the l_orderkey equi key.
  * Q22 — anti join + uncorrelated scalar aggregate threshold.

Schema adaptations (documented per query): the test tables carry no
l_commitdate / l_receiptdate / l_shipmode / c_phone and no partsupp, so
"late" is l_shipdate > o_orderdate + K days, Q22's "no orders" becomes
"no URGENT order" (every customer here has orders), and Q14's promo
test is equality on the single-word p_type domain.

Float parity with the DuckDB oracle follows the house money rule
(joins.py c_join_smj): money sums run in DECIMAL(12,2) so parallel
summation order is irrelevant, doubles appear only after the final CAST;
Q17's correlated AVG is exact because l_quantity is integral (integer
sums are exactly representable in double at any aggregation order) and
Q22's threshold comparison is multiplied through (bal * n > sum, all
DECIMAL/BIGINT) so no engine ever divides.

100 TB notes: every shape here is one fact-table shuffle on its equi
key after decorrelation — the EXISTS/NOT-EXISTS pairs share the
l_orderkey exchange, Q13's outer join shuffles on custkey then
aggregates the tiny (c_count, n) domain, and the dim sides (part,
supplier, nation) broadcast. Nothing in this file introduces a nested
loop or a driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..tables import load

_REV = (
    "SUM(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST(1 - l_discount AS DECIMAL(12,2)))"
)
_MONEY = "FLOOR(CAST({expr} AS DOUBLE) * 100 + 0.5) / 100"


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    t = load(spark, sf_dir)
    for n in names:
        getattr(t, n).createOrReplaceTempView(f"v_{n}")


_Q4 = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM {p}orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM {p}lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query("c_sql_q4", oracle=_Q4.format(p=""))
def c_sql_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS whose
    inner predicate references the outer row non-equi (shipped >45 days
    after the order date — the no-commitdate adaptation of "late").
    Catalyst decorrelates to a left-semi join on l_orderkey with the
    date comparison as a join-side filter, so the lineitem side is
    semi-reduced before the priority rollup; at 100 TB the orders date
    filter prunes partitions first and the semi join shuffles only
    qualifying keys."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_Q4.format(p="v_"))


_Q13 = """
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM {p}customer LEFT JOIN {p}orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@query("c_sql_q13", oracle=_Q13.format(p=""))
def c_sql_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with the filter INSIDE the join condition (a pushed filter
    would drop zero-order customers), then a COUNT-of-COUNTs double
    aggregate. One custkey shuffle; the second aggregate's domain is
    the tiny distinct c_count set, so it collapses map-side."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q13.format(p="v_"))


_Q14 = f"""
    SELECT FLOOR(
             100.0
             * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                  * CAST(1 - l_discount AS DECIMAL(12,2))
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST({_REV} AS DOUBLE)
             * 10000 + 0.5) / 10000 AS promo_share
    FROM {{p}}lineitem JOIN {{p}}part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
"""


@query("c_sql_q14", oracle=_Q14.format(p=""))
def c_sql_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): conditional-aggregate
    ratio over one month of shipments. Both sums run in DECIMAL so the
    ratio's operands are exact; the single division happens once, on
    identical doubles, in both engines. part broadcasts; the month
    filter is the pushed scan predicate (at 100 TB: the shipdate
    partition key prunes ~1/60 of the fact)."""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q14.format(p="v_"))


_Q15 = f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {_REV} AS total_revenue
      FROM {{p}}lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           {_MONEY.format(expr="total_revenue")} AS total_rev
    FROM {{p}}supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""


@query("c_sql_q15", oracle=_Q15.format(p=""))
def c_sql_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): a revenue CTE consumed twice —
    once joined to supplier, once under MAX — with equality on the
    EXACT decimal total (ties surface identically in both engines).
    AQE's exchange reuse evaluates the rollup once; the MAX side
    reduces to a 1-row broadcast."""
    _views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(_Q15.format(p="v_"))


_Q17 = """
    SELECT FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / 7.0 * 100 + 0.5) / 100 AS avg_yearly
    FROM {p}lineitem l JOIN {p}part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size <= 15
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM {p}lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
"""


@query("c_sql_q17", oracle=_Q17.format(p=""))
def c_sql_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue): the correlated scalar
    AVG threshold per part. Catalyst decorrelates to a per-partkey
    aggregate joined back on the equi key — one lineitem shuffle on
    l_partkey feeding both the probe and the threshold. Exactness: the
    test data's l_quantity is integral, so SUM/AVG are
    order-independent in double and 0.2*avg is the same bit pattern in
    both engines; the strict < never sits on an engine-dependent
    boundary. (p_size <= 15 stands in for the container predicate —
    this schema has no p_container.)"""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q17.format(p="v_"))


_Q19 = f"""
    SELECT {_MONEY.format(expr=_REV)} AS revenue
    FROM {{p}}lineitem JOIN {{p}}part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#17' AND p_size BETWEEN 5 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 35
           AND l_quantity BETWEEN 20 AND 30)
"""


@query("c_sql_q19", oracle=_Q19.format(p=""))
def c_sql_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    three OR-arms that each mix part and lineitem columns. The planner
    extracts the common p_partkey equi conjunct, so this is a broadcast
    hash join with the disjunction as a post-join filter — NOT a
    nested-loop — and the per-arm p_brand/p_size conjuncts still push
    into the part scan as an OR-of-ANDs filter. (Brands 12/17/23 from
    this data's Brand#1..25 domain; no l_shipmode/l_shipinstruct here.)"""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q19.format(p="v_"))


_Q21 = """
    SELECT s_name, COUNT(*) AS numwait
    FROM {p}supplier s
    JOIN {p}lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN {p}orders o ON o.o_orderkey = l1.l_orderkey
    JOIN {p}nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM {p}lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM {p}lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      AND n.n_name IN ('NATION_3', 'NATION_7')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
"""


@query("c_sql_q21", oracle=_Q21.format(p=""))
def c_sql_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS / NOT-EXISTS pair against the same fact, where the NOT
    EXISTS arm's predicate references a column from a DIFFERENT outer
    table than its equi key (o_orderdate vs l1.l_orderkey). Both arms
    decorrelate onto the l_orderkey equi key — a semi then an anti
    join sharing the fact's exchange; supplier and nation broadcast.
    "Kept waiting" is the shipdate adaptation: this supplier shipped
    >60 days after the order date and every other supplier on the
    order shipped on time."""
    _views(spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    return spark.sql(_Q21.format(p="v_"))


_Q22 = """
    SELECT n_name AS nation, COUNT(*) AS numcust,
           FLOOR(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS totacctbal
    FROM {p}customer JOIN {p}nation ON c_nationkey = n_nationkey
    WHERE CAST(c_acctbal AS DECIMAL(12,2))
          * (SELECT COUNT(*) FROM {p}customer WHERE c_acctbal > 0.0)
          > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2)))
             FROM {p}customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM {p}orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY n_name
    ORDER BY n_name
"""


@query("c_sql_q22", oracle=_Q22.format(p=""))
def c_sql_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (high-balance inactive customers): uncorrelated
    scalar-aggregate threshold + anti join. The avg-balance comparison
    is multiplied through (bal * n > sum) so both sides stay in exact
    DECIMAL/BIGINT arithmetic — no engine ever divides, so no float
    boundary exists. Adaptation: every customer in this data has
    orders, so the anti join excludes customers with any URGENT order
    (same anti shape, non-degenerate result); nation stands in for the
    missing c_phone country code. The two scalar subqueries are 1-row
    broadcasts; the anti join shuffles on custkey."""
    _views(spark, sf_dir, "customer", "nation", "orders")
    return spark.sql(_Q22.format(p="v_"))


# ---------------------------------------------------------------------------
# r7: the remaining TPC-H shapes (Q1/Q2/Q6/Q7/Q8/Q9/Q11/Q12/Q16/Q20) —
# completing all 22. This schema has no partsupp, so Q2/Q11/Q16/Q20 derive
# the supply relation from lineitem's observed (l_partkey, l_suppkey)
# pairs: supplycost = MIN extended price, availability/value = shipped
# quantity/revenue rollups. Documented per query. The float discipline is
# the module rule: money in DECIMAL(12,2) end-to-end, integer-exact
# threshold comparisons (multiplied through), one final CAST-to-DOUBLE +
# FLOOR grid per displayed value.

_Q1 = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS sum_base_price,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS sum_disc_price,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(1 - l_discount AS DECIMAL(12,2))
                          * CAST(1 + l_tax AS DECIMAL(12,2))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS sum_charge,
           FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS avg_qty,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000 AS avg_price,
           FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS avg_disc,
           COUNT(*) AS count_order
    FROM {p}lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-30'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


@query("c_sql_q1", oracle=_Q1.format(p=""))
def c_sql_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): the canonical wide aggregate —
    8 measures over a near-full scan, grouped by the 6-value
    (returnflag, linestatus) domain. Every sum runs in DECIMAL (the
    triple-product charge lands at DECIMAL(38,6), still exact at this
    magnitude), so parallel accumulation order is irrelevant and the
    averages are one double division of identical exact operands. At
    100 TB this is THE map-side-combine showcase: partials collapse to
    6 rows per task before a 6-row exchange; the shipdate predicate is
    the pushed scan filter."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_Q1.format(p="v_"))


# Filter predicates shared by the base queries (the oracle form) and
# their _SPARK prefilters: interpolated into both, so a prefilter can
# never drift from the WHERE clause it is proven equivalent to.
_Q2_PART = "p_size <= 10 AND p_type = 'LARGE'"
_EUROPE = "r_name = 'EUROPE'"
_BOLT = "p_name LIKE '%bolt%'"

_Q2 = f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
      FROM {{p}}lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_acctbal, s_name, n_name AS nation, p_partkey, p_brand,
           CAST(ps.supplycost AS DOUBLE) AS supplycost
    FROM ps
    JOIN {{p}}part ON p_partkey = ps.l_partkey
    JOIN {{p}}supplier ON s_suppkey = ps.l_suppkey
    JOIN {{p}}nation ON s_nationkey = n_nationkey
    JOIN {{p}}region ON n_regionkey = r_regionkey
    WHERE {_Q2_PART} AND {_EUROPE}
      AND ps.supplycost = (
            SELECT MIN(ps2.supplycost)
            FROM ps ps2
            JOIN {{p}}supplier s2 ON s2.s_suppkey = ps2.l_suppkey
            JOIN {{p}}nation n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN {{p}}region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE ps2.l_partkey = p_partkey AND r2.{_EUROPE})
    ORDER BY s_acctbal DESC, nation, s_name, p_partkey
    LIMIT 100
"""


# Spark-side form of _Q2 with both dim restrictions PUSHED BELOW the
# shared (l_partkey, l_suppkey) MIN rollup (guide §3.2, the _Q20_SPARK
# transform). Provably identical: BOTH consumers of ps restrict the
# supplier to EUROPE (outer via the region join, the correlated MIN via
# r2.r_name = 'EUROPE'), and both only ever reference partkeys of
# qualifying parts (outer joins part with the size/type filters; the
# inner MIN is correlated to the outer's p_partkey), so the prefilter
# drops only whole (partkey, suppkey) GROUPS that neither consumer can
# reference — a predicate on the group keys alone cannot change any
# surviving group's exact-DECIMAL MIN. One shared prefiltered rollup
# keeps the AQE exchange reuse across both consumers.
_Q2_SPARK = _Q2.replace(
    "FROM {p}lineitem GROUP BY l_partkey, l_suppkey",
    f"""FROM {{p}}lineitem
      WHERE l_suppkey IN
          (SELECT s_suppkey FROM {{p}}supplier
           JOIN {{p}}nation ON s_nationkey = n_nationkey
           JOIN {{p}}region ON n_regionkey = r_regionkey
           WHERE {_EUROPE})
        AND l_partkey IN
          (SELECT p_partkey FROM {{p}}part
           WHERE {_Q2_PART})
      GROUP BY l_partkey, l_suppkey""",
)
# A drifted anchor must fail at import, not silently fall back to the
# unfiltered plan (same check after _Q11_SPARK and _Q20_SPARK).
assert _Q2_SPARK != _Q2, "_Q2_SPARK: rollup anchor not found in _Q2"


@query("c_sql_q2", oracle=_Q2.format(p=""))
def c_sql_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): correlated scalar MIN
    over a CTE referenced twice. No partsupp table here, so the supply
    relation derives from lineitem (supplycost = MIN observed extended
    price per (part, supplier) — no division, stays DECIMAL-exact).
    Catalyst decorrelates the per-part MIN into an aggregate joined
    back on p_partkey, and AQE reuses the ps exchange across both
    consumers. Equality on the exact DECIMAL cost means ties surface
    identically in both engines; the ORDER BY ends in the unique
    (p_partkey, s_name) pair so LIMIT 100 is deterministic. dims
    (part/supplier/nation/region) all broadcast. The Spark plan
    prefilters the shared rollup to EUROPE-supplier x qualifying-part
    rows (see _Q2_SPARK — the oracle keeps the unfiltered form,
    value-identical tri-scale)."""
    _views(spark, sf_dir, "lineitem", "part", "supplier", "nation", "region")
    return spark.sql(_Q2_SPARK.format(p="v_"))


_Q6 = """
    SELECT FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS revenue
    FROM {p}lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND CAST(l_discount AS DECIMAL(12,2))
          BETWEEN CAST(0.05 AS DECIMAL(12,2)) AND CAST(0.07 AS DECIMAL(12,2))
      AND l_quantity < 24
"""


@query("c_sql_q6", oracle=_Q6.format(p=""))
def c_sql_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-filter-
    aggregate — no join at all. All three predicates push into the
    parquet scan (the discount comparison runs on the DECIMAL(12,2)
    grid, so the 0.05/0.07 bounds are exact on both engines; the
    source values live on that grid by construction). At 100 TB this
    is a partition-pruned (shipdate) scan with a 1-row map-side
    combined sum — the cheapest possible TPC-H query, and the one
    where an unpushed filter is most visible in a plan diff."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_Q6.format(p="v_"))


_Q7 = """
    WITH shipping AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l_shipdate) AS INT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2)) AS volume
      FROM {p}supplier s
      JOIN {p}lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN {p}orders o ON o.o_orderkey = l.l_orderkey
      JOIN {p}customer c ON c.c_custkey = o.o_custkey
      JOIN {p}nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN {p}nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01')
    SELECT supp_nation, cust_nation, l_year,
           FLOOR(CAST(SUM(volume) AS DOUBLE) * 100 + 0.5) / 100 AS revenue
    FROM shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


@query("c_sql_q7", oracle=_Q7.format(p=""))
def c_sql_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the two-nation trade-flow query —
    nation joined twice under one disjunctive cross-nation predicate.
    The planner keeps both nation joins as broadcasts and applies the
    OR-arm as a post-join filter; only ONE fact shuffle survives (the
    orders join on l_orderkey, then custkey). YEAR() is cast to INT so
    both engines agree on the grouping column type. At 100 TB the
    nation pair predicate semi-reduces supplier/customer before they
    broadcast."""
    _views(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    return spark.sql(_Q7.format(p="v_"))


_Q8 = """
    WITH allnations AS (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2)) AS volume,
             n2.n_name AS nation
      FROM {p}part p
      JOIN {p}lineitem l ON p.p_partkey = l.l_partkey
      JOIN {p}supplier s ON s.s_suppkey = l.l_suppkey
      JOIN {p}orders o ON l.l_orderkey = o.o_orderkey
      JOIN {p}customer c ON o.o_custkey = c.c_custkey
      JOIN {p}nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN {p}region r ON n1.n_regionkey = r.r_regionkey
      JOIN {p}nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01')
    SELECT o_year,
           FLOOR(CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume
                               ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS mkt_share
    FROM allnations
    GROUP BY o_year
    ORDER BY o_year
"""


@query("c_sql_q8", oracle=_Q8.format(p=""))
def c_sql_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the 8-table join — lineitem at
    the center, every dim broadcast, nation joined twice with DIFFERENT
    roles (customer region filter vs supplier nationality measure). The
    share is a conditional-sum ratio: both sums stay DECIMAL-exact, one
    double division per year row. At 100 TB: one fact shuffle
    (l_orderkey), the region-filtered customer side semi-reduces orders
    before that shuffle, and the 2-row-per-year output collapses
    map-side."""
    _views(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "customer",
        "nation", "region",
    )
    return spark.sql(_Q8.format(p="v_"))


_Q9 = """
    WITH profit AS (
      SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2))
             - CAST(p_retailprice AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(5,0)) AS amount
      FROM {p}part p
      JOIN {p}lineitem l ON p.p_partkey = l.l_partkey
      JOIN {p}supplier s ON s.s_suppkey = l.l_suppkey
      JOIN {p}orders o ON o.o_orderkey = l.l_orderkey
      JOIN {p}nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%widget%')
    SELECT nation, o_year,
           FLOOR(CAST(SUM(amount) AS DOUBLE) * 100 + 0.5) / 100 AS sum_profit
    FROM profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""


@query("c_sql_q9", oracle=_Q9.format(p=""))
def c_sql_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): revenue minus cost per
    supplier nation per year, parts filtered by a name infix. No
    partsupp, so cost = p_retailprice * l_quantity (l_quantity is
    integral — DECIMAL(5,0) holds it exactly, keeping the subtraction
    inside DECIMAL(26,4), overflow-safe in both engines). The LIKE
    pushes into the part scan, part broadcasts, and the fact shuffles
    once on l_orderkey for the orders join; profit can be negative by
    construction, which exercises the signed-DECIMAL sum path."""
    _views(spark, sf_dir, "part", "lineitem", "supplier", "orders", "nation")
    return spark.sql(_Q9.format(p="v_"))


_Q11 = f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
      FROM {{p}}lineitem GROUP BY l_partkey, l_suppkey),
    natps AS (
      SELECT ps.l_partkey, ps.val
      FROM ps
      JOIN {{p}}supplier ON s_suppkey = ps.l_suppkey
      JOIN {{p}}nation ON s_nationkey = n_nationkey
      JOIN {{p}}region ON n_regionkey = r_regionkey
      WHERE {_EUROPE})
    SELECT l_partkey AS ps_partkey,
           FLOOR(CAST(SUM(val) AS DOUBLE) * 100 + 0.5) / 100 AS value
    FROM natps
    GROUP BY l_partkey
    HAVING SUM(val) * (SELECT COUNT(DISTINCT l_partkey) FROM natps) * 2
           > 3 * (SELECT SUM(val) FROM natps)
    ORDER BY value DESC, ps_partkey
    LIMIT 100
"""


# Spark-side form of _Q11 with the EUROPE-supplier restriction PUSHED
# BELOW the (l_partkey, l_suppkey) rollup — the same provably-safe
# transform as _Q20_SPARK (guide §3.2): the rollup groups BY l_suppkey,
# and natps keeps only groups whose suppkey joins a EUROPE supplier, so
# dropping the other suppkeys' rows before the aggregate removes whole
# non-surviving groups and cannot change any surviving group's DECIMAL
# sum. Catalyst decorrelates the IN into a broadcast LeftSemi under the
# partial aggregate; the rollup exchange carries ~1/5 of lineitem
# (EUROPE is one of five regions). The shared natps exchange reuse for
# the HAVING scalars is unaffected — the prefilter sits below it.
_Q11_SPARK = _Q11.replace(
    "FROM {p}lineitem GROUP BY l_partkey, l_suppkey",
    f"""FROM {{p}}lineitem
      WHERE l_suppkey IN
          (SELECT s_suppkey FROM {{p}}supplier
           JOIN {{p}}nation ON s_nationkey = n_nationkey
           JOIN {{p}}region ON n_regionkey = r_regionkey
           WHERE {_EUROPE})
      GROUP BY l_partkey, l_suppkey""",
)
assert _Q11_SPARK != _Q11, "_Q11_SPARK: rollup anchor not found in _Q11"


@query("c_sql_q11", oracle=_Q11.format(p=""))
def c_sql_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): per-part value
    within one region vs a threshold over the regional total — a HAVING
    against uncorrelated scalar aggregates of the SAME CTE. The
    original's FRACTION/SF constant can't work across scale factors
    (1/1000 of the total selects zero parts once >1000 parts exist),
    so the cut is scale-free: value > 1.5x the average part value,
    multiplied through (val * n_parts * 2 > 3 * total — DECIMAL x
    BIGINT, no engine ever divides; selects 14/331/2930 parts at
    sf0.001/0.01/0.1). Supply value derives from lineitem revenue per
    (part, supplier) — no partsupp. AQE reuses the natps exchange for
    the group-by and both scalars; the scalars are 1-row broadcasts.
    ORDER BY ends in ps_partkey (unique), so LIMIT 100 is
    deterministic. The Spark plan prefilters the rollup input to
    EUROPE-supplier rows (see _Q11_SPARK — the oracle keeps the
    unfiltered form, value-identical tri-scale)."""
    _views(spark, sf_dir, "lineitem", "supplier", "nation", "region")
    return spark.sql(_Q11_SPARK.format(p="v_"))


_Q12 = """
    SELECT l_returnflag,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM {p}orders
    JOIN {p}lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


@query("c_sql_q12", oracle=_Q12.format(p=""))
def c_sql_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / order priority): the priority
    split of late lines. Schema adaptation: no l_shipmode or
    l_receiptdate here, so the grouping key is l_returnflag and "late"
    is shipped >60 days after the order date (the module's standing
    late-shipment convention, c_sql_q4/q21). COUNT(CASE ...) keeps the
    counters BIGINT on both engines (a SUM would come back HUGEINT
    from DuckDB). One l_orderkey shuffle; the date-range filter pushes
    to the fact scan and the non-equi lateness predicate evaluates
    post-join."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_Q12.format(p="v_"))


_Q16 = """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM {p}lineitem) ps
    JOIN {p}part ON p_partkey = ps.l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 15, 20, 25, 30, 36)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM {p}supplier WHERE s_suppkey % 7 = 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 100
"""


@query("c_sql_q16", oracle=_Q16.format(p=""))
def c_sql_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): COUNT DISTINCT
    suppliers per part attribute triple, minus an excluded supplier
    set via NOT IN (a null-aware anti join on the non-null key). The
    supply relation is lineitem's DISTINCT (part, supplier) pairs; the
    "customer complaints" exclusion (no comment column here) is the
    deterministic s_suppkey % 7 = 0 stand-in. Plan: one dedup shuffle
    on the pair, part broadcast, anti join against a broadcast 1/7
    subset, then the distinct-count agg; ORDER BY ends in the unique
    attribute triple so LIMIT 100 is deterministic."""
    _views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_Q16.format(p="v_"))


_Q20 = f"""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l_shipdate <  TIMESTAMP '1998-01-01'
                      THEN CAST(l_quantity AS DECIMAL(12,2))
                      ELSE CAST(0 AS DECIMAL(12,2)) END) AS qty_1997
      FROM {{p}}lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_name, n_name AS nation
    FROM {{p}}supplier
    JOIN {{p}}nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT sh.l_suppkey
        FROM shipped sh JOIN {{p}}part ON p_partkey = sh.l_partkey
        WHERE {_BOLT}
          AND sh.qty_1997 * 2 > sh.total_qty)
    ORDER BY s_name
"""


# Spark-side form of _Q20 with the bolt-part restriction PUSHED BELOW
# the (l_partkey, l_suppkey) rollup (guide §3.2 semi-join prefilter;
# r16 VERDICT item 3). Provably identical output: the rollup groups BY
# l_partkey, and downstream only groups whose partkey matches a
# '%bolt%' part survive the part join — dropping the other partkeys'
# rows before the aggregate removes whole non-surviving groups and
# cannot change any surviving group's DECIMAL sums. The optimizer
# cannot do this itself (the LIKE filter sits above the aggregate,
# across a join); Catalyst decorrelates the IN into a broadcast
# LeftSemi under the partial aggregate, so the rollup exchange carries
# ~12% of lineitem (74k of 600k rows at sf0.1) instead of all of it.
_Q20_SPARK = _Q20.replace(
    "FROM {p}lineitem GROUP BY l_partkey, l_suppkey",
    f"""FROM {{p}}lineitem
      WHERE l_partkey IN
          (SELECT p_partkey FROM {{p}}part WHERE {_BOLT})
      GROUP BY l_partkey, l_suppkey""",
)
assert _Q20_SPARK != _Q20, "_Q20_SPARK: rollup anchor not found in _Q20"


@query("c_sql_q20", oracle=_Q20.format(p=""))
def c_sql_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-inventory suppliers): a semi join whose
    inner side is itself an aggregate-filtered join. Adaptation: no
    partsupp/availqty, so "excess" means the supplier shipped more
    than half of a bolt-part's lifetime volume inside 1997
    (qty_1997 * 2 > total_qty — integer-exact DECIMAL comparison,
    multiplied through). The conditional and total sums share ONE
    (part, supplier) rollup pass over the SEMI-PREFILTERED fact (only
    bolt-part rows reach the rollup exchange — see _Q20_SPARK; the
    oracle keeps the unfiltered form, value-identical tri-scale);
    part broadcasts into it; the IN decorrelates to a semi join on
    s_suppkey. Supplier and nation are dims — at 100 TB only the
    (prefiltered) lineitem rollup shuffles."""
    _views(spark, sf_dir, "lineitem", "supplier", "nation", "part")
    return spark.sql(_Q20_SPARK.format(p="v_"))


_PIPE_ORACLE = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           {_MONEY.format(expr=_REV)} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@query("c_sql_pipe", oracle=_PIPE_ORACLE)
def c_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, SPARK-49555 — the |> operator
    chain): the Q1 pricing-summary shape written as a linear pipeline
    (FROM |> WHERE |> AGGREGATE … GROUP BY |> ORDER BY) instead of
    nested clauses. The surface is sugar — Catalyst resolves it to the
    SAME logical plan as c_sql_q1's clause form (scan-filter-aggregate,
    map-side partials, no join), so the oracle is the plain-SQL
    equivalent and pins that the pipe chain changes nothing
    semantically. AGGREGATE outputs group keys first, then aggregates
    — aliases matched on both sides. Money follows the house DECIMAL
    rule; l_quantity is integral so BIGINT sums are exact."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        FROM v_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |> AGGREGATE CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                     {_MONEY.format(expr=_REV)} AS revenue,
                     CAST(COUNT(*) AS BIGINT) AS n_items
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
    """)


@query(
    "c_sql_script",
    oracle="""
    WITH c AS (SELECT COUNT(*) AS total,
                      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
                           AS BIGINT) AS cents
               FROM orders),
         k AS (SELECT CAST(LENGTH(BIN(total - 1)) AS INT) AS doublings,
                      cents // total AS mean_cents
               FROM c)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           doublings
    FROM orders, k
    WHERE CAST(o_totalprice AS DECIMAL(12,2)) * 100 > mean_cents
    GROUP BY o_orderpriority, doublings
    """,
)
def c_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0, SPARK-48338 — BEGIN/END compound
    statements): DECLARE local variables, assign from scalar
    subqueries, iterate with WHILE, and parameterize a final query
    with the computed state. The script derives (a) the integer-exact
    mean order value in cents (DECIMAL cents summed, then BIGINT
    integer division — no double rounding on either engine) and
    (b) ceil(log2(row_count)) by literal doubling — the loop is
    driver-side control flow over scalar state, so the N queries it
    issues are each full Catalyst plans; scripting adds sequencing,
    not a new execution engine. The oracle mirrors the loop's result
    arithmetically: for total >= 2, doublings == bit_length(total-1)
    == LENGTH(BIN(total-1)) — pure integer, no libm log2 at
    power-of-two boundaries. Counting orders above the mean then
    reuses the scan-filter-aggregate shape; at 100 TB the script costs
    two aggregate passes (COUNT+SUM fused in one multi-variable SET —
    assigning them in separate SET statements scanned orders twice for
    one COUNT+SUM pair, then the filtered rollup) — same as
    hand-written SQL. r17: the loop body assigns from a VALUES row,
    not a one-row SELECT — same integers, but each iteration skips the
    SELECT's plan round-trip (loop measured 1.2 -> 0.8 s warm at
    ~18 iterations; a two-simple-SETs variant measured WORSE, 2.7 s,
    and was declined)."""
    _views(spark, sf_dir, "orders")
    return spark.sql("""
        BEGIN
          DECLARE total BIGINT DEFAULT 0;
          DECLARE mean_cents BIGINT DEFAULT 0;
          DECLARE doublings INT DEFAULT 0;
          DECLARE p BIGINT DEFAULT 1;
          SET (total, mean_cents) =
            (SELECT COUNT(*),
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
                         AS BIGINT) DIV COUNT(*)
             FROM v_orders);
          WHILE p < total DO
            SET (p, doublings) = (VALUES (p * 2, doublings + 1));
          END WHILE;
          SELECT o_orderpriority,
                 COUNT(*) AS n_above,
                 doublings
          FROM v_orders
          WHERE CAST(o_totalprice AS DECIMAL(12,2)) * 100 > mean_cents
          GROUP BY o_orderpriority;
        END
    """)


@query(
    "c_sql_variables",
    oracle="""
    WITH v AS (SELECT MAX(o_orderstatus) AS tgt FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           tgt AS status
    FROM orders, v
    WHERE o_orderstatus = tgt
    GROUP BY o_orderpriority, tgt
    """,
)
def c_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables + the IDENTIFIER clause (Spark 4.0,
    SPARK-46908 / SPARK-43205): DECLARE OR REPLACE VARIABLE, assign
    one variable from a data-driven scalar subquery (SET VAR tgt =
    (SELECT MAX(...))), and resolve the TABLE NAME itself from a
    string variable via IDENTIFIER(tbl) — the SQL-injection-safe form
    of dynamic table dispatch (the identifier is parsed as a name,
    never spliced as text). The final query references both: the
    oracle inlines the scalar subquery, pinning that variable
    indirection changes nothing semantically. DECLARE OR REPLACE keeps
    repeated driver scoring idempotent."""
    _views(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE sg_tbl STRING DEFAULT 'v_orders'")
    spark.sql("DECLARE OR REPLACE VARIABLE sg_tgt STRING DEFAULT ''")
    spark.sql("SET VAR sg_tgt = (SELECT MAX(o_orderstatus) FROM v_orders)")
    return spark.sql("""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               sg_tgt AS status
        FROM IDENTIFIER(sg_tbl)
        WHERE o_orderstatus = sg_tgt
        GROUP BY o_orderpriority
    """)


@query(
    "c_sql_exec_immediate",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS total_value
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND CAST(o_totalprice AS DECIMAL(12,2)) > 150000.00
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def c_sql_exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE with named parameter markers (Spark 4.0,
    SPARK-44840 / SPARK-44066): the query TEXT lives in a session
    variable and its :cutoff / :floor_price markers bind via USING —
    the SQL-standard form of safe dynamic SQL (markers bind as typed
    values, never splice as text; the c_sql_variables IDENTIFIER twin
    covers dynamic NAMES). The oracle inlines both parameters, pinning
    that parameter binding changes nothing semantically: Catalyst
    folds the bound literals into the same scan-filter-aggregate plan
    as the inline form, so pushdown and partition pruning see the
    VALUES, not opaque placeholders — at 100 TB a parameterized
    o_orderdate cutoff still prunes date partitions exactly like a
    literal one. Money follows the house DECIMAL rule."""
    _views(spark, sf_dir, "orders")
    spark.sql("""
        DECLARE OR REPLACE VARIABLE sg_stmt STRING DEFAULT '
          SELECT o_orderstatus,
                 COUNT(*) AS n_orders,
                 FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                            AS DOUBLE) * 100 + 0.5) / 100 AS total_value
          FROM v_orders
          WHERE o_orderdate >= :cutoff
            AND CAST(o_totalprice AS DECIMAL(12,2)) > :floor_price
          GROUP BY o_orderstatus
          ORDER BY o_orderstatus'
    """)
    return spark.sql(
        """
        EXECUTE IMMEDIATE sg_stmt
          USING TIMESTAMP '1997-01-01' AS cutoff,
                CAST(150000.00 AS DECIMAL(12,2)) AS floor_price
        """
    )
