"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship spatial-demand query at sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the scale extensions); ``oracle_sql()`` gives the DuckDB
equivalent for every SQL-expressible query. Both derive from
``QUERY_TABLE`` at the bottom of this file, the one place a query is
declared.

Hash-match discipline (the driver compares order-insensitive value hashes):

* money/quantity columns are exact 2-decimal values -> aggregate via
  ``decimal(18,4)`` casts on BOTH sides, then cast back to double, so sums
  are bit-exact regardless of partial-aggregation order;
* geo measures use closed-form spherical-Mercator math on both sides;
  residual float noise is ~1e-9 relative (see erde_spark/geo/ops.py
  translation-before-shoelace), rounded well above it;
* every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# make the repo importable no matter how the driver loaded this module
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DEFAULT = '/root/testdata/sf0.001'

_R = 6378137.0

_SHIPPED = False


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship erde_spark to executor Python workers (their PYTHONPATH may
    not contain the repo when the driver runs from elsewhere)."""
    global _SHIPPED
    if _SHIPPED:
        return
    try:
        import shutil
        import tempfile
        zip_base = os.path.join(tempfile.gettempdir(), 'erde_spark_pkg')
        zip_path = zip_base + '.zip'
        # rebuild when any package file is newer than the zip — a stale
        # cached zip would ship outdated code to executors across runs
        pkg = os.path.join(_REPO, 'erde_spark')
        newest = max(os.path.getmtime(os.path.join(root, f))
                     for root, _, files in os.walk(pkg)
                     for f in files if f.endswith('.py'))
        if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest:
            shutil.make_archive(zip_base, 'zip', root_dir=_REPO, base_dir='erde_spark')
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # local runs with PYTHONPATH set don't need it
    _SHIPPED = True


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict:
    _ensure_shipped(spark)
    from erde_spark.session import load_tables
    return load_tables(spark, sf_dir, *names)


def _dsum(col) -> F.Column:
    """Order-independent exact sum of a 2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast('decimal(18,4)')).cast('double')


# ---------------------------------------------------------------- synthesized geometry
# The TPC-H-ish testdata has no geometry columns; geo operators are gated on
# deterministic synthesized geometry derived from integer keys. The same
# arithmetic appears in the oracle SQL, so coordinates are bit-identical.

def _cust_points(cust: DataFrame) -> DataFrame:
    from erde_spark.functions.geo import st_point
    k = F.col('c_custkey')
    lon = 30.0 + (k % 100) / 10.0          # 30.0 .. 39.9, exact tenths
    lat = 50.0 + ((k * 13) % 80) / 10.0    # 50.0 .. 57.9
    return cust.select('c_custkey', 'c_acctbal', 'c_mktsegment',
                       lon.alias('lon'), lat.alias('lat'),
                       st_point(lon, lat).alias('geometry'))


def _nation_rects(nation: DataFrame) -> DataFrame:
    from erde_spark.functions.geo import st_envelope
    k = F.col('n_nationkey')
    xmin = 30.0 + (k % 5) * 2.0 + 0.05
    ymin = 50.0 + F.floor(k / 5) * 1.6 + 0.03
    return nation.select('n_nationkey', 'n_name',
                         st_envelope(xmin, ymin, xmin + 1.9, ymin + 1.5).alias('geometry'))


_CUST_POINT_SQL = """
    SELECT c_custkey, c_acctbal, c_mktsegment,
           30.0 + (c_custkey % 100)/10.0 AS lon,
           50.0 + ((c_custkey*13) % 80)/10.0 AS lat
    FROM customer
"""

_NATION_RECT_SQL = """
    SELECT n_nationkey, n_name,
           30.0 + (n_nationkey % 5)*2.0 + 0.05 AS xmin,
           50.0 + floor(n_nationkey/5)*1.6 + 0.03 AS ymin,
           30.0 + (n_nationkey % 5)*2.0 + 0.05 + 1.9 AS xmax,
           50.0 + floor(n_nationkey/5)*1.6 + 0.03 + 1.5 AS ymax
    FROM nation
"""


# ================================================================ relational

def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, 'lineitem')['lineitem']
    disc_price = F.col('l_extendedprice') * (1 - F.col('l_discount'))
    charge = disc_price * (1 + F.col('l_tax'))
    return (li.filter(F.col('l_shipdate') <= F.lit('1998-09-02').cast('timestamp'))
            .groupBy('l_returnflag', 'l_linestatus')
            .agg(_dsum('l_quantity').alias('sum_qty'),
                 _dsum('l_extendedprice').alias('sum_base_price'),
                 F.sum(disc_price.cast('decimal(18,6)')).cast('double').alias('sum_disc_price'),
                 F.sum(charge.cast('decimal(18,6)')).cast('double').alias('sum_charge'),
                 F.round(_dsum('l_quantity') / F.count('l_quantity'), 4).alias('avg_qty'),
                 F.round(_dsum('l_discount') / F.count('l_discount'), 6).alias('avg_disc'),
                 F.count(F.lit(1)).alias('count_order')))


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity), 4) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir):
    t = _t(spark, sf_dir, 'customer', 'orders', 'lineitem')
    rev = (F.col('l_extendedprice') * (1 - F.col('l_discount'))).cast('decimal(18,6)')
    j = (t['customer'].filter(F.col('c_mktsegment') == 'BUILDING')
         .join(t['orders'], F.col('c_custkey') == F.col('o_custkey'))
         .join(t['lineitem'], F.col('o_orderkey') == F.col('l_orderkey')))
    return (j.groupBy('o_orderkey', 'o_orderdate', 'o_orderpriority')
            .agg(F.sum(rev).cast('double').alias('revenue'))
            .orderBy(F.desc('revenue'), F.asc('o_orderkey'))
            .limit(10))


_Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_tpch_q5(spark, sf_dir):
    t = _t(spark, sf_dir, 'region', 'nation', 'customer', 'orders', 'lineitem')
    rev = (F.col('l_extendedprice') * (1 - F.col('l_discount'))).cast('decimal(18,6)')
    j = (t['region'].join(t['nation'], F.col('r_regionkey') == F.col('n_regionkey'))
         .join(t['customer'], F.col('n_nationkey') == F.col('c_nationkey'))
         .join(t['orders'], F.col('c_custkey') == F.col('o_custkey'))
         .join(t['lineitem'], F.col('o_orderkey') == F.col('l_orderkey')))
    return (j.groupBy('r_name', 'n_name')
            .agg(F.sum(rev).cast('double').alias('revenue'),
                 F.count(F.lit(1)).alias('n_items')))


_Q5_SQL = """
SELECT r_name, n_name,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM region JOIN nation ON r_regionkey = n_regionkey
            JOIN customer ON n_nationkey = c_nationkey
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY r_name, n_name
"""


def q_tpch_q6(spark, sf_dir):
    """Selective filter + global aggregate — the predicate-pushdown
    showcase: all four filters reach the parquet scan."""
    li = _t(spark, sf_dir, 'lineitem')['lineitem']
    f = (li.filter((F.col('l_shipdate') >= F.lit('1996-01-01').cast('timestamp'))
                   & (F.col('l_shipdate') < F.lit('1997-01-01').cast('timestamp'))
                   & (F.col('l_discount') >= 0.05) & (F.col('l_discount') <= 0.07)
                   & (F.col('l_quantity') < 24)))
    return f.agg(
        F.sum((F.col('l_extendedprice') * F.col('l_discount'))
              .cast('decimal(18,6)')).cast('double').alias('revenue'),
        F.count(F.lit(1)).alias('n_rows'))


_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_tpch_q4(spark, sf_dir):
    """EXISTS-style LEFT SEMI join: orders having at least one returned
    lineitem, counted by priority."""
    t = _t(spark, sf_dir, 'orders', 'lineitem')
    flagged = t['lineitem'].filter(F.col('l_returnflag') == 'R').select('l_orderkey')
    return (t['orders']
            .join(flagged, F.col('o_orderkey') == F.col('l_orderkey'), 'left_semi')
            .groupBy('o_orderpriority')
            .agg(F.count(F.lit(1)).alias('order_count')))


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_tpch_q13(spark, sf_dir):
    """LEFT OUTER join + two-level aggregation: distribution of customers
    by their order count."""
    t = _t(spark, sf_dir, 'customer', 'orders')
    per_cust = (t['customer']
                .join(t['orders'], F.col('c_custkey') == F.col('o_custkey'), 'left')
                .groupBy('c_custkey')
                .agg(F.count('o_orderkey').alias('c_count')))
    return per_cust.groupBy('c_count').agg(F.count(F.lit(1)).alias('custdist'))


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) t
GROUP BY c_count
"""


def q_tpch_q18(spark, sf_dir):
    """HAVING on a grouped sum, joined back to dims (large-volume
    customers): the partial-agg-then-join shape."""
    t = _t(spark, sf_dir, 'customer', 'orders', 'lineitem')
    big = (t['lineitem'].groupBy('l_orderkey')
           .agg(_dsum('l_quantity').alias('total_qty'))
           .filter(F.col('total_qty') > 250))
    return (big.join(t['orders'], F.col('l_orderkey') == F.col('o_orderkey'))
            .join(t['customer'], F.col('o_custkey') == F.col('c_custkey'))
            .select('c_name', 'o_orderkey', 'o_totalprice', 'total_qty'))


_Q18_SQL = """
SELECT c_name, o_orderkey, o_totalprice, total_qty
FROM (SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250) b
JOIN orders ON b.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_q19(spark, sf_dir):
    """Disjunctive OR-of-ANDs predicate over a dimension join (discounted
    revenue for three brand/size/quantity envelopes)."""
    t = _t(spark, sf_dir, 'lineitem', 'part')
    j = t['lineitem'].join(t['part'], F.col('l_partkey') == F.col('p_partkey'))
    q, s, b = F.col('l_quantity'), F.col('p_size'), F.col('p_brand')
    cond = (((b == 'Brand#12') & q.between(1, 11) & s.between(1, 5))
            | ((b == 'Brand#23') & q.between(10, 20) & s.between(1, 10))
            | ((b == 'Brand#34') & q.between(20, 30) & s.between(1, 15)))
    return j.filter(cond).agg(
        F.sum((F.col('l_extendedprice') * (1 - F.col('l_discount')))
              .cast('decimal(18,6)')).cast('double').alias('revenue'),
        F.count(F.lit(1)).alias('n_rows'))


_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand='Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand='Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand='Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
"""


def q_tpch_q10(spark, sf_dir):
    """Returned-item revenue per customer, top 20 (multi-join + group +
    deterministic top-k, ties broken by key)."""
    t = _t(spark, sf_dir, 'customer', 'orders', 'lineitem', 'nation')
    rev = (F.col('l_extendedprice') * (1 - F.col('l_discount'))).cast('decimal(18,6)')
    j = (t['customer']
         .join(t['orders'], F.col('c_custkey') == F.col('o_custkey'))
         .join(t['lineitem'].filter(F.col('l_returnflag') == 'R'),
               F.col('o_orderkey') == F.col('l_orderkey'))
         .join(t['nation'], F.col('c_nationkey') == F.col('n_nationkey')))
    return (j.groupBy('c_custkey', 'c_name', 'n_name')
            .agg(F.sum(rev).cast('double').alias('revenue'))
            .orderBy(F.desc('revenue'), F.asc('c_custkey'))
            .limit(20))


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
              JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_tpch_q7(spark, sf_dir):
    """Volume shipping between two nations (TPC-H Q7 shape: dual-role
    dimension join — nation joined once through supplier, once through
    customer — with a symmetric pair predicate and per-year rollup).
    Reference has no SQL surface; pattern parity per SURVEY.md §2.3."""
    t = _t(spark, sf_dir, 'supplier', 'lineitem', 'orders', 'customer', 'nation')
    n1 = t['nation'].select(F.col('n_nationkey').alias('n1_key'),
                            F.col('n_name').alias('supp_nation'))
    n2 = t['nation'].select(F.col('n_nationkey').alias('n2_key'),
                            F.col('n_name').alias('cust_nation'))
    rev = (F.col('l_extendedprice') * (1 - F.col('l_discount'))).cast('decimal(18,6)')
    j = (t['supplier']
         .join(t['lineitem'], F.col('s_suppkey') == F.col('l_suppkey'))
         .join(t['orders'], F.col('l_orderkey') == F.col('o_orderkey'))
         .join(t['customer'], F.col('o_custkey') == F.col('c_custkey'))
         .join(F.broadcast(n1), F.col('s_nationkey') == F.col('n1_key'))
         .join(F.broadcast(n2), F.col('c_nationkey') == F.col('n2_key'))
         .filter((((F.col('supp_nation') == 'NATION_1') & (F.col('cust_nation') == 'NATION_2'))
                  | ((F.col('supp_nation') == 'NATION_2') & (F.col('cust_nation') == 'NATION_1')))
                 & (F.col('l_shipdate') >= F.lit('1996-01-01').cast('timestamp'))
                 & (F.col('l_shipdate') < F.lit('1998-01-01').cast('timestamp'))))
    return (j.groupBy('supp_nation', 'cust_nation',
                      F.year('l_shipdate').alias('l_year'))
            .agg(F.sum(rev).cast('double').alias('revenue')))


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
"""


def q_tpch_q8(spark, sf_dir):
    """National market share (TPC-H Q8 shape: 6-table join, conditional
    aggregate numerator over unconditional denominator)."""
    t = _t(spark, sf_dir, 'region', 'nation', 'customer', 'orders',
           'lineitem', 'part', 'supplier')
    ns = t['nation'].select(F.col('n_nationkey').alias('ns_key'),
                            F.col('n_name').alias('supp_nation'))
    vol = (F.col('l_extendedprice') * (1 - F.col('l_discount'))).cast('decimal(18,6)')
    j = (t['region'].filter(F.col('r_name') == 'ASIA')
         .join(t['nation'], F.col('r_regionkey') == F.col('n_regionkey'))
         .join(t['customer'], F.col('n_nationkey') == F.col('c_nationkey'))
         .join(t['orders'], F.col('c_custkey') == F.col('o_custkey'))
         .join(t['lineitem'], F.col('o_orderkey') == F.col('l_orderkey'))
         .join(F.broadcast(t['part'].filter(F.col('p_type') == 'ECONOMY')),
               F.col('l_partkey') == F.col('p_partkey'))
         .join(F.broadcast(t['supplier']), F.col('l_suppkey') == F.col('s_suppkey'))
         .join(F.broadcast(ns), F.col('s_nationkey') == F.col('ns_key')))
    num = F.sum(F.when(F.col('supp_nation') == 'NATION_3', vol)
                .otherwise(F.lit(0).cast('decimal(18,6)'))).cast('double')
    return (j.groupBy(F.year('o_orderdate').alias('o_year'))
            .agg((num / F.sum(vol).cast('double')).alias('mkt_share'),
                 F.count(F.lit(1)).alias('n_rows')))


_Q8_SQL = """
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN ns.n_name = 'NATION_3'
                     THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS mkt_share,
       COUNT(*) AS n_rows
FROM region JOIN nation nc ON r_regionkey = nc.n_regionkey
            JOIN customer ON nc.n_nationkey = c_nationkey
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY o_year
"""


def q_tpch_q9(spark, sf_dir):
    """Product-type profit by nation and year (TPC-H Q9 shape). The
    testdata has no partsupp/ps_supplycost, so cost is modeled as
    0.5*p_retailprice*l_quantity — same join graph and LIKE filter."""
    t = _t(spark, sf_dir, 'lineitem', 'part', 'supplier', 'nation', 'orders')
    amount = ((F.col('l_extendedprice') * (1 - F.col('l_discount'))).cast('decimal(18,6)')
              - (F.lit(0.5) * F.col('p_retailprice') * F.col('l_quantity')).cast('decimal(18,6)'))
    j = (t['lineitem']
         .join(F.broadcast(t['part'].filter(F.col('p_name').like('%gear%'))),
               F.col('l_partkey') == F.col('p_partkey'))
         .join(F.broadcast(t['supplier']), F.col('l_suppkey') == F.col('s_suppkey'))
         .join(F.broadcast(t['nation']), F.col('s_nationkey') == F.col('n_nationkey'))
         .join(t['orders'], F.col('l_orderkey') == F.col('o_orderkey')))
    return (j.groupBy(F.col('n_name').alias('nation'),
                      F.year('o_orderdate').alias('o_year'))
            .agg(F.sum(amount).cast('double').alias('sum_profit')))


_Q9_SQL = """
SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))
                - CAST(0.5*p_retailprice*l_quantity AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_profit
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
"""


def q_tpch_q11(spark, sf_dir):
    """Important parts by value share (TPC-H Q11 shape: grouped sum
    filtered against a fraction of the global sum of the same base rows).
    Value = lineitem revenue through NATION_5 suppliers (no partsupp)."""
    t = _t(spark, sf_dir, 'lineitem', 'supplier', 'nation')
    base = (t['lineitem']
            .join(F.broadcast(t['supplier']), F.col('l_suppkey') == F.col('s_suppkey'))
            .join(F.broadcast(t['nation'].filter(F.col('n_name') == 'NATION_5')),
                  F.col('s_nationkey') == F.col('n_nationkey'))
            .select('l_partkey', 'l_extendedprice'))
    per_part = (base.groupBy('l_partkey')
                .agg(_dsum('l_extendedprice').alias('part_value')))
    total = base.agg((_dsum('l_extendedprice') * F.lit(0.001)).alias('thr'))
    return (per_part.crossJoin(F.broadcast(total))
            .filter(F.col('part_value') > F.col('thr'))
            .select('l_partkey', 'part_value'))


_Q11_SQL = """
WITH base AS (
  SELECT l_partkey, l_extendedprice
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_5')
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS part_value
FROM base
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) >
       (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) * 0.001
        FROM base)
"""


def q_tpch_q12(spark, sf_dir):
    """Late-shipment counts by priority class (TPC-H Q12 shape:
    conditional CASE aggregation over a fact-dim join; the testdata has
    no l_shipmode/commitdate, so 'late' = shipped >90 days after order)."""
    t = _t(spark, sf_dir, 'orders', 'lineitem')
    j = t['orders'].join(t['lineitem'], F.col('o_orderkey') == F.col('l_orderkey'))
    prio_class = (F.when(F.col('o_orderpriority').isin('1-URGENT', '2-HIGH'), 'high')
                  .otherwise('low').alias('prio_class'))
    late = F.col('l_shipdate') > F.col('o_orderdate') + F.expr('INTERVAL 90 DAYS')
    return (j.groupBy(prio_class)
            .agg(F.sum(F.when(late, 1).otherwise(0)).cast('long').alias('late_count'),
                 F.count(F.lit(1)).alias('line_count'))
            .orderBy('prio_class'))


# CAST(SUM(...) AS BIGINT): DuckDB sums integers into HUGEINT (int128),
# which hash-canonicalizes differently from Spark's bigint even when the
# values are equal; ORDER BY keeps both sides deterministically sorted.
_Q12_SQL = """
SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high' ELSE 'low' END
         AS prio_class,
       CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END)
            AS BIGINT) AS late_count,
       COUNT(*) AS line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY prio_class
ORDER BY prio_class
"""


def q_tpch_q15(spark, sf_dir):
    """Top supplier by quarterly revenue (TPC-H Q15 shape: aggregate
    view + scalar-max equality join; exact because revenue sums are
    decimal-cast on both sides)."""
    t = _t(spark, sf_dir, 'supplier', 'lineitem')
    rev = (t['lineitem']
           .filter((F.col('l_shipdate') >= F.lit('1996-01-01').cast('timestamp'))
                   & (F.col('l_shipdate') < F.lit('1996-04-01').cast('timestamp')))
           .groupBy('l_suppkey')
           .agg(F.sum((F.col('l_extendedprice') * (1 - F.col('l_discount')))
                      .cast('decimal(18,6)')).cast('double').alias('total_revenue')))
    mx = rev.agg(F.max('total_revenue').alias('mx'))
    return (t['supplier']
            .join(rev, F.col('s_suppkey') == F.col('l_suppkey'))
            .crossJoin(F.broadcast(mx))
            .filter(F.col('total_revenue') == F.col('mx'))
            .select('s_suppkey', 's_name', 'total_revenue'))


_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q_tpch_q16(spark, sf_dir):
    """Supplier count per part descriptor (TPC-H Q16 shape: DISTINCT
    pair derivation, NOT-IN anti join, COUNT(DISTINCT) rollup; the
    supplier-part relation comes from lineitem, not partsupp)."""
    t = _t(spark, sf_dir, 'lineitem', 'part', 'supplier')
    ps = t['lineitem'].select('l_partkey', 'l_suppkey').distinct()
    bad = t['supplier'].filter(F.col('s_acctbal') < 0).select('s_suppkey')
    return (ps.join(F.broadcast(bad), F.col('l_suppkey') == F.col('s_suppkey'),
                    'left_anti')
            .join(F.broadcast(t['part'].filter(
                (F.col('p_type') != 'PROMO')
                & F.col('p_size').isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49))),
                F.col('l_partkey') == F.col('p_partkey'))
            .groupBy('p_brand', 'p_type', 'p_size')
            .agg(F.countDistinct('l_suppkey').alias('supplier_cnt')))


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND p_size IN (1,5,9,13,17,21,25,29,33,37,41,45,49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_tpch_q17(spark, sf_dir):
    """Small-quantity order revenue (TPC-H Q17 shape: correlated
    per-part average subquery → grouped-avg join in Spark)."""
    t = _t(spark, sf_dir, 'lineitem', 'part')
    per_part = (t['lineitem'].groupBy(F.col('l_partkey').alias('ap_partkey'))
                .agg((_dsum('l_quantity') / F.count(F.lit(1))).alias('avg_qty')))
    brand = t['part'].filter(F.col('p_brand') == 'Brand#3').select('p_partkey')
    j = (t['lineitem']
         .join(F.broadcast(brand), F.col('l_partkey') == F.col('p_partkey'))
         .join(per_part, F.col('l_partkey') == F.col('ap_partkey'))
         .filter(F.col('l_quantity') < F.lit(0.2) * F.col('avg_qty')))
    return j.agg((_dsum('l_extendedprice') / F.lit(7.0)).alias('avg_yearly'),
                 F.count(F.lit(1)).alias('n_rows'))


_Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < 0.2 * (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                                 / COUNT(*)
                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def q_tpch_q20(spark, sf_dir):
    """Suppliers with heavy shipments of a part family (TPC-H Q20 shape:
    nested semi-join chain gated on a grouped HAVING; availqty threshold
    becomes shipped-quantity threshold since there is no partsupp)."""
    t = _t(spark, sf_dir, 'supplier', 'nation', 'lineitem', 'part')
    red_parts = t['part'].filter(F.col('p_name').like('red%')).select('p_partkey')
    qual = (t['lineitem']
            .join(F.broadcast(red_parts), F.col('l_partkey') == F.col('p_partkey'))
            .filter((F.col('l_shipdate') >= F.lit('1997-01-01').cast('timestamp'))
                    & (F.col('l_shipdate') < F.lit('1998-01-01').cast('timestamp')))
            .groupBy('l_suppkey', 'l_partkey')
            .agg(_dsum('l_quantity').alias('qty'))
            .filter(F.col('qty') > 30)
            .select('l_suppkey'))
    return (t['supplier']
            .join(F.broadcast(t['nation'].filter(F.col('n_name') == 'NATION_7')),
                  F.col('s_nationkey') == F.col('n_nationkey'))
            .join(qual, F.col('s_suppkey') == F.col('l_suppkey'), 'left_semi')
            .select('s_suppkey', 's_name'))


_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 30)
"""


def q_tpch_q21(spark, sf_dir):
    """Suppliers solely responsible for returned lines in multi-supplier
    orders (TPC-H Q21 shape: EXISTS + NOT-EXISTS double correlation,
    lowered to per-order distinct-supplier counts; l_returnflag='R'
    stands in for the missing receipt/commit dates)."""
    t = _t(spark, sf_dir, 'supplier', 'lineitem', 'orders')
    aux = (t['lineitem'].groupBy(F.col('l_orderkey').alias('aux_orderkey'))
           .agg(F.countDistinct('l_suppkey').alias('nsupp'),
                F.countDistinct(F.when(F.col('l_returnflag') == 'R',
                                       F.col('l_suppkey'))).alias('nsupp_r')))
    l1 = t['lineitem'].filter(F.col('l_returnflag') == 'R')
    return (l1.join(t['orders'].filter(F.col('o_orderstatus') == 'F'),
                    F.col('l_orderkey') == F.col('o_orderkey'))
            .join(aux, F.col('l_orderkey') == F.col('aux_orderkey'))
            .filter((F.col('nsupp') > 1) & (F.col('nsupp_r') == 1))
            .join(F.broadcast(t['supplier']), F.col('l_suppkey') == F.col('s_suppkey'))
            .groupBy('s_name')
            .agg(F.count(F.lit(1)).alias('numwait')))


_Q21_SQL = """
WITH aux AS (
  SELECT l_orderkey AS aux_orderkey,
         COUNT(DISTINCT l_suppkey) AS nsupp,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS nsupp_r
  FROM lineitem GROUP BY l_orderkey)
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN aux ON l1.l_orderkey = aux_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R' AND nsupp > 1 AND nsupp_r = 1
GROUP BY s_name
"""


def q_tpch_q22(spark, sf_dir):
    """Idle wealthy customers by country code (TPC-H Q22 shape: scalar
    positive-average subquery + NOT-EXISTS anti join + substring-style
    code bucketing via c_custkey % 7, since there is no c_phone; 'no
    orders' is 'no urgent orders' — every customer orders in this data)."""
    cust = _t(spark, sf_dir, 'customer')['customer']
    orders = (_t(spark, sf_dir, 'orders')['orders']
              .filter(F.col('o_orderpriority') == '1-URGENT'))
    avg_pos = (cust.filter(F.col('c_acctbal') > 0)
               .agg((F.sum(F.col('c_acctbal').cast('decimal(18,4)')).cast('double')
                     / F.count(F.lit(1))).alias('avg_pos')))
    sel = (cust.withColumn('cntrycode', F.col('c_custkey') % 7)
           .filter(F.col('cntrycode').isin(1, 2, 4, 6))
           .crossJoin(F.broadcast(avg_pos))
           .filter(F.col('c_acctbal') > F.col('avg_pos'))
           .join(orders.select('o_custkey'),
                 F.col('c_custkey') == F.col('o_custkey'), 'left_anti'))
    return (sel.groupBy('cntrycode')
            .agg(F.count(F.lit(1)).alias('numcust'),
                 _dsum('c_acctbal').alias('totacctbal')))


_Q22_SQL = """
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
FROM (SELECT c_custkey % 7 AS cntrycode, c_acctbal, c_custkey FROM customer) c
WHERE cntrycode IN (1,2,4,6)
  AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                          / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
"""


def q_tpch_q2(spark, sf_dir):
    """Minimum-balance supplier per part in a region (TPC-H Q2 shape:
    correlated MIN subquery → grouped-min equality join; supplier-part
    pairs derived from lineitem, s_acctbal stands in for ps_supplycost)."""
    t = _t(spark, sf_dir, 'lineitem', 'part', 'supplier', 'nation', 'region')
    ps = t['lineitem'].select('l_partkey', 'l_suppkey').distinct()
    esupp = (t['supplier']
             .join(F.broadcast(t['nation']), F.col('s_nationkey') == F.col('n_nationkey'))
             .join(F.broadcast(t['region'].filter(F.col('r_name') == 'EUROPE')),
                   F.col('n_regionkey') == F.col('r_regionkey'))
             .select('s_suppkey', 's_name', 's_acctbal', 'n_name'))
    parts = t['part'].filter((F.col('p_type') == 'STANDARD') & (F.col('p_size') < 10))
    j = (ps.join(F.broadcast(esupp), F.col('l_suppkey') == F.col('s_suppkey'))
         .join(F.broadcast(parts), F.col('l_partkey') == F.col('p_partkey'))
         .select('p_partkey', 'p_name', 's_suppkey', 's_name', 's_acctbal', 'n_name'))
    mn = (j.groupBy(F.col('p_partkey').alias('mn_partkey'))
          .agg(F.min('s_acctbal').alias('min_bal')))
    return (j.join(mn, (F.col('p_partkey') == F.col('mn_partkey'))
                   & (F.col('s_acctbal') == F.col('min_bal')))
            .select('s_acctbal', 's_name', 'n_name', 'p_partkey', 'p_name'))


_Q2_SQL = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
j AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
  FROM ps JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          JOIN part ON l_partkey = p_partkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size < 10)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM j
WHERE s_acctbal = (SELECT MIN(j2.s_acctbal) FROM j j2 WHERE j2.p_partkey = j.p_partkey)
"""


def q_resample_locf(spark, sf_dir):
    """Time-series gap-fill (extension): every user resampled onto a
    6-hour grid with the latest event value carried forward. Generated
    grid (JVM sequence) + one-shuffle as-of join; oracle = DuckDB
    generate_series x users ASOF LEFT JOIN events."""
    from erde_spark.operators.timeseries import resample_locf
    ev = _t(spark, sf_dir, 'events')['events']
    out = resample_locf(ev, 'ts', '6 hours', by='user_id',
                        value_cols=['value'],
                        start='2024-01-01 00:00:00', end='2024-01-30 18:00:00')
    return out.select('user_id', 'grid_ts',
                      F.round('value', 2).alias('value'), 'ts_obs')


_RESAMPLE_SQL = """
WITH grid AS (
  SELECT u.user_id, g.ts AS grid_ts
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                     TIMESTAMP '2024-01-30 18:00:00', INTERVAL 6 HOUR)) AS ts) g)
SELECT grid.user_id, grid.grid_ts, ROUND(e.value, 2) AS value, e.ts AS ts_obs
FROM grid ASOF LEFT JOIN (SELECT user_id, ts, value FROM events) e
  ON grid.user_id = e.user_id AND grid.grid_ts >= e.ts
"""


def q_asof_last_click(spark, sf_dir):
    """As-of join (extension — SURVEY.md §2.3 notes the reference has no
    as-of join): every 'view' event annotated with the user's most recent
    'click' at-or-before it. Single-shuffle union+window plan; the oracle
    is DuckDB's native ASOF LEFT JOIN."""
    from erde_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, 'events')['events']
    views = (ev.filter(F.col('event_type') == 'view')
             .select('event_id', 'user_id', 'ts'))
    clicks = (ev.filter(F.col('event_type') == 'click')
              .select('user_id', 'ts', F.col('value').alias('click_value')))
    out = asof_join(views, clicks, 'ts', by='user_id')
    return out.select('event_id', 'user_id', 'ts',
                      F.col('ts_right').alias('click_ts'),
                      F.round('click_value', 2).alias('click_value'))


_ASOF_SQL = """
SELECT v.event_id, v.user_id, v.ts, c.ts AS click_ts,
       ROUND(c.value, 2) AS click_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id AND v.ts >= c.ts
"""


def q_range_band_join(spark, sf_dir):
    """Range (non-equi band) join: classify lineitems into quantity bands
    defined by a tiny [lo, hi) dimension. Broadcast-nested-loop on a
    3-row dim — the correct physical plan at any fact-side scale."""
    li = _t(spark, sf_dir, 'lineitem')['lineitem']
    bands = spark.createDataFrame(
        [('small', 0.0, 10.0), ('mid', 10.0, 25.0), ('large', 25.0, 60.0)],
        'band string, lo double, hi double')
    j = li.join(F.broadcast(bands),
                (F.col('l_quantity') >= F.col('lo')) & (F.col('l_quantity') < F.col('hi')))
    return (j.groupBy('band')
            .agg(F.count(F.lit(1)).alias('n'),
                 _dsum('l_extendedprice').alias('revenue')))


_RANGE_BAND_SQL = """
SELECT band, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN (VALUES ('small', 0.0, 10.0), ('mid', 10.0, 25.0), ('large', 25.0, 60.0))
     b(band, lo, hi)
  ON l_quantity >= lo AND l_quantity < hi
GROUP BY band
"""


def q_rollup_pricing(spark, sf_dir):
    """ROLLUP hierarchy totals: (returnflag, linestatus) -> returnflag ->
    grand total in one pass (partial-agg friendly, single shuffle)."""
    li = _t(spark, sf_dir, 'lineitem')['lineitem']
    return (li.rollup('l_returnflag', 'l_linestatus')
            .agg(F.count(F.lit(1)).alias('n'),
                 _dsum('l_quantity').alias('sum_qty')))


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube_orders(spark, sf_dir):
    """CUBE over (orderstatus, orderpriority): all 4 grouping-set
    combinations of order counts and exact total price."""
    o = _t(spark, sf_dir, 'orders')['orders']
    return (o.cube('o_orderstatus', 'o_orderpriority')
            .agg(F.count(F.lit(1)).alias('n'),
                 _dsum('o_totalprice').alias('total_price')))


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS ((status), (priority)) through the engine's
    SQL entry point (spark.sql over a temp view) — one shuffle, both
    aggregates computed in a single pass with grouping() markers
    disambiguating the set each row belongs to."""
    o = _t(spark, sf_dir, 'orders')['orders']
    o.createOrReplaceTempView('__gs_orders')
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_price
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """)


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


def q_pivot_priority_revenue(spark, sf_dir):
    """PIVOT: order revenue by market segment (rows) x order priority
    (columns). Explicit pivot-value list keeps the plan a single
    conditional aggregation — no distinct-values pre-scan."""
    t = _t(spark, sf_dir, 'orders', 'customer')
    prios = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
    j = t['orders'].join(t['customer'], F.col('o_custkey') == F.col('c_custkey'))
    return (j.groupBy('c_mktsegment')
            .pivot('o_orderpriority', prios)
            .agg(_dsum('o_totalprice')))


_PIVOT_SQL = """
SELECT c_mktsegment,
  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "1-URGENT",
  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "2-HIGH",
  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "3-MEDIUM",
  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "4-NOT SPECIFIED",
  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "5-LOW"
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_string_funcs(spark, sf_dir):
    """String-function surface (SURVEY.md §2.6: the reference has no
    string library — Spark F.* provides it natively): case mapping,
    substring, length, padding, split-indexing, literal regexp_replace,
    multi-column concat. Pure whole-stage-codegen projection — no Python,
    no shuffle."""
    c = _t(spark, sf_dir, 'customer')['customer']
    return c.select(
        'c_custkey',
        F.upper('c_name').alias('name_upper'),
        F.lower('c_mktsegment').alias('seg_lower'),
        F.substring('c_name', 1, 8).alias('name_prefix'),
        F.length('c_name').cast('long').alias('name_len'),
        F.lpad(F.col('c_custkey').cast('string'), 10, '0').alias('key_padded'),
        F.split('c_name', '#').getItem(1).alias('name_num'),
        F.regexp_replace('c_name', 'Customer#', 'C-').alias('name_short'),
        F.concat_ws('|', 'c_mktsegment', 'c_name').alias('seg_name'))


_STRING_FUNCS_SQL = """
SELECT c_custkey,
  UPPER(c_name) AS name_upper,
  LOWER(c_mktsegment) AS seg_lower,
  SUBSTRING(c_name, 1, 8) AS name_prefix,
  CAST(LENGTH(c_name) AS BIGINT) AS name_len,
  LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
  STRING_SPLIT(c_name, '#')[2] AS name_num,
  REGEXP_REPLACE(c_name, 'Customer#', 'C-') AS name_short,
  CONCAT_WS('|', c_mktsegment, c_name) AS seg_name
FROM customer
"""


def q_date_funcs(spark, sf_dir):
    """Date/time-function surface (the reference never touches
    timestamps — SURVEY.md §1.2): extract year/quarter/month/day,
    day-of-week (normalized to Sunday=0 across engines), month
    truncation, and day arithmetic against a fixed epoch. Projection
    only — codegen, no shuffle."""
    o = _t(spark, sf_dir, 'orders')['orders']
    return o.select(
        'o_orderkey',
        F.year('o_orderdate').cast('long').alias('yr'),
        F.quarter('o_orderdate').cast('long').alias('qtr'),
        F.month('o_orderdate').cast('long').alias('mon'),
        F.dayofmonth('o_orderdate').cast('long').alias('dom'),
        (F.dayofweek('o_orderdate') - 1).cast('long').alias('dow'),
        F.date_trunc('month', 'o_orderdate').alias('month_start'),
        F.datediff('o_orderdate', F.lit('1995-01-01').cast('timestamp'))
         .cast('long').alias('days_since_1995'))


_DATE_FUNCS_SQL = """
SELECT o_orderkey,
  CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
  CAST(QUARTER(o_orderdate) AS BIGINT) AS qtr,
  CAST(MONTH(o_orderdate) AS BIGINT) AS mon,
  CAST(DAY(o_orderdate) AS BIGINT) AS dom,
  CAST(DAYOFWEEK(o_orderdate) % 7 AS BIGINT) AS dow,
  DATE_TRUNC('month', o_orderdate) AS month_start,
  CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
    AS days_since_1995
FROM orders
"""


def q_array_funcs(spark, sf_dir):
    """Array-function surface over tokenized documents: sort, distinct
    count, containment, slicing, and string re-join — all JVM built-ins
    (SURVEY.md §2.6 "map/array functions: Spark F.* covers natively").
    Arrays are re-joined to strings so the oracle compare stays on scalar
    columns."""
    d = _t(spark, sf_dir, 'documents')['documents']
    toks = F.split(F.lower('text'), r'\s+')
    return d.select(
        'doc_id',
        F.size(toks).cast('long').alias('n_tokens'),
        F.size(F.array_distinct(toks)).cast('long').alias('n_distinct'),
        F.array_contains(toks, 'the').alias('has_the'),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), ' ')
         .alias('first5_sorted'))


_ARRAY_FUNCS_SQL = """
SELECT doc_id,
  CAST(LENGTH(STRING_SPLIT_REGEX(LOWER(text), '\\s+')) AS BIGINT) AS n_tokens,
  CAST(LENGTH(LIST_DISTINCT(STRING_SPLIT_REGEX(LOWER(text), '\\s+'))) AS BIGINT)
    AS n_distinct,
  LIST_CONTAINS(STRING_SPLIT_REGEX(LOWER(text), '\\s+'), 'the') AS has_the,
  ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT_REGEX(LOWER(text), '\\s+')))[1:5], ' ')
    AS first5_sorted
FROM documents
"""


def q_percentile_prices(spark, sf_dir):
    """Exact interpolated percentiles (median / p90) of extended price per
    return flag — Spark `percentile` vs DuckDB `quantile_cont`, rounded to
    4 decimals to absorb last-ulp interpolation differences."""
    li = _t(spark, sf_dir, 'lineitem')['lineitem']
    return (li.groupBy('l_returnflag')
            .agg(F.round(F.percentile('l_extendedprice', F.lit(0.5)), 4).alias('p50'),
                 F.round(F.percentile('l_extendedprice', F.lit(0.9)), 4).alias('p90'),
                 F.count(F.lit(1)).alias('n')))


_PERCENTILE_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_anti_join(spark, sf_dir):
    """NOT EXISTS-style LEFT ANTI join: customers who never placed an
    urgent-priority order."""
    t = _t(spark, sf_dir, 'customer', 'orders')
    urgent = (t['orders'].filter(F.col('o_orderpriority') == '1-URGENT')
              .select('o_custkey'))
    return (t['customer']
            .join(urgent, F.col('c_custkey') == F.col('o_custkey'), 'left_anti')
            .select('c_custkey', 'c_name', 'c_mktsegment'))


_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_scalar_subquery(spark, sf_dir):
    """Scalar-subquery threshold: customers above the global average
    balance (threshold computed decimal-exact on both sides)."""
    cust = _t(spark, sf_dir, 'customer')['customer']
    thr = cust.agg((F.sum(F.col('c_acctbal').cast('decimal(18,4)')).cast('double')
                    / F.count(F.lit(1))).alias('thr'))
    return (cust.crossJoin(F.broadcast(thr))
            .filter(F.col('c_acctbal') > F.col('thr'))
            .select('c_custkey', 'c_acctbal'))


_SCALAR_SUB_SQL = """
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                          / COUNT(*) FROM customer)
"""


def q_full_outer_priority(spark, sf_dir):
    """FULL OUTER join (the one join kind not covered elsewhere): per
    customer, urgent-order stats vs low-priority-order stats; customers
    appearing on only one side keep NULLs on the other."""
    o = _t(spark, sf_dir, 'orders')['orders']
    urgent = (o.filter(F.col('o_orderpriority') == '1-URGENT')
              .groupBy(F.col('o_custkey').alias('u_custkey'))
              .agg(F.count(F.lit(1)).alias('urgent_orders')))
    low = (o.filter(F.col('o_orderpriority') == '5-LOW')
           .groupBy(F.col('o_custkey').alias('l_custkey'))
           .agg(F.count(F.lit(1)).alias('low_orders')))
    j = urgent.join(low, F.col('u_custkey') == F.col('l_custkey'), 'full_outer')
    return j.select(F.coalesce('u_custkey', 'l_custkey').alias('custkey'),
                    'urgent_orders', 'low_orders')


_FULL_OUTER_SQL = """
WITH u AS (SELECT o_custkey AS u_custkey, COUNT(*) AS urgent_orders
           FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
     l AS (SELECT o_custkey AS l_custkey, COUNT(*) AS low_orders
           FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1)
SELECT COALESCE(u_custkey, l_custkey) AS custkey, urgent_orders, low_orders
FROM u FULL OUTER JOIN l ON u_custkey = l_custkey
"""


def q_subset_dsl(spark, sf_dir):
    from erde_spark.operators.subset import subset
    li = _t(spark, sf_dir, 'lineitem')['lineitem']
    return subset(li, 'l_orderkey:ok, l_linenumber:line, l_quantity:qty, l_returnflag')


_SUBSET_SQL = """
SELECT l_orderkey AS ok, l_linenumber AS line, l_quantity AS qty, l_returnflag
FROM lineitem
"""


def q_lookup_customer(spark, sf_dir):
    from erde_spark.operators.lookup import lookup
    t = _t(spark, sf_dir, 'orders', 'customer')
    out = lookup(t['orders'], t['customer'], ['c_name', 'c_mktsegment'],
                 left_on='o_custkey', right_on='c_custkey')
    return out.select('o_orderkey', 'o_custkey', 'c_name', 'c_mktsegment')


_LOOKUP_SQL = """
SELECT o_orderkey, o_custkey, c.c_name, c.c_mktsegment
FROM orders LEFT JOIN (
  SELECT c_custkey, c_name, c_mktsegment FROM customer
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY c_name ASC) = 1
) c ON o_custkey = c.c_custkey
"""


def q_crossjoin_dims(spark, sf_dir):
    from erde_spark.operators.lookup import crossjoin
    t = _t(spark, sf_dir, 'region', 'nation')
    return crossjoin(t['region'].select('r_name'), t['nation'].select('n_name'))


_CROSSJOIN_SQL = "SELECT r_name, n_name FROM region CROSS JOIN nation"


def q_column_stats(spark, sf_dir):
    """Per-column min/mean/max/variance/count (reference GpkgReader.stats).
    Mean and population variance computed from decimal-exact power sums so
    the values are engine-independent."""
    li = _t(spark, sf_dir, 'lineitem')['lineitem']
    out = []
    for c in ('l_quantity', 'l_extendedprice', 'l_discount'):
        col = F.col(c)
        s1 = F.sum(col.cast('decimal(28,6)')).cast('double')
        s2 = F.sum((col * col).cast('decimal(28,8)')).cast('double')
        n = F.count(col)
        out.append(li.agg(
            F.lit(c).alias('column_name'),
            F.min(col).cast('double').alias('min'),
            F.round(s1 / n, 6).alias('mean'),
            F.max(col).cast('double').alias('max'),
            F.round((s2 - s1 * s1 / n) / n, 4).alias('variance'),
            n.alias('count')))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


_STATS_SQL = """
SELECT * FROM (
  SELECT 'l_quantity' AS column_name, CAST(MIN(l_quantity) AS DOUBLE) AS min,
    ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)/COUNT(l_quantity), 6) AS mean,
    CAST(MAX(l_quantity) AS DOUBLE) AS max,
    ROUND((CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,8))) AS DOUBLE)
      - CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)^2/COUNT(l_quantity))/COUNT(l_quantity), 4) AS variance,
    COUNT(l_quantity) AS count FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', CAST(MIN(l_extendedprice) AS DOUBLE),
    ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)/COUNT(l_extendedprice), 6),
    CAST(MAX(l_extendedprice) AS DOUBLE),
    ROUND((CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(28,8))) AS DOUBLE)
      - CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)^2/COUNT(l_extendedprice))/COUNT(l_extendedprice), 4),
    COUNT(l_extendedprice) FROM lineitem
  UNION ALL
  SELECT 'l_discount', CAST(MIN(l_discount) AS DOUBLE),
    ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE)/COUNT(l_discount), 6),
    CAST(MAX(l_discount) AS DOUBLE),
    ROUND((CAST(SUM(CAST(l_discount*l_discount AS DECIMAL(28,8))) AS DOUBLE)
      - CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE)^2/COUNT(l_discount))/COUNT(l_discount), 4),
    COUNT(l_discount) FROM lineitem
)
"""


def q_window_top3(spark, sf_dir):
    """Top-3 orders per customer by total price (window/rank surface)."""
    o = _t(spark, sf_dir, 'orders')['orders']
    w = Window.partitionBy('o_custkey').orderBy(F.desc('o_totalprice'), F.asc('o_orderkey'))
    return (o.withColumn('rk', F.row_number().over(w))
            .filter(F.col('rk') <= 3)
            .select('o_custkey', 'o_orderkey', 'o_totalprice', 'rk'))


_WINDOW_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders) WHERE rk <= 3
"""


def q_window_running(spark, sf_dir):
    """Ordered-frame window surface: per-customer running revenue
    (cumulative sum) and days since the previous order (lag). One shuffle
    on the partition key; decimal-cast running sum is order-exact."""
    o = _t(spark, sf_dir, 'orders')['orders']
    w = (Window.partitionBy('o_custkey')
         .orderBy('o_orderdate', 'o_orderkey'))
    run = (F.sum(F.col('o_totalprice').cast('decimal(18,4)'))
           .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    prev = F.lag('o_orderdate').over(w)
    return o.select(
        'o_custkey', 'o_orderkey',
        run.cast('double').alias('running_total'),
        F.datediff('o_orderdate', prev).cast('long').alias('days_since_prev'))


_WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS running_total,
  CAST(date_diff('day',
       lag(o_orderdate) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey),
       o_orderdate) AS BIGINT) AS days_since_prev
FROM orders
"""


def q_sketch_cardinality(spark, sf_dir):
    """HLL sketch vs exact cardinality per event type. The raw approx
    value is engine-specific, so the DRIVER-GATEABLE output is the exact
    count plus a Spark-computed ``within_2pct`` flag (HLL with rsd=0.02
    stays within ~2.5%% with overwhelming probability at these
    cardinalities); the oracle recomputes the exact counts and asserts the
    flag TRUE. The raw approx value itself is asserted in
    tests/test_scale.py."""
    ev = _t(spark, sf_dir, 'events')['events']
    exact = F.countDistinct('user_id')
    approx = F.approx_count_distinct('user_id', 0.02)
    return (ev.groupBy('event_type')
            .agg(exact.alias('exact_users'),
                 (F.abs(approx - exact) / exact <= 0.025).alias('within_2pct')))


_SKETCH_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_2pct
FROM events GROUP BY event_type
"""


def q_distinct_segments(spark, sf_dir):
    c = _t(spark, sf_dir, 'customer')['customer']
    return c.select('c_mktsegment').distinct()


_DISTINCT_SQL = "SELECT DISTINCT c_mktsegment FROM customer"


def q_tpch_q14_promo(spark, sf_dir):
    """Promo revenue share per month (lineitem x part, conditional agg)."""
    t = _t(spark, sf_dir, 'lineitem', 'part')
    rev = (F.col('l_extendedprice') * (1 - F.col('l_discount'))).cast('decimal(18,6)')
    j = t['lineitem'].join(t['part'], F.col('l_partkey') == F.col('p_partkey'))
    month = F.date_trunc('month', F.col('l_shipdate'))
    return (j.groupBy(month.alias('month'))
            .agg(F.sum(F.when(F.col('p_type').startswith('PROMO'), rev)
                       .otherwise(F.lit(0).cast('decimal(18,6)')))
                 .cast('double').alias('promo_rev'),
                 F.sum(rev).cast('double').alias('total_rev'),
                 F.count(F.lit(1)).alias('n_items')))


_Q14_SQL = """
SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
       THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))
       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_rev,
  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q_supplier_by_nation(spark, sf_dir):
    """supplier x nation x region rollup (covers the supplier table)."""
    t = _t(spark, sf_dir, 'supplier', 'nation', 'region')
    j = (t['supplier'].join(t['nation'], F.col('s_nationkey') == F.col('n_nationkey'))
         .join(t['region'], F.col('n_regionkey') == F.col('r_regionkey')))
    return (j.groupBy('r_name', 'n_name')
            .agg(F.count(F.lit(1)).alias('n_suppliers'),
                 F.round(_dsum('s_acctbal'), 2).alias('sum_acctbal')))


_SUPPLIER_SQL = """
SELECT r_name, n_name, COUNT(*) AS n_suppliers,
  ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ================================================================ events

def q_events_hourly(spark, sf_dir):
    from erde_spark.streaming.windows import tumbling_agg
    ev = _t(spark, sf_dir, 'events')['events']
    return tumbling_agg(ev, 'ts', '1 hour',
                        {'n': F.count(F.lit(1)),
                         'sum_value': F.round(_dsum('value'), 2)},
                        by=['event_type']).drop('window_end')


_EVENTS_HOURLY_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
  COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_json(spark, sf_dir):
    """Extract an int field from the JSON props column, aggregate per type."""
    ev = _t(spark, sf_dir, 'events')['events']
    k = F.regexp_extract(F.col('props'), r'"k":\s*(\d+)', 1).cast('long')
    return (ev.withColumn('k', k)
            .groupBy('event_type')
            .agg(F.sum('k').alias('sum_k'), F.count('k').alias('n')))


_EVENTS_JSON_SQL = """
SELECT event_type,
  CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
  COUNT(*) AS n
FROM events GROUP BY event_type
"""


def q_events_sliding(spark, sf_dir):
    """Sliding windows (1 hour every 30 min): every event lands in 2
    windows — oracle = union of the two shifted half-hour truncations."""
    from erde_spark.streaming.windows import sliding_agg
    ev = _t(spark, sf_dir, 'events')['events']
    return sliding_agg(ev, 'ts', '1 hour', '30 minutes',
                       {'n': F.count(F.lit(1))}).drop('window_end')


_EVENTS_SLIDING_SQL = """
WITH g AS (SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP))/1800)*1800)
                       AS TIMESTAMP) AS half FROM events)
SELECT window_start, COUNT(*) AS n FROM (
  SELECT half AS window_start FROM g
  UNION ALL
  SELECT half - INTERVAL 30 MINUTE AS window_start FROM g
) GROUP BY window_start
"""


def q_events_sessionize(spark, sf_dir):
    """Session windows (5-minute gap) per user — Spark session_window."""
    from erde_spark.streaming.windows import session_agg
    ev = _t(spark, sf_dir, 'events')['events']
    return session_agg(ev, 'ts', '5 minutes',
                       {'n': F.count(F.lit(1))}, by=['user_id'])


_SESSIONIZE_SQL = """
WITH m AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
    CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
        OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL 5 MINUTE
      THEN 0 ELSE 1 END AS new_s
  FROM events),
g AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT MIN(ts) AS window_start, MAX(ts) + INTERVAL 5 MINUTE AS window_end,
       user_id, COUNT(*) AS n
FROM g GROUP BY user_id, sid
"""


# ================================================================ geo

def q_geo_rect_area(spark, sf_dir):
    """Metric area of per-customer rectangles (erde `area` semantics:
    3857 planar area x cos^2(lat))."""
    from erde_spark.functions.geo import st_envelope, st_metric_area
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    lon = 30.0 + (k % 100) / 10.0
    lat = 50.0 + ((k * 13) % 80) / 10.0
    w = 0.01 + (k % 5) * 0.002
    h = 0.008 + (k % 3) * 0.003
    rect = st_envelope(lon, lat, lon + w, lat + h)
    return cust.select(k.alias('c_custkey'),
                       F.round(st_metric_area(rect), 2).alias('area_m2'))


_GEO_AREA_SQL = """
WITH p AS (SELECT c_custkey,
    30.0 + (c_custkey % 100)/10.0 AS lon, 50.0 + ((c_custkey*13) % 80)/10.0 AS lat,
    0.01 + (c_custkey % 5)*0.002 AS w, 0.008 + (c_custkey % 3)*0.003 AS h
  FROM customer),
m AS (SELECT c_custkey,
    6378137.0*radians(lon) AS x1, 6378137.0*radians(lon+w) AS x2,
    6378137.0*ln(tan(pi()/4 + radians(lat)/2)) AS y1,
    6378137.0*ln(tan(pi()/4 + radians(lat+h)/2)) AS y2
  FROM p)
SELECT c_custkey,
  ROUND((x2-x1)*(y2-y1) *
    cos(radians(degrees(2*atan(exp(((y1+y2)/2)/6378137.0)) - pi()/2)))^2, 2) AS area_m2
FROM m
"""


def q_geo_line_length(spark, sf_dir):
    """Metric length of a per-customer segment (erde `length` semantics:
    3857 planar length x cos(lat))."""
    from erde_spark.functions.geo import (st_linestring_between, st_metric_length,
                                          st_point)
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    lon = 30.0 + (k % 100) / 10.0
    lat = 50.0 + ((k * 13) % 80) / 10.0
    line = st_linestring_between(st_point(lon, lat),
                                 st_point(lon + F.lit(0.01), lat + F.lit(0.005)))
    return cust.select(k.alias('c_custkey'),
                       F.round(st_metric_length(line), 4).alias('length_m'))


_GEO_LENGTH_SQL = """
WITH p AS (SELECT c_custkey,
    30.0 + (c_custkey % 100)/10.0 AS lon, 50.0 + ((c_custkey*13) % 80)/10.0 AS lat
  FROM customer),
m AS (SELECT c_custkey,
    6378137.0*radians(lon) AS x1, 6378137.0*radians(lon+0.01) AS x2,
    6378137.0*ln(tan(pi()/4 + radians(lat)/2)) AS y1,
    6378137.0*ln(tan(pi()/4 + radians(lat+0.005)/2)) AS y2
  FROM p)
SELECT c_custkey,
  ROUND(sqrt((x2-x1)^2 + (y2-y1)^2) *
    cos(radians(degrees(2*atan(exp(((y1+y2)/2)/6378137.0)) - pi()/2))), 4) AS length_m
FROM m
"""


def q_geo_buffer_area(spark, sf_dir):
    """Metric buffer then metric area. The 64-gon buffer of radius r has
    exact metric area 32*sin(pi/32)*r^2 (radius scaling by 1/cos(lat)
    cancels the cos^2(lat) area correction) — the oracle checks the full
    buffer->reproject->area pipeline against that closed form."""
    from erde_spark.functions.geo import st_buffer, st_metric_area, st_point
    cust = _t(spark, sf_dir, 'customer')['customer'].limit(500)
    k = F.col('c_custkey')
    lon = 30.0 + (k % 100) / 10.0
    lat = 50.0 + ((k * 13) % 80) / 10.0
    r = 500.0 + (k % 10) * 100.0
    buf = st_buffer(st_point(lon, lat), r)
    return cust.select(k.alias('c_custkey'),
                       F.round(st_metric_area(buf), 0).alias('buffer_area_m2'))


_GEO_BUFFER_SQL = """
SELECT c_custkey,
  ROUND(32*sin(pi()/32) * (500.0 + (c_custkey % 10)*100.0)^2, 0) AS buffer_area_m2
FROM customer LIMIT 500
"""


def q_sjoin_points_rects(spark, sf_dir):
    """Spatial inner join: customer points inside nation rectangles."""
    from erde_spark.operators.sjoin import sjoin
    t = _t(spark, sf_dir, 'customer', 'nation')
    pts = _cust_points(t['customer'])
    rects = _nation_rects(t['nation'])
    out = sjoin(pts, rects, op='within')
    return out.select('c_custkey', 'n_nationkey', 'n_name')


_SJOIN_SQL = f"""
WITH p AS ({_CUST_POINT_SQL}), r AS ({_NATION_RECT_SQL})
SELECT p.c_custkey, r.n_nationkey, r.n_name
FROM p JOIN r ON p.lon > r.xmin AND p.lon < r.xmax
             AND p.lat > r.ymin AND p.lat < r.ymax
"""


def q_snearest_rect(spark, sf_dir):
    """Nearest-neighbor spatial join (extension operator): every customer
    point paired with its closest nation rectangle within 0.123456 deg;
    ties (points on the lattice gap midlines equidistant from 2-4 rects)
    break by right-row content, which the oracle replicates with
    ROW_NUMBER ordered by (dist, nationkey). Points on the vertical gap
    MIDLINES (lon 32/34/36/38) are excluded: their left/right distances
    differ only at 1-ulp FP resolution, where Spark's hypot and SQL's
    sqrt(dx^2+dy^2) legitimately disagree about the winner."""
    from erde_spark.operators.sjoin import snearest
    t = _t(spark, sf_dir, 'customer', 'nation')
    cust = t['customer'].filter(~(F.col('c_custkey') % 100).isin(20, 40, 60, 80))
    pts = _cust_points(cust).select('c_custkey', 'geometry')
    rects = _nation_rects(t['nation'])
    out = snearest(pts, rects, max_distance=0.123456)
    return out.select('c_custkey', 'n_nationkey', 'n_name',
                      F.round('distance', 6).alias('distance'))


_SNEAREST_SQL = f"""
WITH p AS ({_CUST_POINT_SQL}), r AS ({_NATION_RECT_SQL}),
d AS (
  SELECT p.c_custkey, r.n_nationkey, r.n_name,
         SQRT(POW(GREATEST(r.xmin - p.lon, 0, p.lon - r.xmax), 2)
            + POW(GREATEST(r.ymin - p.lat, 0, p.lat - r.ymax), 2)) AS dist
  FROM p CROSS JOIN r
  WHERE p.c_custkey % 100 NOT IN (20, 40, 60, 80))
SELECT c_custkey, n_nationkey, n_name, ROUND(dist, 6) AS distance
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                   ORDER BY dist, n_nationkey) AS rn
      FROM d WHERE dist <= 0.123456)
WHERE rn = 1
"""


def q_sagg_rect_demand(spark, sf_dir):
    """Spatial aggregate (the reference's flagship `sagg` pattern): per
    nation rectangle, sum + count of contained customer balances."""
    from erde_spark.operators.sjoin import sagg
    t = _t(spark, sf_dir, 'customer', 'nation')
    pts = _cust_points(t['customer'])
    rects = _nation_rects(t['nation'])
    out = sagg(rects, pts, {'c_acctbal': 'sum', 'c_custkey': 'count'}, op='contains')
    return out.select('n_nationkey', 'n_name',
                      F.round(F.col('c_acctbal').cast('double'), 2).alias('sum_acctbal'),
                      F.col('c_custkey').cast('long').alias('n_customers'))


_SAGG_SQL = f"""
WITH p AS ({_CUST_POINT_SQL}), r AS ({_NATION_RECT_SQL})
SELECT r.n_nationkey, r.n_name,
  ROUND(CAST(SUM(p.c_acctbal) AS DOUBLE), 2) AS sum_acctbal,
  COUNT(p.c_custkey) AS n_customers
FROM r LEFT JOIN p ON p.lon > r.xmin AND p.lon < r.xmax
                  AND p.lat > r.ymin AND p.lat < r.ymax
GROUP BY r.n_nationkey, r.n_name
"""


def q_sfilter_outside(spark, sf_dir):
    """Spatial anti filter: customers outside every nation rectangle."""
    from erde_spark.operators.sjoin import sfilter
    t = _t(spark, sf_dir, 'customer', 'nation')
    pts = _cust_points(t['customer'])
    rects = _nation_rects(t['nation'])
    return sfilter(pts, rects, negative=True, op='within') \
        .select('c_custkey', 'lon', 'lat')


_SFILTER_SQL = f"""
WITH p AS ({_CUST_POINT_SQL}), r AS ({_NATION_RECT_SQL})
SELECT c_custkey, lon, lat FROM p
WHERE NOT EXISTS (SELECT 1 FROM r
  WHERE p.lon > r.xmin AND p.lon < r.xmax
    AND p.lat > r.ymin AND p.lat < r.ymax)
"""


def q_slookup_nation(spark, sf_dir):
    """Spatial lookup: first (only — rects are disjoint) containing
    rectangle's name per customer point."""
    from erde_spark.operators.sjoin import slookup
    t = _t(spark, sf_dir, 'customer', 'nation')
    pts = _cust_points(t['customer'])
    rects = _nation_rects(t['nation'])
    return slookup(pts, rects, 'n_name', op='within').select('c_custkey', 'n_name')


_SLOOKUP_SQL = f"""
WITH p AS ({_CUST_POINT_SQL}), r AS ({_NATION_RECT_SQL})
SELECT p.c_custkey, r.n_name
FROM p LEFT JOIN r ON p.lon > r.xmin AND p.lon < r.xmax
                  AND p.lat > r.ymin AND p.lat < r.ymax
"""


def q_geo_transform(spark, sf_dir):
    """CRS conversion 4326 -> 3857 (erde `convert`): projected x/y."""
    from erde_spark.functions.geo import st_centroid_xy, st_point, st_transform
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    lon = 30.0 + (k % 100) / 10.0
    lat = 50.0 + ((k * 13) % 80) / 10.0
    xy = st_centroid_xy(st_transform(st_point(lon, lat), 4326, 3857))
    return cust.select(k.alias('c_custkey'),
                       F.round(xy['x'], 6).alias('x_3857'),
                       F.round(xy['y'], 6).alias('y_3857'))


_GEO_TRANSFORM_SQL = """
SELECT c_custkey,
  ROUND(6378137.0*radians(30.0 + (c_custkey % 100)/10.0), 6) AS x_3857,
  ROUND(6378137.0*ln(tan(pi()/4 + radians(50.0 + ((c_custkey*13) % 80)/10.0)/2)), 6) AS y_3857
FROM customer
"""


def q_geo_transform_families(spark, sf_dir):
    """CRS round trips through the three oblique projection families
    (oblique stereographic RD New 28992, Hotine oblique Mercator LV95
    2056, Krovak 5514, each with its Helmert datum leg): forward then
    inverse must reproduce the source lon/lat, reported as micro-degree
    error counts that the oracle pins to EXACTLY ZERO — an exact-value
    end-to-end check without closed-form SQL for the projections. The
    source coordinates ride along as plain columns (identical double
    arithmetic on both engines)."""
    from erde_spark.functions.geo import st_centroid_xy, st_point, st_transform
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    cols = [k.alias('c_custkey')]
    for name, code, (lon0, lon_s), (lat0, lat_s) in [
            ('nl', 28992, (4.5, 50.0), (51.0, 50.0)),
            ('ch', 2056, (6.5, 40.0), (46.0, 40.0)),
            ('cz', 5514, (13.0, 20.0), (48.8, 20.0))]:
        lon = lon0 + (k % 100) / lon_s
        lat = lat0 + ((k * 7) % 80) / lat_s
        rt = st_centroid_xy(st_transform(
            st_transform(st_point(lon, lat), 4326, code), code, 4326))
        cols += [F.round(lon, 6).alias(f'{name}_lon'),
                 F.round((F.abs(rt['x'] - lon) + F.abs(rt['y'] - lat))
                         * 1e6, 0).cast('bigint').alias(f'{name}_err')]
    return cust.select(*cols)


_GEO_TRANSFORM_FAMILIES_SQL = """
SELECT c_custkey,
  ROUND(4.5 + (c_custkey % 100)/50.0, 6) AS nl_lon,
  CAST(0 AS BIGINT) AS nl_err,
  ROUND(6.5 + (c_custkey % 100)/40.0, 6) AS ch_lon,
  CAST(0 AS BIGINT) AS ch_err,
  ROUND(13.0 + (c_custkey % 100)/20.0, 6) AS cz_lon,
  CAST(0 AS BIGINT) AS cz_err
FROM customer
"""


def q_geo_transform_polar(spark, sf_dir):
    """Polar stereographic family (EPSG 9810 variant A / 9829 variant
    B — new round 7): round trips through UPS North (32661), the NSIDC
    Sea Ice South grid (3976) and the Australian Antarctic grid (3032),
    micro-degree error pinned to EXACTLY ZERO by the oracle, source
    coordinates riding along (the geo_transform_families pattern). The
    forward kernels are pinned to the published GN 7-2 worked examples
    for BOTH methods in tests/test_property.py. Impl:
    erde_spark/geo/ops.py::pstereo_fwd/pstereo_sp_fwd."""
    from erde_spark.functions.geo import st_centroid_xy, st_point, st_transform
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    cols = [k.alias('c_custkey')]
    for name, code, (lon0, lon_s), (lat0, lat_s) in [
            ('ups', 32661, (-180.0, 100.0 / 360.0), (72.0, 100.0 / 16.0)),
            ('sis', 3976, (-180.0, 100.0 / 360.0), (-88.0, 100.0 / 25.0)),
            ('aa', 3032, (40.0, 100.0 / 60.0), (-80.0, 100.0 / 12.0))]:
        lon = lon0 + (k % 100) / lon_s
        lat = lat0 + ((k * 7) % 80) / lat_s
        rt = st_centroid_xy(st_transform(
            st_transform(st_point(lon, lat), 4326, code), code, 4326))
        dlon = F.abs(rt['x'] - lon)
        # antimeridian-aware: lon -180 and +180 are the same meridian
        dlon = F.least(dlon, F.abs(dlon - 360.0))
        cols += [F.round(lat, 6).alias(f'{name}_lat'),
                 F.round((dlon + F.abs(rt['y'] - lat))
                         * 1e6, 0).cast('bigint').alias(f'{name}_err')]
    return cust.select(*cols)


_GEO_TRANSFORM_POLAR_SQL = """
SELECT c_custkey,
  ROUND(72.0 + ((c_custkey * 7) % 80) * 16.0 / 100.0, 6) AS ups_lat,
  CAST(0 AS BIGINT) AS ups_err,
  ROUND(-88.0 + ((c_custkey * 7) % 80) * 25.0 / 100.0, 6) AS sis_lat,
  CAST(0 AS BIGINT) AS sis_err,
  ROUND(-80.0 + ((c_custkey * 7) % 80) * 12.0 / 100.0, 6) AS aa_lat,
  CAST(0 AS BIGINT) AS aa_err
FROM customer
"""


def q_sjfull_geoms(spark, sf_dir):
    """sjfull: spatial join keeping BOTH geometries; verify via both
    sides' coordinates (x/y of each kept geometry)."""
    from erde_spark.functions.geo import st_centroid_xy
    from erde_spark.operators.sjoin import sjfull
    t = _t(spark, sf_dir, 'customer', 'nation')
    pts = _cust_points(t['customer'])
    rects = _nation_rects(t['nation'])
    out = sjfull(pts, rects, op='within')
    lxy = st_centroid_xy(F.col('geometry'))
    rxy = st_centroid_xy(F.col('geometry_right'))
    return out.select('c_custkey', 'n_nationkey',
                      F.round(lxy['x'], 6).alias('left_x'),
                      F.round(rxy['x'], 6).alias('right_cx'))


_SJFULL_SQL = f"""
WITH p AS ({_CUST_POINT_SQL}), r AS ({_NATION_RECT_SQL})
SELECT p.c_custkey, r.n_nationkey,
  ROUND(p.lon, 6) AS left_x,
  ROUND((r.xmin + r.xmax)/2, 6) AS right_cx
FROM p JOIN r ON p.lon > r.xmin AND p.lon < r.xmax
             AND p.lat > r.ymin AND p.lat < r.ymax
"""


def q_geo_lonlat_detect(spark, sf_dir):
    """lon/lat column-pair autodetect -> point geometry (reference
    lonlat2gdf); verified by extracting the point coordinates back."""
    from erde_spark.functions.geo import lonlat_to_geometry, st_centroid_xy
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    df = cust.select(k.alias('c_custkey'),
                     (30.0 + (k % 100) / 10.0).alias('lon'),
                     (50.0 + ((k * 13) % 80) / 10.0).alias('lat'))
    out = lonlat_to_geometry(df)
    xy = st_centroid_xy(F.col('geometry'))
    return out.select('c_custkey', F.round(xy['x'], 6).alias('gx'),
                      F.round(xy['y'], 6).alias('gy'))


_LONLAT_SQL = """
SELECT c_custkey,
  ROUND(30.0 + (c_custkey % 100)/10.0, 6) AS gx,
  ROUND(50.0 + ((c_custkey*13) % 80)/10.0, 6) AS gy
FROM customer
"""


def q_set_ops(spark, sf_dir):
    """union / intersect / except surface over order priorities."""
    o = _t(spark, sf_dir, 'orders')['orders']
    urgent = o.filter(F.col('o_orderpriority') == '1-URGENT').select('o_custkey')
    high = o.filter(F.col('o_orderpriority') == '2-HIGH').select('o_custkey')
    both = urgent.intersect(high)
    only_urgent = urgent.distinct().exceptAll(both)
    return (both.withColumn('bucket', F.lit('both'))
            .unionByName(only_urgent.withColumn('bucket', F.lit('urgent_only'))))


_SET_OPS_SQL = """
WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
     hi AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
     inboth AS (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM hi)
SELECT o_custkey, 'both' AS bucket FROM inboth
UNION ALL
SELECT o_custkey, 'urgent_only' AS bucket FROM
  (SELECT DISTINCT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM inboth)
"""


def q_geo_buffer_dissolve(spark, sf_dir):
    """buffer(dissolve=True): all buffers collected into one MultiPolygon;
    its metric area = sum of the per-point 64-gon areas (disjoint rects ->
    no overlap merging needed; closed-form oracle)."""
    from erde_spark.functions.geo import st_metric_area, st_point
    from erde_spark.geo.crs import set_crs
    from erde_spark.operators.buffer import buffer as _buffer
    cust = _t(spark, sf_dir, 'customer')['customer'].limit(100)
    k = F.col('c_custkey')
    pts = cust.select(k.alias('c_custkey'),
                      st_point(30.0 + (k % 100) / 10.0,
                               F.lit(0.0)).alias('geometry'))
    pts = set_crs(pts, 4326)
    r = 10.0  # small disjoint buffers at distinct lons
    out = _buffer(pts, r, dissolve=True)
    return out.select(F.round(st_metric_area(F.col('geometry')), 2).alias('total_area'))


_BUFFER_DISSOLVE_SQL = """
SELECT ROUND(SUM(a), 2) AS total_area FROM (
  SELECT 32*sin(pi()/32)*10.0*10.0 AS a FROM customer LIMIT 100)
"""


def q_geo_line_buffer(spark, sf_dir):
    """Line buffering via the distance-field kernel (`geo/field.py`) —
    previously a GEOS-gated stub. The buffer area is resolution-bounded
    (no closed form), so the oracle checks the exact INVARIANTS instead:
    every buffer is a MultiPolygon that spatially contains its source
    line, for all 200 synthesized lines."""
    from erde_spark.functions.geo import (st_buffer, st_geometrytype,
                                          st_linestring_between, st_point,
                                          st_predicate)
    cust = _t(spark, sf_dir, 'customer')['customer'].limit(200)
    k = F.col('c_custkey')
    a = st_point(30.0 + (k % 100) / 10.0, 50.0 + ((k * 13) % 80) / 10.0)
    b = st_point(30.0 + (k % 100) / 10.0 + 0.01, 50.0 + ((k * 13) % 80) / 10.0 + 0.005)
    line = st_linestring_between(a, b)
    buf = st_buffer(line, 200.0)
    return (cust.select(st_geometrytype(buf).alias('gtype'),
                        st_predicate(buf, line, 'contains').alias('contains_line'))
            .groupBy('gtype', 'contains_line')
            .agg(F.count(F.lit(1)).alias('n')))


_LINE_BUFFER_SQL = """
SELECT 'MultiPolygon' AS gtype, TRUE AS contains_line, COUNT(*) AS n
FROM (SELECT c_custkey FROM customer LIMIT 200)
"""


# ================================================================ text / dedup / similarity

def q_mmr_select_check(spark, sf_dir):
    """Maximal Marginal Relevance diversity re-rank (NEW round 10 —
    Carbonell & Goldstein 1998; erde_spark/scale/similarity.py::
    mmr_select) VALUE-checked by planted construction: candidates are
    10 mutually-ORTHOGONAL one-hot clusters (cluster = vec_id block of
    B = ceil(n/10)) with relevance strictly decreasing in vec_id. At
    lambda = 0.5 a same-cluster twin scores 0.5*rel - 0.5 < 0 while any
    unvisited cluster's best scores 0.5*rel > 0, so the greedy MUST
    pick exactly the minimum id of each block in block order — rank r
    -> vec_id r*B with mmr_score 0.5*(1 - rB/(10n)), pure arithmetic
    replayed by DuckDB. A wrong penalty update, broken tie-break, or
    non-greedy order all change the id sequence."""
    from erde_spark.scale.similarity import mmr_select
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    n = e.count()
    b = -(-n // 10)
    cand = e.select(
        'vec_id',
        (1 - F.col('vec_id') / (10.0 * n)).alias('relevance'),
        F.transform(F.sequence(F.lit(0), F.lit(9)),
                    lambda j: F.when(
                        j == (F.col('vec_id') / b).cast('int'),
                        1.0).otherwise(0.0)).alias('embedding'))
    out = mmr_select(cand, k=10, lam=0.5, pool=n)
    return out.select('rank', 'vec_id',
                      F.round('relevance', 9).alias('relevance'),
                      F.round('mmr_score', 9).alias('mmr_score')) \
        .orderBy('rank')


_MMR_SELECT_SQL = """
WITH s AS (SELECT COUNT(*) AS n, CAST(CEIL(COUNT(*) / 10.0) AS BIGINT) AS b
           FROM embeddings)
SELECT r AS rank, r * b AS vec_id,
       ROUND(1 - (r * b) / (10.0 * n), 9) AS relevance,
       ROUND(0.5 * (1 - (r * b) / (10.0 * n)), 9) AS mmr_score
FROM s, unnest(generate_series(0, 9)) AS u(r)
ORDER BY rank
"""


def q_normalize_text_check(spark, sf_dir):
    """Unicode ingest normalization (erde_spark/scale/text.py::
    normalize_text — NFC composition via Arrow-batched unicodedata,
    CRLF->LF, control strip, Zs->space, space-run collapse) VALUE-
    checked by planted construction: every document gets the input
    'e'+COMBINING ACUTE+CRLF+2xNBSP+'x'+BEL+'  y '+doc_id, whose
    normalized form is the CLOSED FORM 'é\\n x y '+doc_id — DuckDB
    builds the expected bytes directly (chr(233)||chr(10)||...), so
    every stage (composition, newline fold, control strip, space map,
    collapse) is independently load-bearing for the md5 match."""
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    from erde_spark.scale.text import normalize_text
    raw = F.concat(F.lit('é\r\n  x\x07  y '),
                   F.col('doc_id').cast('string'))
    return (d.select('doc_id',
                     F.md5(F.encode(normalize_text(raw), 'UTF-8'))
                     .alias('norm_md5'))
            .orderBy('doc_id'))


_NORMALIZE_TEXT_SQL = """
SELECT doc_id,
       md5(chr(233) || chr(10) || ' x y ' || doc_id) AS norm_md5
FROM documents ORDER BY doc_id
"""


def q_kneser_ney_check(spark, sf_dir):
    """Interpolated Kneser-Ney bigram estimation (NEW round 10 — the
    smoothing KenLM ships, Chen & Goodman eq. 4.28, as pure count
    algebra: three map-side-combined groupBys over the bigram-type
    table + a 1-row type-total broadcast, zero Python). DuckDB replays
    the full formula — discounted ML term + continuation interpolation
    — to 9 decimals on every observed bigram. Impl:
    erde_spark/scale/lm.py::kneser_ney_bigrams."""
    from erde_spark.scale.lm import kneser_ney_bigrams
    d = _t(spark, sf_dir, 'documents')['documents']
    out = kneser_ney_bigrams(d)
    return (out.select('w1', 'w2', 'c', F.round('p_kn', 9).alias('p_kn'))
            .orderBy(F.desc('c'), 'w1', 'w2').limit(500))


_KNESER_NEY_SQL = """
WITH toks AS (
  SELECT list_prepend('<s>', [t FOR t IN
           regexp_split_to_array(lower(text), '[^a-z0-9]+') IF t <> '']) AS p
  FROM documents),
bg AS (
  SELECT p[i] AS w1, p[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(p) - 1)) AS u(i)
  WHERE len(p) >= 2),
bc AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(c) AS c1, COUNT(*) AS n_follow FROM bc GROUP BY 1),
cont AS (SELECT w2, COUNT(*) AS n_prec FROM bc GROUP BY 1),
tot AS (SELECT COUNT(*) AS t FROM bc)
SELECT w1, w2, c,
       ROUND(GREATEST(c - 0.75, 0.0) / c1
             + 0.75 * n_follow / c1 * n_prec / t, 9) AS p_kn
FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
ORDER BY c DESC, w1, w2 LIMIT 500
"""


def q_inverted_index_check(spark, sf_dir):
    """Inverted-index build (NEW round 10 — the serving artifact for
    decontamination lookups / boolean retrieval / query-time BM25):
    (term, df, postings) with postings sorted (id, tf) structs, two
    map-side-combined shuffles, zero Python. VALUE-checked by hashing
    each postings list ('id:tf' space-joined) — DuckDB rebuilds the
    identical lists with string_agg ORDER BY id. Impl:
    erde_spark/scale/ranking.py::build_postings."""
    from erde_spark.scale.ranking import build_postings
    d = _t(spark, sf_dir, 'documents')['documents']
    idx = build_postings(d, min_df=5)
    return (idx.select(
        'term', 'df',
        F.md5(F.concat_ws(' ', F.transform(
            'postings',
            lambda p: F.concat_ws(':', p['id'], p['tf']))))
        .alias('postings_md5'))
        .orderBy(F.desc('df'), 'term').limit(1000))


_INVERTED_INDEX_SQL = """
WITH tf AS (
  SELECT term, doc_id AS id, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+'))
                 AS term
        FROM documents)
  WHERE term <> ''
  GROUP BY term, doc_id)
SELECT term, COUNT(*) AS df,
       md5(string_agg(id || ':' || tf, ' ' ORDER BY id)) AS postings_md5
FROM tf GROUP BY term HAVING COUNT(*) >= 5
ORDER BY df DESC, term LIMIT 1000
"""


def q_postings_lookup_check(spark, sf_dir):
    """Boolean-AND retrieval through the inverted index: the two terms
    ranked 11th-12th by corpus frequency (selective but non-trivial,
    derived identically by both engines) must return exactly the doc
    ids containing BOTH — DuckDB answers from the token table directly,
    the engine from k postings-list scans (index filtered to k terms
    before any explode). Impl: ranking.py::postings_lookup."""
    from erde_spark.scale.ranking import build_postings, postings_lookup
    from erde_spark.scale.text import tokens as _tk
    d = _t(spark, sf_dir, 'documents')['documents']
    terms = [r['term'] for r in
             (d.select(F.explode(_tk('text')).alias('term'))
              .groupBy('term').count()
              .orderBy(F.desc('count'), 'term').limit(12).collect())][10:]
    idx = build_postings(d, min_df=1)
    return (postings_lookup(idx, terms, mode='all')
            .select(F.col('id').alias('doc_id')).orderBy('doc_id'))


_POSTINGS_LOOKUP_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM documents),
t AS (SELECT term FROM toks WHERE term <> ''
      GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT 2 OFFSET 10)
SELECT doc_id FROM toks JOIN t USING (term)
GROUP BY doc_id HAVING COUNT(DISTINCT term) = 2
ORDER BY doc_id
"""


def q_top_tokens(spark, sf_dir):
    """Corpus top-20 tokens: the classic explode -> count -> top-k text
    pipeline, all JVM-side (split/explode/groupBy/window). Deterministic
    order: count desc, then token asc."""
    d = _t(spark, sf_dir, 'documents')['documents']
    tok = (d.select(F.explode(F.split(F.lower('text'), ' ')).alias('token'))
           .filter(F.col('token') != ''))
    counts = tok.groupBy('token').agg(F.count(F.lit(1)).alias('n'))
    return (counts.orderBy(F.col('n').desc(), F.col('token'))
            .limit(20))


_TOP_TOKENS_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""


def q_token_count_bpe(spark, sf_dir):
    """BPE-ish subword token counting (GPT-2 pre-tokenizer shape: leading-
    space word / number / punctuation runs) via one JVM-side regexp_count
    — no Python in the loop. Aggregated per language; the regex is chosen
    to mean the same thing in Java regex and RE2 so the oracle is exact."""
    d = _t(spark, sf_dir, 'documents')['documents']
    pat = r' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'
    n = F.regexp_count('text', F.lit(pat))
    return (d.groupBy('lang')
            .agg(F.sum(n).alias('total_tokens'),
                 F.round(F.sum(n) / F.count(F.lit(1)), 4).alias('avg_tokens'),
                 F.count(F.lit(1)).alias('n_docs')))


# CAST(SUM(..) AS BIGINT): DuckDB sums integers into HUGEINT, which
# hash-canonicalizes differently from Spark's bigint (same issue as q12)
_TOKEN_BPE_SQL = r"""
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       ROUND(SUM(n) / COUNT(*), 4) AS avg_tokens,
       COUNT(*) AS n_docs
FROM (SELECT lang,
             len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n
      FROM documents)
GROUP BY lang
"""


def q_repetition_ngrams(spark, sf_dir):
    """Intra-document repetition (Gopher-style duplicate-bigram fraction):
    per doc, total vs distinct word bigrams and the repeat fraction. All
    JVM higher-order functions — one linear scan, no shuffle at all (the
    output is per-row). Int columns compare exactly; the double fraction
    is an exact small-rational in BOTH engines (same IEEE division), so
    ROUND(.,4) canonicalizes identically."""
    from erde_spark.scale.text import word_ngrams
    d = _t(spark, sf_dir, 'documents')['documents']
    g = word_ngrams(F.col('text'), 2)
    nd = F.size(F.array_distinct(g))
    return d.select(
        'doc_id',
        F.size(g).cast('long').alias('n_bigrams'),
        nd.cast('long').alias('n_distinct'),
        F.round(F.when(F.size(g) > 0,
                       F.lit(1.0) - nd / F.size(g)).otherwise(F.lit(0.0)),
                4).alias('dup_fraction'))


_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2 THEN
           list_transform(generate_series(1, len(t) - 1),
                          i -> array_to_string(t[i:i+1], ' '))
         ELSE []::VARCHAR[] END AS grams
  FROM toks)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       ROUND(CASE WHEN len(grams) > 0 THEN
               1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
             ELSE 0.0 END, 4) AS dup_fraction
FROM g
"""


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing a word 4-gram with
    a small 'eval' slice (doc_id % 97 == 0 stands in for the benchmark
    set). The eval n-gram set is broadcast — the corpus is scanned once
    and never shuffled by n-gram; hit counts combine map-side."""
    from erde_spark.scale.text import contamination_hits
    d = _t(spark, sf_dir, 'documents')['documents']
    ev = d.filter(F.col('doc_id') % 97 == 0)
    corpus = d.filter(F.col('doc_id') % 97 != 0)
    hits = contamination_hits(corpus, ev, n=4)
    return hits.select('doc_id',
                       F.col('contaminated_ngrams').cast('long')
                       .alias('contaminated_ngrams'))


_CONTAMINATION_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4 THEN
           list_transform(generate_series(1, len(t) - 3),
                          i -> array_to_string(t[i:i+3], ' '))
         ELSE []::VARCHAR[] END AS grams
  FROM toks),
ev AS (SELECT DISTINCT unnest(grams) AS ngram FROM g WHERE doc_id % 97 = 0),
dg AS (SELECT DISTINCT doc_id, unnest(grams) AS ngram
       FROM g WHERE doc_id % 97 <> 0)
SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) AS contaminated_ngrams
FROM dg JOIN ev USING (ngram)
GROUP BY dg.doc_id
"""


def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per doc against the corpus's own top-256
    tokens (CCNet-style fluency signal). Integer counts hash exactly;
    the rate is an exact small-rational in both engines."""
    from erde_spark.scale.text import vocab_coverage
    d = _t(spark, sf_dir, 'documents')['documents']
    return (vocab_coverage(d, vocab_size=256)
            .withColumnRenamed('id', 'doc_id'))


_OOV_SQL = """
WITH tk AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents),
vocab AS (
  SELECT token FROM (SELECT token, COUNT(*) AS n FROM tk GROUP BY token)
  ORDER BY n DESC, token LIMIT 256),
per_doc AS (
  SELECT tk.doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS in_vocab
  FROM tk LEFT JOIN vocab v USING (token)
  GROUP BY tk.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.in_vocab, 0) AS BIGINT) AS in_vocab,
       ROUND(CASE WHEN COALESCE(p.n_tokens, 0) > 0
                  THEN 1.0 - CAST(p.in_vocab AS DOUBLE) / p.n_tokens
                  ELSE 0.0 END, 4) AS oov_rate
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def q_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing per language shard: each doc's
    token count, running start offset, and first/last 512-token sequence
    index. Window runs per shard (parallel, deterministic); all-integer
    output hashes exactly."""
    from erde_spark.scale.text import pack_offsets
    d = _t(spark, sf_dir, 'documents')['documents']
    return pack_offsets(d, max_tokens=512, shard_col='lang')


_PACK_SQL = """
WITH t AS (
  SELECT lang, doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT lang, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS end_offset
  FROM t)
SELECT lang, doc_id, n_tokens,
       CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
       CAST(FLOOR((end_offset - n_tokens) / 512) AS BIGINT) AS first_seq,
       CAST(CASE WHEN n_tokens > 0 THEN FLOOR((end_offset - 1) / 512)
                 ELSE FLOOR((end_offset - n_tokens) / 512) END AS BIGINT)
         AS last_seq
FROM o
"""


def q_corpus_health(spark, sf_dir):
    """Per-language corpus health report — the counts a curation run
    monitors, in ONE pass shape: docs, Gopher-quality passes, repetitive
    docs (dup-bigram fraction > 0.2), exact-duplicate rows (beyond each
    fingerprint's first), and short docs (< 30 tokens). All integers, so
    the oracle compares exactly; every signal is a JVM expression over
    one scan plus the one fingerprint window."""
    from erde_spark.scale.text import (dup_ngram_fraction, fingerprint,
                                       gopher_quality_flags, token_count)
    from pyspark.sql import Window
    d = _t(spark, sf_dir, 'documents')['documents']
    flags = gopher_quality_flags(F.col('text'))
    w = Window.partitionBy(fingerprint(F.col('text'))).orderBy('doc_id')
    rows = (d.withColumn('__q', flags)
            .withColumn('__dupno', F.row_number().over(w))
            .select('lang',
                    (F.col('__q.tokens_ok') & F.col('__q.mean_len_ok')
                     & F.col('__q.punct_ok') & F.col('__q.stopwords_ok'))
                    .cast('int').alias('qok'),
                    (dup_ngram_fraction(F.col('text'), 2) > 0.2)
                    .cast('int').alias('rep'),
                    (F.col('__dupno') > 1).cast('int').alias('dup'),
                    (token_count(F.col('text')) < 30).cast('int').alias('short')))
    return (rows.groupBy('lang')
            .agg(F.count(F.lit(1)).alias('n_docs'),
                 F.sum('qok').cast('long').alias('n_quality_pass'),
                 F.sum('rep').cast('long').alias('n_repetitive'),
                 F.sum('dup').cast('long').alias('n_exact_dup_rows'),
                 F.sum('short').cast('long').alias('n_short')))


def _corpus_health_sql() -> str:
    from erde_spark.scale.text import STOPWORDS
    stop = '[' + ','.join(f"'{s}'" for s in STOPWORDS) + ']'
    return f"""
WITH base AS (
  SELECT lang, doc_id, lower(text) AS low,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents),
feat AS (
  SELECT lang, doc_id, fp,
         len(toks) AS n,
         CASE WHEN len(toks) > 0 THEN
           list_aggregate(list_transform(toks, x -> length(x)), 'sum')
             * 1.0 / len(toks) ELSE 0.0 END AS mtl,
         CASE WHEN length(low) > 0 THEN
           (length(low) - length(regexp_replace(low, '[^a-z0-9 ]', '', 'g')))
             * 1.0 / length(low) ELSE 0.0 END AS punct,
         len(list_intersect(list_distinct(toks), {stop})) AS stop_hits,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          i -> array_to_string(toks[i:i+1], ' '))
         ELSE []::VARCHAR[] END AS grams,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS dupno
  FROM base)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n >= 50 AND n <= 100000 AND mtl >= 3.0
                      AND mtl <= 10.0 AND punct <= 0.2 AND stop_hits >= 2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
       CAST(SUM(CASE WHEN len(grams) > 0 AND
                  1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                      / len(grams) > 0.2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       CAST(SUM(CASE WHEN dupno > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup_rows,
       CAST(SUM(CASE WHEN n < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
FROM feat
GROUP BY lang
"""


def q_text_analysis(spark, sf_dir):
    from erde_spark.scale.text import (fingerprint, lang_id, mean_token_len,
                                       punct_ratio, stopword_ratio, token_count)
    d = _t(spark, sf_dir, 'documents')['documents']
    c = F.col('text')
    return d.select('doc_id',
                    token_count(c).alias('n_tokens'),
                    F.round(stopword_ratio(c), 4).alias('stopword_ratio'),
                    F.round(punct_ratio(c), 4).alias('punct_ratio'),
                    F.round(mean_token_len(c), 4).alias('mean_token_len'),
                    lang_id(c).alias('lang_pred'),
                    fingerprint(c).alias('fingerprint'))


_TEXT_SQL = """
WITH t AS (SELECT doc_id, lower(text) AS low,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS toks
  FROM documents),
s AS (SELECT doc_id, low, toks, len(toks) AS n,
    len(list_filter(toks, x -> list_contains(
      ['the','a','an','and','or','of','to','in','is','it','on','for','with','as','by','at','this','that'], x))) AS sw,
    len(list_filter(list_distinct(toks), x -> list_contains(['the','and','of','is','to'], x))) AS s_en,
    len(list_filter(list_distinct(toks), x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
    len(list_filter(list_distinct(toks), x -> list_contains(['le','la','et','les','est'], x))) AS s_fr,
    len(list_filter(list_distinct(toks), x -> list_contains(['el','los','las','es','una'], x))) AS s_es
  FROM t)
SELECT doc_id,
  CAST(n AS INT) AS n_tokens,
  ROUND(CASE WHEN n > 0 THEN sw*1.0/n ELSE 0.0 END, 4) AS stopword_ratio,
  ROUND(CASE WHEN length(low) > 0 THEN
    (length(low) - length(regexp_replace(low, '[^a-z0-9 ]', '', 'g')))*1.0/length(low)
    ELSE 0.0 END, 4) AS punct_ratio,
  ROUND(CASE WHEN n > 0 THEN
    list_aggregate(list_transform(toks, x -> length(x)), 'sum')*1.0/n ELSE 0.0 END, 4) AS mean_token_len,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END AS lang_pred,
  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM s JOIN documents USING (doc_id)
"""


def q_text_quality_filter(spark, sf_dir):
    """Gopher-rule quality filtering (Rae et al. 2021 heuristics): docs
    passing the token-count / mean-token-length / punctuation /
    stopword-presence gates; oracle reproduces each rule in SQL."""
    from erde_spark.scale.text import quality_filter
    d = _t(spark, sf_dir, 'documents')['documents']
    return quality_filter(d, min_tokens=30, max_tokens=500,
                          max_punct_ratio=0.1).select('doc_id', 'lang')


def _quality_filter_sql():
    from erde_spark.scale.text import STOPWORDS
    stoplist = ', '.join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, lang, lower(text) AS low,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS toks
  FROM documents),
s AS (SELECT doc_id, lang, len(toks) AS n,
    CASE WHEN len(toks) > 0 THEN
      list_aggregate(list_transform(toks, x -> length(x)), 'sum')*1.0/len(toks)
      ELSE 0.0 END AS mtl,
    CASE WHEN length(low) > 0 THEN
      (length(low) - length(regexp_replace(low, '[^a-z0-9 ]', '', 'g')))*1.0/length(low)
      ELSE 0.0 END AS punct,
    len(list_intersect(list_distinct(toks), [{stoplist}])) AS hits
  FROM t)
SELECT doc_id, lang FROM s
WHERE n BETWEEN 30 AND 500 AND mtl BETWEEN 3.0 AND 10.0
  AND punct <= 0.1 AND hits >= 2
"""


def q_bm25_search(spark, sf_dir):
    """BM25 top-20 for a 3-term query, all JVM-side (filter-before-
    shuffle tf, broadcast stats/df joins, TakeOrdered top-k); oracle
    reproduces the Lucene-idf formula term by term."""
    from erde_spark.scale.ranking import bm25_topk
    d = _t(spark, sf_dir, 'documents')['documents']
    return bm25_topk(d, ['spark', 'vector', 'hash'], k=20)


_BM25_SQL = """
WITH d AS (SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS toks
  FROM documents),
base AS (SELECT doc_id, len(toks) AS doclen,
    list_filter(toks, x -> list_contains(['spark','vector','hash'], x)) AS hits
  FROM d),
tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(doclen) AS doclen
  FROM (SELECT doc_id, doclen, unnest(hits) AS term FROM base)
  GROUP BY doc_id, term),
stats AS (SELECT COUNT(*) AS n_docs, AVG(doclen) AS avgdl FROM base),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
SELECT doc_id, ROUND(SUM(
  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
  (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * doclen / avgdl))
), 4) AS score
FROM tf CROSS JOIN stats JOIN dfreq USING (term)
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
"""


def q_sample_hash(spark, sf_dir):
    """Deterministic md5-bucket 10% sample: map-only filter, identical
    row set on any engine / any partitioning (portable reproducible
    splits — `df.sample()` is neither)."""
    from erde_spark.scale.sampling import hash_sample
    d = _t(spark, sf_dir, 'documents')['documents']
    return hash_sample(d, 'doc_id', 0.1).select('doc_id', 'lang')


_SAMPLE_HASH_SQL = """
SELECT doc_id, lang FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
"""


def q_weighted_sample_check(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, A-ES exponential race): 100 documents drawn with probability
    proportional to weight (doc_id%7+1), deterministically — the race
    key is -ln(u)/w with u a dyadic uniform from md5(doc_id), so DuckDB
    replays the SAME draw bit-for-bit. Plan: TakeOrderedAndProject
    (partial top-n per partition), no shuffle, no full sort. Impl:
    erde_spark/scale/sampling.py::weighted_sample (reference has no
    sampling tier — training-data extension surface)."""
    from erde_spark.scale.sampling import weighted_sample
    d = _t(spark, sf_dir, 'documents')['documents']
    d = d.withColumn('w', (F.col('doc_id') % 7 + 1).cast('double'))
    return weighted_sample(d, 'doc_id', 'w', 100).select('doc_id', 'lang')


_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
ORDER BY -ln((('0x' || substring(md5(doc_id || ':ws:'), 1, 8))::UBIGINT + 1)
             / 4294967296.0) / CAST(doc_id % 7 + 1 AS DOUBLE),
         doc_id
LIMIT 100
"""


def q_sample_stratified(spark, sf_dir):
    """Exactly-20-per-language deterministic stratified sample (hash-
    order rank within stratum)."""
    from erde_spark.scale.sampling import stratified_sample
    d = _t(spark, sf_dir, 'documents')['documents']
    return stratified_sample(d, 'lang', 'doc_id', 20).select('doc_id', 'lang')


_SAMPLE_STRAT_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rk
  FROM documents)
WHERE rk <= 20
"""


def q_corpus_mix(spark, sf_dir):
    """Corpus rebalanced to a 40/20/20/10/10 language mix (the data-
    mixing step of a training run). Quotas derive from per-group counts
    (one bounded agg), rows are chosen by deterministic hash rank within
    group — exactly reproducible in the oracle."""
    from erde_spark.scale.sampling import target_mix
    d = _t(spark, sf_dir, 'documents')['documents']
    out = target_mix(d, 'lang', 'doc_id',
                     {'en': 0.4, 'de': 0.2, 'fr': 0.2, 'es': 0.1, 'zh': 0.1})
    return out.select('doc_id', 'lang')


# wt is cast to DOUBLE; the Spark side computes quotas in exact rational
# arithmetic (Fraction), and the oracle's +1e-9 guard makes the DOUBLE
# floor agree with the exact floor for counts up to ~4e6 (ulp < 1e-9)
_CORPUS_MIX_SQL = """
WITH w(lang, wt) AS (VALUES ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
                            ('fr', CAST(0.2 AS DOUBLE)), ('es', CAST(0.1 AS DOUBLE)),
                            ('zh', CAST(0.1 AS DOUBLE))),
c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
t AS (SELECT MIN(n / wt) AS t_max FROM c JOIN w USING (lang)),
q AS (SELECT lang, CAST(FLOOR(wt * t_max + 1e-9) AS BIGINT) AS quota FROM w, t),
r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (
        PARTITION BY lang
        ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rk
      FROM documents WHERE lang IN (SELECT lang FROM w))
SELECT r.doc_id, r.lang FROM r JOIN q USING (lang) WHERE rk <= quota
"""


def q_sample_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by hash range —
    mutually exclusive, exhaustive, one map-only pass; result = rows per
    split."""
    from erde_spark.scale.sampling import hash_split
    d = _t(spark, sf_dir, 'documents')['documents']
    return (hash_split(d, 'doc_id', {'train': 0.8, 'val': 0.1, 'test': 0.1})
            .groupBy('split').agg(F.count(F.lit(1)).alias('n')))


_SAMPLE_SPLIT_SQL = """
SELECT CASE WHEN k < 'cccc' THEN 'train'
            WHEN k < 'e666' THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n
FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS k FROM documents)
GROUP BY 1
"""


def q_dedup_exact(spark, sf_dir):
    from erde_spark.scale.dedup import exact_dedup
    d = _t(spark, sf_dir, 'documents')['documents']
    return exact_dedup(d)


_DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_dedup_jaccard(spark, sf_dir):
    from erde_spark.scale.dedup import jaccard_pairs
    d = _t(spark, sf_dir, 'documents')['documents']
    return jaccard_pairs(d, threshold=0.8) \
        .select('id_a', 'id_b', F.round('jaccard', 6).alias('jaccard'))


_DEDUP_JACCARD_SQL = """
WITH t AS (SELECT doc_id, list_distinct(list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS toks
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ROUND(len(list_intersect(a.toks, b.toks))*1.0 /
    (len(a.toks)+len(b.toks)-len(list_intersect(a.toks, b.toks))), 6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.toks, b.toks))*1.0 /
    (len(a.toks)+len(b.toks)-len(list_intersect(a.toks, b.toks))) >= 0.8
"""


def q_dedup_containment(spark, sf_dir):
    """Per-doc max containment (|A∩B|/|A| vs any other doc) at threshold
    0.9 — the 'is this document mostly quoted somewhere else' curation
    flag, asymmetric where Jaccard is not. Aggregated per doc so the
    gate result stays one row per flagged document."""
    from erde_spark.scale.dedup import containment_pairs
    d = _t(spark, sf_dir, 'documents')['documents']
    p = containment_pairs(d, threshold=0.9)
    both = (p.select(F.col('id_a').alias('doc_id'),
                     F.col('containment_a').alias('c'))
            .unionByName(p.select(F.col('id_b').alias('doc_id'),
                                  F.col('containment_b').alias('c'))))
    return (both.filter(F.col('c') >= 0.9).groupBy('doc_id')
            .agg(F.round(F.max('c'), 6).alias('max_containment')))


_DEDUP_CONTAIN_SQL = """
WITH t AS (SELECT doc_id, list_distinct(list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS toks
  FROM documents),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.toks, b.toks)) * 1.0 / len(a.toks) AS ca,
         len(list_intersect(a.toks, b.toks)) * 1.0 / len(b.toks) AS cb
  FROM t a JOIN t b ON a.doc_id < b.doc_id),
dirs AS (
  SELECT id_a AS doc_id, ca AS c FROM p
  UNION ALL
  SELECT id_b AS doc_id, cb AS c FROM p)
SELECT doc_id, ROUND(MAX(c), 6) AS max_containment
FROM dirs WHERE c >= 0.9 GROUP BY doc_id
"""


def q_dedup_jaccard_ngram(spark, sf_dir):
    """EXACT char-5-gram (shingle) Jaccard pairs — the Broder-style
    shingle unit, robust to intra-word edits that word tokens miss; same
    inverted-index plan as dedup_jaccard with shingles as the set
    element."""
    from erde_spark.scale.dedup import jaccard_pairs
    d = _t(spark, sf_dir, 'documents')['documents']
    return jaccard_pairs(d, threshold=0.7, shingles=5) \
        .select('id_a', 'id_b', F.round('jaccard', 6).alias('jaccard'))


_DEDUP_JACCARD_NGRAM_SQL = """
WITH s AS (SELECT doc_id,
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
  FROM documents),
t AS (SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(length(s)-4, 1)), i -> substring(s, i, 5)))
    AS toks
  FROM s)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ROUND(len(list_intersect(a.toks, b.toks))*1.0 /
    (len(a.toks)+len(b.toks)-len(list_intersect(a.toks, b.toks))), 6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.toks, b.toks))*1.0 /
    (len(a.toks)+len(b.toks)-len(list_intersect(a.toks, b.toks))) >= 0.7
"""


def q_cluster_components_jaccard(spark, sf_dir):
    """Connected components over the EXACT n-gram-Jaccard pair graph
    (threshold 0.8): the clustering machinery (min-label propagation +
    pointer jumping) gets a full value oracle here — DuckDB reproduces
    the same components with a recursive CTE (transitive closure ->
    min reachable id). The LSH-based dedup_clusters shares this exact
    component code; only its candidate recall is probabilistic."""
    from erde_spark.scale.dedup import connected_components, jaccard_pairs
    d = _t(spark, sf_dir, 'documents')['documents']
    pairs = jaccard_pairs(d, threshold=0.8)
    comp = connected_components(pairs, d.select('doc_id'))
    return comp.select(F.col('id').alias('doc_id'), 'component')


_CLUSTER_CC_SQL = """
WITH RECURSIVE
t AS (SELECT doc_id, list_distinct(list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS toks
  FROM documents),
e AS (SELECT a.doc_id AS a, b.doc_id AS b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.toks, b.toks))*1.0 /
    (len(a.toks)+len(b.toks)-len(list_intersect(a.toks, b.toks))) >= 0.8),
edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT edges.b, reach.r FROM reach JOIN edges ON edges.a = reach.id)
SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id
"""


def q_dedup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size HISTOGRAM over the exact Jaccard pair
    graph (how much of the corpus sits in 1/2/3...-doc near-dup
    clusters — the dedup-impact report a curation run starts with).
    Exercises pairs -> components -> per-component size -> histogram
    end-to-end against the recursive-CTE oracle."""
    from erde_spark.scale.dedup import connected_components, jaccard_pairs
    d = _t(spark, sf_dir, 'documents')['documents']
    comp = connected_components(jaccard_pairs(d, threshold=0.8),
                                d.select('doc_id'))
    return (comp.groupBy('component')
            .agg(F.count(F.lit(1)).alias('cluster_size'))
            .groupBy('cluster_size')
            .agg(F.count(F.lit(1)).alias('n_clusters'),
                 F.sum('cluster_size').alias('n_docs')))


_DEDUP_CLUSTER_SIZES_SQL = _CLUSTER_CC_SQL.replace(
    'SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id', """,
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
""")


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates, exact-Jaccard verified. Same
    precision as exact Jaccard; recall is probabilistic -> no SQL oracle
    (driver rows-only check)."""
    from erde_spark.scale.dedup import minhash_lsh_pairs
    d = _t(spark, sf_dir, 'documents')['documents']
    return minhash_lsh_pairs(d, threshold=0.8) \
        .select('id_a', 'id_b', F.round('jaccard', 6).alias('jaccard'))


def q_simhash_check(spark, sf_dir):
    """SimHash pigeonhole join VALUE-checked by construction: planted
    hex-salad texts where doc_id%4 in {0,1} forms exact-copy pairs
    (identical text -> identical SimHash -> Hamming 0, found by EVERY
    pigeonhole split deterministically) and the rest are mutually
    dissimilar salads (64 effectively-random bit differences; the
    chance any lands at Hamming<=3 is ~1e-15 per pair). The emitted
    pair set must therefore be exactly the planted pairs at Hamming 0
    — pure doc_id arithmetic for DuckDB. Complements the rows-only
    real-text entry."""
    from erde_spark.scale.dedup import simhash_pairs
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    m4 = F.col('doc_id') % 4
    group = F.when(m4 < 2, F.col('doc_id') - m4).otherwise(F.col('doc_id'))
    salad = F.concat_ws(' ', F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.substring(
            F.md5(F.concat_ws('~', group.cast('string'),
                              i.cast('string'))), 1, 8)))
    docs = d.select('doc_id', salad.alias('text'))
    return (simhash_pairs(docs, max_hamming=3)
            .select('id_a', 'id_b', 'hamming')
            .orderBy('id_a'))


_SIMHASH_CHECK_SQL = """
SELECT doc_id AS id_a, doc_id + 1 AS id_b, 0 AS hamming
FROM documents
WHERE doc_id % 4 = 0 AND doc_id + 1 IN (SELECT doc_id FROM documents)
ORDER BY id_a
"""


def q_embedding_lsh_check(spark, sf_dir):
    """Banded sign-LSH embedding pairs VALUE-checked by construction:
    every vec_id%5==0 vector is duplicated under vec_id+1000000 — an
    identical vector collides in EVERY band (recall 1 by construction,
    no seed dependence) and verifies at cosine 1; the synthetic base
    vectors are mutually near-orthogonal (random 64-dim cosines sit
    ~10 sigma below the 0.8 threshold) and exact-cosine verification
    makes precision exact, so the emitted pairs are exactly the
    planted duplicates — pure vec_id arithmetic for DuckDB.
    Complements the recall-pytest'd rows-only entry."""
    from erde_spark.scale.dedup import embedding_lsh_pairs
    e = _t(spark, sf_dir, 'embeddings')['embeddings'] \
        .select('vec_id', 'embedding')
    copies = e.where(F.col('vec_id') % 5 == 0).select(
        (F.col('vec_id') + 1000000).alias('vec_id'), 'embedding')
    both = e.unionByName(copies)
    return (embedding_lsh_pairs(both, threshold=0.8)
            .select('id_a', 'id_b')
            .orderBy('id_a'))


_EMBEDDING_LSH_CHECK_SQL = """
SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
FROM embeddings
WHERE vec_id % 5 = 0
ORDER BY id_a
"""


def q_minhash_cluster_check(spark, sf_dir):
    """The production spanning-LSH dedup path (tokenize -> MinHash ->
    banded buckets -> star edges -> exact-Jaccard verify -> connected
    components -> min-id representative + merge rounds) VALUE-checked
    by construction: doc_id%4 in {0,1} forms exact-copy hex-salad
    pairs (identical token sets share every band bucket — recall 1,
    no seed dependence), the rest are mutually dissimilar salads
    (cross Jaccard ~0; random bucket collisions die in exact
    verification). Survivors and cluster sizes are therefore pure
    arithmetic: rep doc_id%4==0 with size 2, %4 in {2,3} singletons.
    Complements the rows-only real-text dedup_clusters entry and the
    all-pairs-CC dedup_cluster_sizes gate (which exercises exact
    Jaccard, not the LSH tier)."""
    from erde_spark.scale.dedup import dedup_clusters
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    m4 = F.col('doc_id') % 4
    group = F.when(m4 < 2, F.col('doc_id') - m4).otherwise(F.col('doc_id'))
    salad = F.concat_ws(' ', F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.substring(
            F.md5(F.concat_ws('+', group.cast('string'),
                              i.cast('string'))), 1, 8)))
    docs = d.select('doc_id', salad.alias('text'))
    return (dedup_clusters(docs, threshold=0.9)
            .select('doc_id', 'cluster_size')
            .orderBy('doc_id'))


_MINHASH_CLUSTER_CHECK_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0
                 AND doc_id + 1 IN (SELECT doc_id FROM documents)
            THEN 2 ELSE 1 END AS cluster_size
FROM documents
WHERE doc_id % 4 != 1
   OR doc_id - 1 NOT IN (SELECT doc_id FROM documents)
ORDER BY doc_id
"""


def q_embedding_cluster_check(spark, sf_dir):
    """SemDeDup-style embedding dedup (sign-LSH pairs -> CC -> min-id
    representative) VALUE-checked by the planted-copy construction:
    every vec_id%5==0 vector duplicated under vec_id+1000000 —
    identical vectors collide in every band and verify at cosine 1,
    random base cosines sit ~10 sigma below threshold — so survivors
    are exactly the original vec_ids, with cluster_size 2 for the
    duplicated fifth and 1 elsewhere. Pure arithmetic for DuckDB."""
    from erde_spark.scale.dedup import embedding_dedup_clusters
    e = _t(spark, sf_dir, 'embeddings')['embeddings'] \
        .select('vec_id', 'embedding')
    copies = e.where(F.col('vec_id') % 5 == 0).select(
        (F.col('vec_id') + 1000000).alias('vec_id'), 'embedding')
    both = e.unionByName(copies)
    return (embedding_dedup_clusters(both, threshold=0.8)
            .select('vec_id', 'cluster_size')
            .orderBy('vec_id'))


_EMBEDDING_CLUSTER_CHECK_SQL = """
SELECT vec_id,
       CASE WHEN vec_id % 5 = 0 THEN 2 ELSE 1 END AS cluster_size
FROM embeddings
ORDER BY vec_id
"""


def q_readability(spark, sf_dir):
    """Flesch readability metrics over the corpus, value-oracled
    UNROUNDED: counts are integers and the score is a fixed-order
    per-row IEEE scalar expression, so DuckDB reproduces the doubles
    bit-exactly (no accumulation, no engine-dependent rounding)."""
    from erde_spark.scale.text import readability
    d = (_t(spark, sf_dir, 'documents')['documents']
         .select('doc_id', 'text').where(F.col('text').isNotNull()))
    r = readability('text')
    return (d.select('doc_id', r['n_words'].alias('n_words'),
                     r['n_sentences'].alias('n_sentences'),
                     r['n_syllables'].alias('n_syllables'),
                     r['flesch'].alias('flesch'))
            .orderBy('doc_id'))


_READABILITY_SQL = """
WITH m AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(text, '[A-Za-z]+')) AS INT)
           AS n_words,
         CAST(greatest(length(regexp_extract_all(text, '[.!?]+')), 1)
              AS INT) AS n_sentences,
         CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS INT) AS n_syllables
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id, n_words, n_sentences, n_syllables,
       206.835
       - 1.015 * (CAST(greatest(n_words, 1) AS DOUBLE)
                  / CAST(n_sentences AS DOUBLE))
       - 84.6 * (CAST(n_syllables AS DOUBLE)
                 / CAST(greatest(n_words, 1) AS DOUBLE)) AS flesch
FROM m
ORDER BY doc_id
"""


def q_passage_span_check(spark, sf_dir):
    """Copied-passage detection (winnowing fingerprints -> consistent-
    offset span runs) VALUE-checked by construction: doc_id%4 in {0,1}
    pairs share a planted ~500-char passage (a group-keyed hex salad)
    embedded between per-document unique salads; all other content is
    mutually dissimilar. A shared substring of length L >= k+window-1
    shares every fingerprint winnowed inside it (dozens here), their
    offsets advance consistently, and accidental 3+ consistent-offset
    collisions between unrelated salads are ~impossible — so the
    detected pair SET is exactly the planted pairs, pure doc_id
    arithmetic for DuckDB. Complements the rows-only real-text
    winnow_passages entry (span counts/lengths stay winnowing-granular
    there by design)."""
    from erde_spark.scale.text import shared_passage_spans
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    m4 = F.col('doc_id') % 4
    group = F.when(m4 < 2, F.col('doc_id') - m4).otherwise(F.lit(-1))

    def _salad(key, n):
        return F.concat_ws(' ', F.transform(
            F.sequence(F.lit(1), F.lit(n)),
            lambda i: F.substring(
                F.md5(F.concat_ws('^', key.cast('string'),
                                  i.cast('string'))), 1, 8)))

    text = F.concat_ws(
        ' ',
        _salad(F.col('doc_id') + 5000000, 30),        # unique prefix
        F.when(group >= 0, _salad(group + 7000000, 60))
        .otherwise(_salad(F.col('doc_id') + 6000000, 60)),
        _salad(F.col('doc_id') + 8000000, 30))        # unique suffix
    docs = d.select('doc_id', text.alias('text'))
    out = shared_passage_spans(docs, min_span_fps=3)
    return out.select('id_a', 'id_b').orderBy('id_a')


_PASSAGE_SPAN_CHECK_SQL = """
SELECT doc_id AS id_a, doc_id + 1 AS id_b
FROM documents
WHERE doc_id % 4 = 0 AND doc_id + 1 IN (SELECT doc_id FROM documents)
ORDER BY id_a
"""


def q_ann_rank1_check(spark, sf_dir):
    """The approximate-nearest-neighbor tiers VALUE-checked by planted
    queries: every vec_id%37==0 corpus vector is re-issued as a query
    under +1000000 — an identical vector lands in its own LSH bucket /
    IVF list deterministically (same hashes, same nearest centroid)
    and re-ranks to rank 1 at exact cosine 1 (~10 sigma above any
    random 64-dim cosine), so BOTH ``lsh_topk`` and ``ivfpq_topk``
    must return the original vector at rank 1 for every planted query
    — pure arithmetic for DuckDB. Complements the recall-pytest'd
    rows-only entries for the same operators."""
    from erde_spark.scale.similarity import ivfpq_topk, lsh_topk
    e = _t(spark, sf_dir, 'embeddings')['embeddings'] \
        .select('vec_id', 'embedding')
    q = e.where(F.col('vec_id') % 37 == 0).select(
        (F.col('vec_id') + 1000000).alias('vec_id'), 'embedding')
    lsh = (lsh_topk(e, q, k=1, n_bits=10, n_probes=4)
           .where(F.col('rank') == 1)
           .select(F.lit('lsh').alias('method'), 'query_id', 'vec_id'))
    ivf = (ivfpq_topk(e, q, k=1, n_probes=4, m=16, ks=64, refine=8)
           .where(F.col('rank') == 1)
           .select(F.lit('ivfpq').alias('method'), 'query_id', 'vec_id'))
    return lsh.unionByName(ivf).orderBy('method', 'query_id')


_ANN_RANK1_CHECK_SQL = """
SELECT m.method, vec_id + 1000000 AS query_id, vec_id
FROM embeddings, (VALUES ('ivfpq'), ('lsh')) AS m(method)
WHERE vec_id % 37 = 0
ORDER BY m.method, query_id
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash hamming<=3 candidate pairs on REAL text (no SQL oracle:
    md5-bit simhash isn't expressible in ANSI SQL; driver rows-only
    check — the deterministic value-checked companion is
    ``simhash_check``)."""
    from erde_spark.scale.dedup import simhash_pairs
    d = _t(spark, sf_dir, 'documents')['documents']
    return simhash_pairs(d, max_hamming=3)


def q_dedup_embedding(spark, sf_dir):
    from erde_spark.scale.dedup import embedding_cosine_pairs
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    return embedding_cosine_pairs(e, threshold=0.8) \
        .select('id_a', 'id_b', F.round('cosine', 4).alias('cosine'))


_DEDUP_EMBEDDING_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.8
"""


def q_dedup_embedding_lsh(spark, sf_dir):
    """Banded sign-LSH embedding near-dup pairs (band width auto-scaled
    with corpus size so candidate volume stays linear) — the scale tier
    over brute-force cosine pairs. Precision is exact (cosine verified);
    recall is the per-band hyperplane collision probability, so no SQL
    oracle (driver rows-only; precision/recall pytest on planted dups in
    tests/test_scale.py)."""
    from erde_spark.scale.dedup import embedding_lsh_pairs
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    return embedding_lsh_pairs(e, threshold=0.8) \
        .select('id_a', 'id_b', F.round('cosine', 4).alias('cosine'))


def q_dedup_embedding_clusters(spark, sf_dir):
    """Semantic (embedding) dedup end-to-end: sign-LSH verified cosine
    pairs -> connected components -> one kept representative per cluster
    (SemDeDup-style curation). Rows-only — LSH recall is probabilistic."""
    from erde_spark.scale.dedup import embedding_dedup_clusters
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    return embedding_dedup_clusters(e, threshold=0.9) \
        .select('vec_id', 'cluster_size')


def q_similarity_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for the first 20 vectors (ANN
    baseline). Rank-only output: integer-exact hash match."""
    from erde_spark.scale.similarity import cosine_topk
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    q = e.filter(F.col('vec_id') < 20)
    return cosine_topk(e, q, k=5).select('query_id', 'vec_id', 'rank')


_SIMILARITY_TOPK_SQL = """
SELECT q.vec_id AS query_id, c.vec_id,
  CAST(row_number() OVER (PARTITION BY q.vec_id
    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) DESC,
             c.vec_id ASC) AS INT) AS rank
FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
WHERE q.vec_id < 20
QUALIFY rank <= 5
"""


def q_similarity_lsh(spark, sf_dir):
    """Approximate LSH top-k (no oracle — approximate by design; driver
    rows-only check)."""
    from erde_spark.scale.similarity import lsh_topk
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    q = e.filter(F.col('vec_id') < 20)
    return lsh_topk(e, q, k=5, n_bits=10, n_probes=4)


def q_text_winnow(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprint near-dup candidates: pairs
    sharing >= 8 MOSS fingerprints (no SQL oracle — rolling hashes aren't
    ANSI-SQL-expressible; driver rows-only check)."""
    from erde_spark.scale.text import winnow_pairs
    d = _t(spark, sf_dir, 'documents')['documents']
    return winnow_pairs(d, min_shared=8)


def q_similarity_ivf(spark, sf_dir):
    """IVF (inverted-file) ANN top-k: sampled-kmeans coarse quantizer,
    queries probe nearest lists (no oracle — approximate by design;
    driver rows-only check)."""
    from erde_spark.scale.similarity import ivf_topk
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    q = e.filter(F.col('vec_id') < 20)
    return ivf_topk(e, q, k=5, n_lists=16, n_probes=3)


def q_dedup_clusters(spark, sf_dir):
    """Cluster-representative dedup: per-bucket SPANNING star edges
    (O(docs x bands), never clique^2 pair enumeration) -> verified exact
    Jaccard -> connected components -> keep min doc_id per cluster, with a
    representative-merge pass repairing star-edge splits (the linear-cost
    production dedup; no SQL oracle — LSH recall is probabilistic;
    rows-only)."""
    from erde_spark.scale.dedup import dedup_clusters
    d = _t(spark, sf_dir, 'documents')['documents']
    return dedup_clusters(d, threshold=0.9) \
        .select('doc_id', 'cluster_size')


_MOCK_OSRM = None


def _mock_osrm_url() -> str:
    """Deterministic offline OSRM backend (straight-line metrics) so the
    routing kernels run end-to-end in the correctness gate without a real
    router. Server lives until process exit (queries are lazy)."""
    global _MOCK_OSRM
    if _MOCK_OSRM is None:
        import os
        import sys
        repo = os.path.dirname(os.path.abspath(__file__))
        if repo not in sys.path:
            sys.path.insert(0, repo)
        from tests.osrm_mock import MockOsrm
        _MOCK_OSRM = MockOsrm().__enter__()
    return _MOCK_OSRM.url


def q_routing_route(spark, sf_dir):
    """OSRM per-row routing kernel (rows-only: external-service op)."""
    from erde_spark.functions.geo import st_linestring_between, st_point
    from erde_spark.routing.route import route_df
    cust = _t(spark, sf_dir, 'customer')['customer'].limit(50)
    k = F.col('c_custkey')
    lon = 30.0 + (k % 100) / 10.0
    lat = 50.0 + ((k * 13) % 80) / 10.0
    lines = cust.select(
        k.alias('c_custkey'),
        st_linestring_between(st_point(lon, lat),
                              st_point(lon + F.lit(0.05), lat + F.lit(0.05)))
        .alias('geometry'))
    out = route_df(lines, _mock_osrm_url(), overview='full',
                   annotations='duration,distance')
    return out.select('c_custkey', 'alternative',
                      F.round('duration', 2).alias('duration'),
                      F.round('distance', 2).alias('distance'))


def q_routing_od_table(spark, sf_dir):
    """OSRM OD-matrix kernel, block-split (rows-only)."""
    from erde_spark.functions.geo import st_point
    from erde_spark.routing.table import od_table
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    src = cust.limit(20).select(k.alias('sid'),
                                st_point(30.0 + (k % 100) / 10.0,
                                         50.0 + ((k * 13) % 80) / 10.0).alias('geometry'))
    dst = cust.limit(10).select(k.alias('did'),
                                st_point(31.0 + (k % 50) / 10.0,
                                         51.0 + ((k * 7) % 60) / 10.0).alias('geometry'))
    out = od_table(src, dst, _mock_osrm_url(), max_table_size=64,
                   annotations='duration,distance')
    return out.select('source', 'destination',
                      F.round('duration', 2).alias('duration'),
                      F.round('distance', 2).alias('distance'))


def q_routing_isochrone(spark, sf_dir):
    """Isochrone kernel: grid -> OD table -> raster -> contour per source
    (rows-only)."""
    from erde_spark.functions.geo import st_geometrytype, st_point
    from erde_spark.routing.isochrone import isochrones
    cust = _t(spark, sf_dir, 'customer')['customer'].limit(2)
    k = F.col('c_custkey')
    src = cust.select(k.alias('sid'),
                      st_point(30.0 + (k % 10) * 2.0, F.lit(0.0)).alias('geometry'))
    out = isochrones(src, _mock_osrm_url(), durations=[3, 6], speed=36.0,
                     max_snap=100.0)
    return out.select('sid', 'duration',
                      st_geometrytype(F.col('geometry')).alias('geom_type'))


def q_routing_route_check(spark, sf_dir):
    """Construction-oracled /route/v1 gate (SURVEY §2.7): the mock OSRM
    serves straight-line metrics (distance = euclidean degrees x
    111319.49..., duration = distance / 10 m/s, alternative i scaled by
    1 + 0.5*(i-1)), and the waypoints are pure c_custkey arithmetic on an
    axis-aligned segment — so DuckDB replays duration/distance exactly.
    Values are FLOOR-quantized to integers; tests/test_routing_gates.py
    proves every value sits >= 0.02 from a floor boundary AND that the
    DuckDB replay is bit-identical, so the quantization is deterministic,
    not luck. n_nodes pins the leg-boundary node dedup (3 nodes per
    single-segment route, both alternatives)."""
    from erde_spark.functions.geo import st_linestring_between, st_point
    from erde_spark.routing.route import route_df
    cust = _t(spark, sf_dir, 'customer')['customer'] \
        .filter(F.col('c_custkey') <= 40)
    k = F.col('c_custkey')
    lon = F.lit(30.0) + (k % 100) / 10.0
    dx = (1 + k % 7) / 100.0
    lines = cust.select(
        k.alias('c_custkey'),
        st_linestring_between(st_point(lon, F.lit(55.0)),
                              st_point(lon + dx, F.lit(55.0)))
        .alias('geometry'))
    out = route_df(lines, _mock_osrm_url(), overview='full',
                   annotations='duration,distance,nodes', alternatives=2)
    return out.select('c_custkey', 'alternative',
                      F.floor('duration').alias('duration_s'),
                      F.floor('distance').alias('distance_m'),
                      F.size('nodes').alias('n_nodes'))


_ROUTING_ROUTE_CHECK_SQL = """
WITH ks AS (SELECT c_custkey FROM customer WHERE c_custkey <= 40),
alts AS (SELECT 1 AS alternative, 1.0 AS factor
         UNION ALL SELECT 2, 1.5)
SELECT c_custkey, alternative,
  CAST(FLOOR(((30.0 + (c_custkey % 100)/10.0 + (1 + c_custkey % 7)/100.0)
              - (30.0 + (c_custkey % 100)/10.0))
             * 111319.49079327358 * factor / 10.0) AS BIGINT) AS duration_s,
  CAST(FLOOR(((30.0 + (c_custkey % 100)/10.0 + (1 + c_custkey % 7)/100.0)
              - (30.0 + (c_custkey % 100)/10.0))
             * 111319.49079327358 * factor) AS BIGINT) AS distance_m,
  3 AS n_nodes
FROM ks CROSS JOIN alts
"""


def q_od_table_check(spark, sf_dir):
    """Construction-oracled /table/v1 gate (SURVEY §2.7): 12 x 8 OD
    matrix against the mock OSRM, block-split at max_table_size=40 (so
    the blocked cross-join + melt path actually exercises multi-request
    assembly). Points sit on one parallel at 2-decimal longitudes —
    polyline precision-5 quantization is exact — so the straight-line
    metrics are pure key arithmetic DuckDB replays; the oracle also pins
    the full N x M pair coverage and the constant 5.0 m snap distances
    the mock serves (doubles, integer-valued, bit-exact cross-engine)."""
    from erde_spark.functions.geo import st_point
    from erde_spark.routing.table import od_table
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    src = cust.filter(k <= 12).select(
        k.alias('sid'),
        st_point(F.lit(30.0) + (k % 5) / 100.0, F.lit(55.0))
        .alias('geometry'))
    dst = cust.filter(k <= 8).select(
        k.alias('did'),
        st_point(F.lit(30.5) + (k % 3) / 100.0, F.lit(55.0))
        .alias('geometry'))
    out = od_table(src, dst, _mock_osrm_url(), max_table_size=40,
                   annotations='duration,distance')
    return out.select('source', 'destination',
                      F.floor('duration').alias('duration_s'),
                      F.floor('distance').alias('distance_m'),
                      'source_snap', 'destination_snap')


_OD_TABLE_CHECK_SQL = """
WITH s AS (SELECT c_custkey AS source,
                  30.0 + (c_custkey % 5)/100.0 AS sx
           FROM customer WHERE c_custkey <= 12),
     d AS (SELECT c_custkey AS destination,
                  30.5 + (c_custkey % 3)/100.0 AS dx
           FROM customer WHERE c_custkey <= 8)
SELECT source, destination,
  CAST(FLOOR(ABS(dx - sx) * 111319.49079327358 / 10.0) AS BIGINT)
    AS duration_s,
  CAST(FLOOR(ABS(dx - sx) * 111319.49079327358) AS BIGINT) AS distance_m,
  CAST(5.0 AS DOUBLE) AS source_snap,
  CAST(5.0 AS DOUBLE) AS destination_snap
FROM s CROSS JOIN d
"""


def q_isochrone_grid_check(spark, sf_dir):
    """Construction-oracled isochrone gate (SURVEY §2.7, reference
    /root/reference/erde/op/isochrone.py:103-152 grid+snap math): with
    the mock's straight-line durations (dist / 10 m/s) and constant 5 m
    snaps, the lv-minute isochrone is a disk of radius
    10 * (lv*60 - (5+5)/2.5*3.6) metres around the source. The oracle
    pins the exact (sid x level) coverage; the geometry columns are
    verified by construction Spark-side: geom_type, strict origin
    containment, and shoelace area within 10% of the analytic disk
    (IDW raster + marching squares discretization error measured ~2%)."""
    import pandas as _pd

    from erde_spark.functions.geo import st_point
    from erde_spark.routing.isochrone import isochrones
    cust = _t(spark, sf_dir, 'customer')['customer'] \
        .filter(F.col('c_custkey') <= 3)
    k = F.col('c_custkey')
    src = cust.select(k.alias('sid'),
                      st_point(k * 2.0, F.lit(0.0)).alias('geometry'))
    out = isochrones(src, _mock_osrm_url(), durations=[3, 6], speed=36.0,
                     max_snap=100.0)

    schema = ('sid long, duration double, geom_type string, '
              'origin_inside boolean, area_ok boolean')

    def _verify(batches):
        import math as _m

        from erde_spark.geo import geom as G
        from erde_spark.geo import ops as O
        m_per_deg = 111319.49079327358
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                gtype, parts = G.wkb_loads(bytes(r['geometry']))
                ox, oy = float(r['sid']) * 2.0, 0.0
                inside = any(
                    O._point_in_polygon(ox, oy, rings) == 2
                    for rings in parts) if gtype == 'MultiPolygon' else False
                area = 0.0
                for rings in (parts if gtype == 'MultiPolygon' else []):
                    for i, ring in enumerate(rings):
                        sh = abs(sum(
                            ring[j][0] * ring[j + 1][1]
                            - ring[j + 1][0] * ring[j][1]
                            for j in range(len(ring) - 1))) / 2.0
                        area += sh if i == 0 else -sh
                area *= m_per_deg * m_per_deg  # lat 0: no cos-lat term
                lv = float(r['duration'])
                radius = 10.0 * (lv * 60.0 - (5.0 + 5.0) / 2.5 * 3.6)
                expected = _m.pi * radius * radius
                rows.append({'sid': int(r['sid']), 'duration': lv,
                             'geom_type': gtype,
                             'origin_inside': bool(inside),
                             'area_ok': bool(0.9 * expected <= area
                                             <= 1.1 * expected)})
            if rows:
                yield _pd.DataFrame(rows)

    return out.mapInPandas(_verify, schema=schema)


_ISOCHRONE_GRID_CHECK_SQL = """
SELECT c_custkey AS sid, lv.duration,
       'MultiPolygon' AS geom_type,
       true AS origin_inside, true AS area_ok
FROM customer,
     (SELECT CAST(3.0 AS DOUBLE) AS duration
      UNION ALL SELECT CAST(6.0 AS DOUBLE)) lv
WHERE c_custkey <= 3
"""


def q_stream_join_attrib(spark, sf_dir):
    """Watermarked stream-stream interval join (NEW round 11 —
    erde_spark/streaming/windows.py::stream_interval_join): view->click
    attribution within 2 hours per user, driven through TWO file-stream
    sources with availableNow into a memory sink. Inner interval joins
    emit on match (no watermark-close wait) and each source drains in
    one micro-batch, so no row is ever late — the streaming result is
    exactly the batch join, which IS the DuckDB oracle. The interval
    predicate is also what bounds the join STATE on a real unbounded
    stream (rows evict once the watermark passes ts + lag)."""
    import shutil
    import tempfile

    from erde_spark.streaming.windows import stream_interval_join
    src = _stream_join_staged_input(spark, sf_dir)
    ts_v = 'user_id long, view_id long, view_ts timestamp'
    ts_c = 'user_id long, click_id long, click_ts timestamp'
    vs = spark.readStream.schema(ts_v).parquet(f'{src}/v')
    cs = spark.readStream.schema(ts_c).parquet(f'{src}/c')
    joined = stream_interval_join(vs, cs, 'user_id', 'view_ts',
                                  'click_ts', '2 hours',
                                  watermark='1 minute')
    base = tempfile.mkdtemp(prefix='erde_stream_join_run_')
    name = 'sj_attrib_' + os.path.basename(base).rsplit('_', 1)[-1]
    # a stream-stream join spins up FOUR state stores per shuffle
    # partition and commits each every micro-batch — at 32 partitions
    # that fixed fan-out is 3-6x the whole query (measured 9.5-18 s vs
    # 2.9-3.4 s at 4). Size the stateful shuffle to the data (20k rows
    # here; at 100 TB you size it UP for state volume, same knob),
    # restore the session default afterwards.
    old_parts = spark.conf.get('spark.sql.shuffle.partitions')
    spark.conf.set('spark.sql.shuffle.partitions', '4')
    try:
        q = (joined.writeStream.format('memory').queryName(name)
             .outputMode('append')
             .option('checkpointLocation', f'{base}/ckpt')
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = (spark.table(name).select('user_id', 'view_id', 'click_id')
               .localCheckpoint(eager=True))
    finally:
        spark.conf.set('spark.sql.shuffle.partitions', old_parts)
    spark.catalog.dropTempView(name)
    shutil.rmtree(base, ignore_errors=True)
    return out


_STREAM_JOIN_STAGED: dict = {}


def _stream_join_staged_input(spark, sf_dir):
    """Stage the view/click file-stream sources ONCE per (process,
    sf_dir) — a real stream's input already sits on disk, so repeat
    bench runs should measure the join, not the setup copy (the
    _neardup_staged_input rationale). Each invocation still gets its
    own checkpoint, so the streaming machinery runs in full."""
    import atexit
    import shutil
    import tempfile
    path = _STREAM_JOIN_STAGED.get(sf_dir)
    if path is not None and os.path.isdir(path):
        return path
    ev = _t(spark, sf_dir, 'events')['events']
    ts = F.col('ts').cast('timestamp')  # watermarks reject TIMESTAMP_NTZ
    base = tempfile.mkdtemp(prefix='erde_stream_join_in_')
    (ev.filter(F.col('event_type') == 'view')
     .select('user_id', F.col('event_id').alias('view_id'),
             ts.alias('view_ts'))
     .write.parquet(f'{base}/v'))
    (ev.filter(F.col('event_type') == 'click')
     .select('user_id', F.col('event_id').alias('click_id'),
             ts.alias('click_ts'))
     .write.parquet(f'{base}/c'))
    _STREAM_JOIN_STAGED[sf_dir] = base
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


_STREAM_JOIN_ATTRIB_SQL = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
"""


def q_d4_check(spark, sf_dir):
    """D4 data selection (Tirumala et al. 2023, arXiv:2308.12284 —
    SemDeDup then drop the most PROTOTYPICAL fraction of each k-means
    cluster; NEW round 11, erde_spark/scale/dedup.py::d4_select)
    verified by construction: at threshold 0.99 the semdedup phase
    keeps everything (no natural sf pair reaches 0.99 — the
    semdedup_check invariant), so the gate isolates the prototype
    phase and checks its POLICY from the debug frame — every cluster
    dropped exactly min(ceil(frac*size), size-1) members, every
    dropped member's centroid-cosine >= every kept member's, and the
    returned id set is consistent with the per-cluster drops. The
    oracle replays the input cardinality and pins the booleans."""
    from erde_spark.scale.dedup import d4_select
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    dbg: dict = {}
    out = d4_select(e, threshold=0.99, proto_frac=0.25,
                    _debug_out=dbg)
    ranked = dbg['ranked']
    per_cluster = (ranked.groupBy('list_id').agg(
        F.count(F.lit(1)).alias('csz'),
        F.sum(F.col('_dropped').cast('int')).alias('n_drop'),
        F.max(F.when(~F.col('_dropped'), F.col('_sim'))).alias('max_kept'),
        F.min(F.when(F.col('_dropped'), F.col('_sim'))).alias('min_drop')))
    checks = per_cluster.agg(
        F.every((F.col('n_drop') ==
                 F.least(F.ceil(F.lit(0.25) * F.col('csz')),
                         F.col('csz') - 1))).alias('drop_counts_ok'),
        F.every(F.coalesce(F.col('min_drop') >= F.col('max_kept'),
                           F.lit(True))).alias('ranking_ok'),
        F.sum(F.col('csz') - F.col('n_drop')).alias('expect_out'))
    n_in = e.count()
    n_out = out.count()
    return checks.select(
        F.lit(n_in).alias('n_in'),
        'drop_counts_ok', 'ranking_ok',
        (F.col('expect_out') == F.lit(n_out)).alias('count_consistent'))


_D4_CHECK_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_in,
       true AS drop_counts_ok, true AS ranking_ok,
       true AS count_consistent
FROM embeddings
"""


def q_d4_survivors_check(spark, sf_dir):
    """D4 end-to-end SURVIVOR-SET gate at a second knob setting
    (r11 verdict ask #6: the policy audit in d4_check can't see
    knob-plumbing regressions — this pins the actual returned id set
    under proto_frac=0.5, n_clusters=1). Construction: threshold 0.99
    makes the semdedup phase keep everything (the semdedup_check
    invariant), and n_clusters=1 collapses the k-means to a CLOSED
    FORM — with one list, every iteration assigns all samples to it,
    so the centroid is exactly normalize(mean(normalized vectors))
    and sample_size=4096 >= n makes the training sample the whole
    table. DuckDB replays the normalize -> mean -> normalize -> dot
    -> rank-desc-ties-by-id -> drop min(ceil(0.5*n), n-1) pipeline
    bit-for-bit on the survivor IDS (sims differ only in last-bit
    summation order, far below the inter-row gaps)."""
    from erde_spark.scale.dedup import d4_select
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    out = d4_select(e, threshold=0.99, proto_frac=0.5, n_clusters=1)
    return out.select('vec_id', 'label')


_D4_SURVIVORS_SQL = """
WITH nv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(x AS DOUBLE) /
                sqrt(list_sum(list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nvec
  FROM embeddings),
dims AS (SELECT unnest(generate_series(1, 64)) AS i),
cent0 AS (SELECT i, avg(nvec[i]) AS c FROM nv, dims GROUP BY i),
cnorm AS (SELECT sqrt(sum(c * c)) AS nrm FROM cent0),
cent AS (SELECT i, c / (SELECT nrm FROM cnorm) AS c FROM cent0),
sims AS (
  SELECT nv.vec_id, sum(nv.nvec[cent.i] * cent.c) AS sim
  FROM nv, cent GROUP BY nv.vec_id),
ranked AS (
  SELECT vec_id,
         row_number() OVER (ORDER BY sim DESC, vec_id) AS rn,
         count(*) OVER () AS n
  FROM sims)
SELECT e.vec_id, e.label FROM embeddings e
JOIN ranked r ON e.vec_id = r.vec_id
WHERE r.rn > least(CAST(ceil(0.5 * r.n) AS BIGINT), r.n - 1)
"""


def q_manifest_snapshot(spark, sf_dir):
    """Manifested parquet dataset (NEW round 12, erde_spark/io/
    manifest.py — dataset-level atomic commit: immutable per-version
    manifests + a last-swapped pointer, the Iceberg snapshot model
    re-expressed minimally on the sinks' two-phase primitives)
    VALUE-checked end-to-end: commit the doc_id%3==0 slice as v1,
    APPEND the %3==1 slice as v2, plant a rogue parquet file in data/
    (lang='ROGUE' rows — visible to any listing-based reader), then
    read BOTH the latest snapshot and the time-traveled v1 through
    manifest-planned file lists. Every surviving row carries the
    version that first contained it (1 iff it was readable at v1) and
    its byte-exact text md5 — pure doc_id arithmetic for DuckDB; a
    torn snapshot, leaked rogue file, wrong time-travel file set, or
    corrupted round trip breaks rows or hashes. The manifest's
    metadata row count must equal the latest read's count or the gate
    refuses to return."""
    import shutil
    import tempfile

    from erde_spark.io.manifest import (manifest_stats,
                                        read_manifest_parquet,
                                        write_manifest_parquet)
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'lang', 'text')
    base = tempfile.mkdtemp(prefix='erde_manifest_')
    ds = base + '/docs.mparquet'
    write_manifest_parquet(d.filter(F.col('doc_id') % 3 == 0), ds)
    write_manifest_parquet(d.filter(F.col('doc_id') % 3 == 1), ds,
                           mode='append')
    # a rogue file a listing-based reader WOULD pick up
    import glob
    import os
    (d.filter(F.col('doc_id') % 3 == 2)
     .withColumn('lang', F.lit('ROGUE')).coalesce(1)
     .write.mode('overwrite').parquet(base + '/rogue'))
    os.replace(glob.glob(base + '/rogue/part-*.parquet')[0],
               ds + '/data/zzz-rogue.parquet')
    latest = read_manifest_parquet(ds, spark)
    meta_rows = manifest_stats(ds)['total_rows']
    v1_ids = read_manifest_parquet(ds, spark, version=1) \
        .select('doc_id').withColumn('first_version', F.lit(1))
    res = (latest.join(v1_ids, 'doc_id', 'left')
           .select('doc_id', 'lang', F.md5('text').alias('text_md5'),
                   F.coalesce('first_version', F.lit(2))
                   .alias('first_version'))
           .orderBy('doc_id').localCheckpoint(eager=True))
    if res.count() != meta_rows:
        raise AssertionError('manifest metadata row count diverges '
                             'from the snapshot read')
    shutil.rmtree(base, ignore_errors=True)
    return res


_MANIFEST_SNAPSHOT_SQL = """
SELECT doc_id, lang, md5(text) AS text_md5,
       CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS first_version
FROM documents WHERE doc_id % 3 < 2 ORDER BY doc_id
"""


def q_stream_manifest_check(spark, sf_dir):
    """EXACTLY-ONCE streaming publish into a manifested dataset (NEW
    round 12, streaming/shards.py::stream_to_manifest): the documents
    table split into 2 mtime-ordered micro-batch files (even ids then
    odd), streamed into a .mparquet dataset — each batch commits as an
    append snapshot carrying its batch id as the manifest txn — and
    then the WHOLE stream is re-run against a FRESH checkpoint (a
    forced full replay with reset batch ids): the txn guard must skip
    both replayed batches, so the final pointer read holds exactly ONE
    byte-exact copy of every document and exactly 2 snapshots, with
    each doc's first-containing version equal to its batch parity + 1.
    A duplicate snapshot, leaked replay, torn publish, or wrong
    time-travel set breaks rows, hashes, or the in-gate version
    audit. Pure doc_id arithmetic for DuckDB."""
    import glob
    import os
    import shutil
    import tempfile

    from erde_spark.io.manifest import (manifest_versions,
                                        read_manifest_parquet)
    from erde_spark.streaming.shards import stream_to_manifest
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'lang', 'text')
    base = tempfile.mkdtemp(prefix='erde_stream_manifest_')
    in_dir = os.path.join(base, 'in')
    os.makedirs(in_dir)
    for k in (0, 1):
        tmp = os.path.join(base, f'tmp{k}')
        (d.filter(F.pmod('doc_id', F.lit(2)) == k).coalesce(1)
         .write.mode('overwrite').parquet(tmp))
        part = glob.glob(os.path.join(tmp, 'part-*.parquet'))[0]
        dst = os.path.join(in_dir, f'batch-{k}.parquet')
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + k * 60,) * 2)
    ds = os.path.join(base, 'docs.mparquet')
    for ckpt in ('ckpt1', 'ckpt2'):  # second run = forced full replay
        src = (spark.readStream.schema(d.schema)
               .option('maxFilesPerTrigger', '1').parquet(in_dir))
        stream_to_manifest(src, ds, os.path.join(base, ckpt)) \
            .awaitTermination()
    if [v['version'] for v in manifest_versions(ds)] != [1, 2]:
        raise AssertionError('replayed micro-batches produced extra '
                             'or missing snapshots')
    v1_ids = read_manifest_parquet(ds, spark, version=1) \
        .select('doc_id').withColumn('first_version', F.lit(1))
    res = (read_manifest_parquet(ds, spark)
           .join(v1_ids, 'doc_id', 'left')
           .select('doc_id', 'lang', F.md5('text').alias('text_md5'),
                   F.coalesce('first_version', F.lit(2))
                   .alias('first_version'))
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return res


_STREAM_MANIFEST_SQL = """
SELECT doc_id, lang, md5(text) AS text_md5,
       CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS first_version
FROM documents ORDER BY doc_id
"""


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-prefiltered decontamination (NEW round 11,
    erde_spark/scale/bloom.py): the 100 TB path where the eval n-gram
    set broadcasts as ~10 bits/key instead of a hashed relation. The
    Bloom can only over-admit candidates (no false negatives) and every
    candidate is exact-verified, so the kept set EQUALS the plain exact
    anti-join — which is the DuckDB oracle (same n-gram semantics as
    contamination_check)."""
    from erde_spark.scale.bloom import decontaminate_bloom
    d = _t(spark, sf_dir, 'documents')['documents']
    ev = d.filter(F.col('doc_id') % 97 == 0)
    corpus = d.filter(F.col('doc_id') % 97 != 0)
    return (decontaminate_bloom(corpus, ev, n=4, fpp=0.01)
            .select('doc_id', 'lang'))


_BLOOM_DECON_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4 THEN
           list_transform(generate_series(1, len(t) - 3),
                          i -> array_to_string(t[i:i+3], ' '))
         ELSE []::VARCHAR[] END AS grams
  FROM toks),
ev AS (SELECT DISTINCT unnest(grams) AS ngram FROM g WHERE doc_id % 97 = 0),
dg AS (SELECT DISTINCT doc_id, unnest(grams) AS ngram
       FROM g WHERE doc_id % 97 <> 0),
hit AS (SELECT DISTINCT dg.doc_id FROM dg JOIN ev USING (ngram))
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id % 97 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM hit)
"""


def q_events_stateful(spark, sf_dir):
    """Custom stateful streaming op (applyInPandasWithState) driven over
    the events table via a file-stream + availableNow (rows-only)."""
    import tempfile

    from erde_spark.streaming.stateful import (run_stateful_batch,
                                               running_user_stats)
    ev = _t(spark, sf_dir, 'events')['events'].limit(500)
    # stateful shuffle sized to the data (500 events / bounded users):
    # each stateful partition costs a state-store commit + a Python
    # worker per micro-batch (the stream_interval_join finding)
    out = run_stateful_batch(spark, ev, running_user_stats,
                             tempfile.mkdtemp(), shuffle_partitions=8)
    return (out.groupBy('user_id')
            .agg(F.max('n_events').alias('n_events'),
                 F.round(F.max('sum_value'), 4).alias('sum_value')))


def q_similarity_ivfpq(spark, sf_dir):
    """IVF-PQ ANN: coarse inverted lists + m-byte product-quantization
    codes, ADC candidate scoring, exact top-k refine — the
    memory-compressed billion-scale tier (rows-only: approximate by
    construction; recall vs brute force is pinned in tests)."""
    from erde_spark.scale.similarity import ivfpq_topk
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    q = e.filter(F.col('vec_id') < 20)
    return (ivfpq_topk(e, q, k=5, n_lists=16, n_probes=6, m=16, ks=64,
                       refine=8)
            .select('query_id', 'vec_id', F.round('cosine', 4).alias('cosine'),
                    'rank'))


def q_profile_orders(spark, sf_dir):
    """Data-profile report over the orders table: one aggregation pass
    yields per-column type, row/null/distinct counts and min/max (cast
    to string for a uniform schema) — the first-look utility of any
    pipeline onboarding an unfamiliar table."""
    from erde_spark.operators.stats import profile
    t = _t(spark, sf_dir, 'orders')['orders']
    cols = ['o_orderkey', 'o_custkey', 'o_orderstatus', 'o_orderdate',
            'o_orderpriority']
    return profile(t, cols)


_PROFILE_SQL = ' UNION ALL '.join(
    f"""SELECT '{c}' AS column_name, '{t}' AS data_type,
        COUNT(*) AS n_rows,
        COUNT(*) - COUNT({c}) AS null_count,
        COUNT(DISTINCT {c}) AS n_distinct,
        CAST(MIN({c}) AS VARCHAR) AS min_value,
        CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM orders"""
    for c, t in [('o_orderkey', 'bigint'), ('o_custkey', 'bigint'),
                 ('o_orderstatus', 'string'), ('o_orderdate', 'timestamp_ntz'),
                 ('o_orderpriority', 'string')])


def q_winnow_passages(spark, sf_dir):
    """Passage-level duplication report: document pairs sharing COPIED
    SPANS (maximal runs of winnowing fingerprints advancing consistently
    in both docs) with span counts and longest-span length — catches a
    copied paragraph inside otherwise-unrelated documents, which
    whole-doc Jaccard misses (rows-only: the winnowing rolling hash is
    not ANSI-SQL-expressible; the span extraction itself is pinned by
    construction in tests/test_scale.py, and the deterministic
    value-checked companion is ``passage_span_check``)."""
    from erde_spark.scale.text import shared_passage_spans
    d = _t(spark, sf_dir, 'documents')['documents']
    return shared_passage_spans(d, min_span_fps=3)


def q_bpe_pair_stats(spark, sf_dir):
    """First BPE merge iteration: corpus-wide adjacent character-pair
    frequencies inside words (Sennrich et al. 2016) — the aggregation a
    distributed tokenizer-training loop runs per merge round."""
    from erde_spark.scale.text import bpe_pair_stats
    d = _t(spark, sf_dir, 'documents')['documents']
    return bpe_pair_stats(d, top_k=50)


_BPE_PAIR_SQL = """
WITH t AS (SELECT unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x != '')) AS token FROM documents),
c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token),
p AS (SELECT unnest(list_transform(range(1, len(token)),
                                   i -> substr(token, i::INT, 2))) AS pair,
             n
      FROM c WHERE len(token) >= 2)
SELECT pair, CAST(SUM(n) AS BIGINT) AS count FROM p GROUP BY pair
ORDER BY count DESC, pair LIMIT 50
"""


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails/cards/phones/IPs — the standard
    pre-training scrub stage): synthetic PII derived from doc_id is
    injected into each document, scrubbed by the pure-JVM regex
    pipeline, and per-type counts + an md5 of the scrubbed text are
    value-checked against DuckDB running the identical RE2-compatible
    patterns."""
    from erde_spark.scale.text import pii_scrub
    d = _t(spark, sf_dir, 'documents')['documents']
    k = F.col('doc_id')
    injected = F.concat(
        F.col('text'),
        F.lit(' reach user'), k.cast('string'), F.lit('@ex.org from 10.2.'),
        (k % 250).cast('string'), F.lit('.7'),
        F.when(k % 5 == 0,
               F.lit(' card 4111 1111 1111 1111 tel +1 555-123-4567'))
        .otherwise(F.lit('')))
    out = pii_scrub(d.select('doc_id', injected.alias('text')))
    return out.select(
        'doc_id',
        F.col('n_email').cast('bigint').alias('n_email'),
        F.col('n_credit_card').cast('bigint').alias('n_credit_card'),
        F.col('n_phone').cast('bigint').alias('n_phone'),
        F.col('n_ipv4').cast('bigint').alias('n_ipv4'),
        F.md5('text_scrubbed').alias('scrub_md5'))


def _pii_sql():
    from erde_spark.scale.text import PII_PATTERNS
    em, cc = PII_PATTERNS['email'], PII_PATTERNS['credit_card']
    ph, ip = PII_PATTERNS['phone'], PII_PATTERNS['ipv4']
    scrub = 'itext'
    for pat in (em, cc, ph, ip):
        scrub = f"regexp_replace({scrub}, '{pat}', '[PII]', 'g')"
    return f"""
WITH t AS (SELECT doc_id,
  text || ' reach user' || CAST(doc_id AS VARCHAR) || '@ex.org from 10.2.'
       || CAST(doc_id % 250 AS VARCHAR) || '.7'
       || CASE WHEN doc_id % 5 = 0
               THEN ' card 4111 1111 1111 1111 tel +1 555-123-4567'
               ELSE '' END AS itext
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(itext, '{em}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(itext, '{cc}')) AS BIGINT) AS n_credit_card,
  CAST(len(regexp_extract_all(itext, '{ph}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(itext, '{ip}')) AS BIGINT) AS n_ipv4,
  md5({scrub}) AS scrub_md5
FROM t
"""


def q_cap_per_domain(spark, sf_dir):
    """Domain-frequency cap (the C4/RefinedWeb downsampling step —
    a handful of boilerplate-heavy hosts otherwise dominate a crawl),
    VALUE-oracled exactly: synthetic domains doc_id%7 give 7 over-cap
    hosts; ``cap_per_key`` keeps at most 30 docs per domain chosen by
    the portable md5 hash order, which DuckDB replays verbatim with
    ROW_NUMBER over the same key. Skew-aware two-phase shape
    (under-cap rows never enter the window) documented at
    erde_spark/scale/sampling.py::cap_per_key."""
    from erde_spark.scale.sampling import cap_per_key
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    docs = d.select('doc_id', F.concat(F.lit('d'), (F.col('doc_id') % 7)
                                       .cast('string')).alias('domain'))
    return (cap_per_key(docs, 'domain', cap=30, id_col='doc_id', salt='r7')
            .orderBy('doc_id'))


_CAP_PER_DOMAIN_SQL = """
WITH d AS (SELECT doc_id, 'd' || CAST(doc_id % 7 AS VARCHAR) AS domain
           FROM documents),
r AS (SELECT doc_id, domain,
             ROW_NUMBER() OVER (
               PARTITION BY domain
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'r7'), 1, 4),
                        doc_id) AS rk
      FROM d)
SELECT doc_id, domain FROM r WHERE rk <= 30 ORDER BY doc_id
"""


def q_dedup_lines_within_doc(spark, sf_dir):
    """Within-document repeated-line removal (templated pages repeat
    their own nav blocks inside ONE document — invisible to the
    corpus-wide boilerplate counter), construction-oracled: each
    document is six lines A,B,A,C,X,B of doc_id-derived md5 words
    with X = A when doc_id is even (else a distinct D), so the kept
    first occurrences are exactly A,B,C (+D for odd ids) — DuckDB
    builds the expected text directly from the arithmetic, md5-exact.
    Pure whole-stage codegen (indexed array filter), no shuffle.
    Impl: erde_spark/scale/text.py::dedup_lines_within_doc."""
    from erde_spark.scale.text import dedup_lines_within_doc
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    frag = (lambda tag: F.substring(
        F.md5(F.concat(F.col('doc_id').cast('string'), F.lit(tag))), 1, 8))
    x = F.when(F.col('doc_id') % 2 == 0, frag('a')).otherwise(frag('d'))
    text = F.concat_ws('\n', frag('a'), frag('b'), frag('a'), frag('c'),
                       x, frag('b'))
    out = dedup_lines_within_doc(d.select('doc_id', text.alias('text')))
    return (out.select('doc_id', F.md5('text').alias('text_md5'))
            .orderBy('doc_id'))


_DEDUP_LINES_SQL = """
SELECT doc_id,
       md5(substr(md5(CAST(doc_id AS VARCHAR) || 'a'), 1, 8)
           || chr(10) || substr(md5(CAST(doc_id AS VARCHAR) || 'b'), 1, 8)
           || chr(10) || substr(md5(CAST(doc_id AS VARCHAR) || 'c'), 1, 8)
           || CASE WHEN doc_id % 2 = 1
                   THEN chr(10) ||
                        substr(md5(CAST(doc_id AS VARCHAR) || 'd'), 1, 8)
                   ELSE '' END) AS text_md5
FROM documents
ORDER BY doc_id
"""


def q_exactsubstr_cut(spark, sf_dir):
    """ExactSubstr duplicate-span CUTTING (Lee et al. 2022,
    arXiv:2107.06499 — the stronger dedup variant that removes every
    occurrence of a corpus-duplicated span), construction-oracled:
    each document is [unique prefix of 3+doc_id%3 md5 words] +
    [12-word passage shared by the doc_id pair (group = doc_id-
    doc_id%2)] + [unique suffix of 2+doc_id%2 words]. With
    min_tokens=8 every 8-gram inside the shared passage is duplicated
    across the pair (boundary grams carry doc-unique words and are
    not), so the cut output is exactly prefix+suffix — except a doc
    whose pair partner does not exist (odd corpus tail), which keeps
    its passage. DuckDB rebuilds the expected text from the same
    arithmetic; md5s must agree byte-for-byte. Impl:
    erde_spark/scale/text.py::cut_duplicate_spans."""
    from erde_spark.scale.text import cut_duplicate_spans
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    did = F.col('doc_id')
    grp = (did - did % 2).cast('string')

    def words(key, tag, cnt):
        return F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.substring(
                F.md5(F.concat_ws('-', key, F.lit(tag),
                                  i.cast('string'))), 1, 8))
    text = F.array_join(
        F.concat(words(did.cast('string'), 'a', (did % 3 + 3).cast('int')),
                 words(grp, 'p', F.lit(12)),
                 words(did.cast('string'), 'z', (did % 2 + 2).cast('int'))),
        ' ')
    out = cut_duplicate_spans(d.select('doc_id', text.alias('text')),
                              min_tokens=8)
    return (out.select('doc_id', F.md5('text').alias('text_md5'))
            .orderBy('doc_id'))


_EXACTSUBSTR_CUT_SQL = """
WITH grp AS (SELECT doc_id - doc_id % 2 AS g, COUNT(*) AS n
             FROM documents GROUP BY 1),
parts AS (
  SELECT doc_id,
    array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-a-' || i), 1, 8)
                     FOR i IN generate_series(1, 3 + doc_id % 3)], ' ')
      AS pre,
    array_to_string([substr(md5(CAST(doc_id - doc_id % 2 AS VARCHAR)
                                || '-p-' || i), 1, 8)
                     FOR i IN generate_series(1, 12)], ' ') AS pas,
    array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-z-' || i), 1, 8)
                     FOR i IN generate_series(1, 2 + doc_id % 2)], ' ')
      AS suf
  FROM documents)
-- pair-aware generically: a doc keeps its passage exactly when its
-- doc_id pair group has one member (no partner to duplicate against)
-- — no assumption that doc_ids start even or are contiguous
SELECT p.doc_id,
       md5(CASE WHEN grp.n = 1 THEN pre || ' ' || pas || ' ' || suf
                ELSE pre || ' ' || suf END) AS text_md5
FROM parts p JOIN grp ON p.doc_id - p.doc_id % 2 = grp.g
ORDER BY p.doc_id
"""


def q_domain_stats(spark, sf_dir):
    """URL extraction + per-domain corpus statistics (allow/deny lists,
    per-source mixing weights): synthetic URLs derived from doc_id are
    injected, extracted with a shared RE2/Java-identical pattern, and
    aggregated per domain."""
    from erde_spark.scale.text import domain_stats
    d = _t(spark, sf_dir, 'documents')['documents']
    k = F.col('doc_id')
    injected = F.concat(
        F.col('text'),
        F.lit(' see https://site'), (k % 20).cast('string'),
        F.lit('.example.com/p/'), k.cast('string'),
        F.when(k % 3 == 0, F.lit(' and http://cdn.example.net/x'))
        .otherwise(F.lit('')))
    out = domain_stats(d.select('doc_id', injected.alias('text')))
    return out.select('domain',
                      F.col('n_urls').cast('bigint').alias('n_urls'),
                      F.col('n_docs').cast('bigint').alias('n_docs'))


def _domain_stats_sql():
    from erde_spark.scale.text import URL_PATTERN
    return f"""
WITH t AS (SELECT doc_id,
  text || ' see https://site' || CAST(doc_id % 20 AS VARCHAR)
       || '.example.com/p/' || CAST(doc_id AS VARCHAR)
       || CASE WHEN doc_id % 3 = 0 THEN ' and http://cdn.example.net/x'
               ELSE '' END AS itext
  FROM documents),
u AS (SELECT doc_id, unnest(regexp_extract_all(itext, '{URL_PATTERN}', 1))
             AS domain FROM t)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM u GROUP BY domain
"""


def q_lm_quality_score(spark, sf_dir):
    """CCNet-style LM quality proxy: per-document mean token log-prob
    under the corpus's own add-0.5-smoothed unigram LM (low = noise,
    boilerplate, wrong-language)."""
    from erde_spark.scale.text import unigram_logprob
    d = _t(spark, sf_dir, 'documents')['documents']
    return unigram_logprob(d)


_LM_QUALITY_SQL = """
WITH t AS (SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x != '')) AS token FROM documents),
c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token),
tot AS (SELECT SUM(n) AS nn, COUNT(*) AS v FROM c),
lp AS (SELECT token, ln((n + 0.5) / (nn + 0.5 * v)) AS lp FROM c, tot),
pd AS (SELECT doc_id, COUNT(*) AS n_tokens, AVG(lp) AS avg_lp
       FROM t JOIN lp USING (token) GROUP BY doc_id)
SELECT d.doc_id AS id, COALESCE(pd.n_tokens, 0) AS n_tokens,
       ROUND(COALESCE(pd.avg_lp, 0.0), 4) AS avg_logprob
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
"""


def q_token_divergence(spark, sf_dir):
    """Distribution-shift report: top-20 tokens by contribution to
    KL(en || de) between the two language slices' smoothed unigram
    distributions (which tokens make the en slice most unlike de)."""
    from erde_spark.scale.text import token_divergence
    d = _t(spark, sf_dir, 'documents')['documents']
    return token_divergence(d, 'lang', 'en', 'de')


_TOKEN_DIVERGENCE_SQL = """
WITH t AS (SELECT lang, unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x != '')) AS token
           FROM documents WHERE lang IN ('en', 'de')),
ca AS (SELECT token, COUNT(*) AS n FROM t WHERE lang = 'en' GROUP BY token),
cb AS (SELECT token, COUNT(*) AS n FROM t WHERE lang = 'de' GROUP BY token),
b AS (SELECT COALESCE(ca.token, cb.token) AS token,
             COALESCE(ca.n, 0) AS n_a, COALESCE(cb.n, 0) AS n_b
      FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
tot AS (SELECT SUM(n_a) AS na, SUM(n_b) AS nb, COUNT(*) AS v FROM b)
SELECT token,
       ROUND((n_a + 0.5) / (na + 0.5 * v), 6) AS p_a,
       ROUND((n_b + 0.5) / (nb + 0.5 * v), 6) AS p_b,
       ROUND((n_a + 0.5) / (na + 0.5 * v)
             * ln(((n_a + 0.5) / (na + 0.5 * v))
                  / ((n_b + 0.5) / (nb + 0.5 * v))), 6) AS kl_term
FROM b, tot
ORDER BY kl_term DESC, token
LIMIT 20
"""


_NEARDUP_STAGED_INPUT: dict = {}


def _neardup_staged_input(spark, sf_dir, d):
    """Stage the 2 micro-batch input files ONCE per (process, sf_dir)
    and reuse across invocations: the staging write is test harness
    setup — a real stream's input already sits on disk — so repeat
    bench runs should measure the pipeline, not the copy. 2 input
    files = 2 micro-batches under maxFilesPerTrigger=1; the second
    batch exercises the store equi-join path. Each half is written as
    its own single-file append: repartition(2, expr) hashes the
    expression value AGAIN, and hash(0)/hash(1) land in the same
    partition — that split produced one empty file and one full one,
    so the store join silently never ran. File names AND mtimes are
    pinned (the _stateful_staged_input pattern): two appends landing
    in the same mtime tick would leave batch order to path order over
    UUID-random part names, and the staged dir is cached per process,
    so a flipped order would persist across every run."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile
    path = _NEARDUP_STAGED_INPUT.get(sf_dir)
    if path is not None and os.path.isdir(path):
        return path
    in_dir = tempfile.mkdtemp(prefix='erde_neardup_in_')
    for k in (0, 1):
        tmp = os.path.join(in_dir, f'tmp{k}')
        (d.filter(F.pmod('doc_id', F.lit(2)) == k).coalesce(1)
         .write.mode('overwrite').parquet(tmp))
        part = glob.glob(os.path.join(tmp, 'part-*.parquet'))[0]
        dst = os.path.join(in_dir, f'batch-{k}.parquet')
        shutil.move(part, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (1_700_000_000 + k * 60,) * 2)
    _NEARDUP_STAGED_INPUT[sf_dir] = in_dir
    atexit.register(shutil.rmtree, in_dir, ignore_errors=True)
    return in_dir


def q_streaming_neardup_backfill(spark, sf_dir):
    """Bounded BACKFILL through the streaming near-dup pipeline: the
    documents table split into 2 deterministic micro-batch files, each
    batch deduped against itself and the persistent LSH signature store
    (bucket equi-join — never batch x whole-store), survivors appended.
    Returns the kept documents; rows-only (streaming + LSH recall, no
    SQL oracle)."""
    import os
    import shutil
    import tempfile

    from erde_spark.scale.dedup import streaming_neardup_dedup
    d = _t(spark, sf_dir, 'documents')['documents']
    in_dir = _neardup_staged_input(spark, sf_dir, d)
    base = tempfile.mkdtemp(prefix='erde_neardup_backfill_')
    streaming_neardup_dedup(
        spark, in_dir, d.schema,
        out_dir=os.path.join(base, 'out'),
        checkpoint_dir=os.path.join(base, 'ckpt'),
        state_dir=os.path.join(base, 'state'),
        threshold=0.9, max_files_per_trigger=1)
    # materialize the result off the temp files so the per-run working
    # tree (checkpoint, state, output) can be removed now instead of
    # leaking into /tmp per invocation (the staged input is shared
    # across runs and cleaned at exit)
    out = (spark.read.parquet(os.path.join(base, 'out'))
           .select('doc_id', 'lang').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_streaming_dedup_check(spark, sf_dir):
    """The streaming near-dup pipeline VALUE-checked by construction:
    every document's text is a deterministic hex-salad keyed by a
    group id, planted so that doc_id%6 in {0,1} forms CROSS-batch
    exact-copy pairs (min id in micro-batch 0, copy in batch 1 — only
    the persistent-store bucket join can catch these, so the gate
    proves that path executes), %6 in {2,4} and {3,5} form
    WITHIN-batch pairs in each micro-batch, and the rest are mutually
    dissimilar (cross-group Jaccard ~0, and exact-copy pairs share
    every LSH bucket, so the survivor set is deterministic regardless
    of hash seeds: precision is exact-Jaccard verified, recall is 1
    for identical texts). Survivors must be exactly doc_id%6 in
    {0,2,3} with byte-identical text — pure doc_id arithmetic for
    DuckDB. Complements the rows-only real-text backfill entry."""
    import glob
    import os
    import shutil
    import tempfile

    from erde_spark.scale.dedup import streaming_neardup_dedup
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    m6 = F.col('doc_id') % 6
    group = (F.when(m6 < 2, F.col('doc_id') - m6)
             .when((m6 == 2) | (m6 == 4),
                   F.col('doc_id') - m6 + 2)
             .when((m6 == 3) | (m6 == 5),
                   F.col('doc_id') - m6 + 3)
             .otherwise(F.col('doc_id')))
    salad = F.concat_ws(' ', F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.substring(
            F.md5(F.concat_ws('-', group.cast('string'),
                              i.cast('string'))), 1, 8)))
    docs = d.select('doc_id', salad.alias('text'),
                    F.lit('en').alias('lang'))
    base = tempfile.mkdtemp(prefix='erde_stream_dedup_gate_')
    in_dir = os.path.join(base, 'in')
    os.makedirs(in_dir)
    # batch 0 = even ids (each pair's min), batch 1 = odd ids; file
    # names AND mtimes force the file-stream source's batch order
    for k in (0, 1):
        tmp = os.path.join(base, f'tmp{k}')
        (docs.filter(F.pmod('doc_id', F.lit(2)) == k).coalesce(1)
         .write.mode('overwrite').parquet(tmp))
        part = glob.glob(os.path.join(tmp, 'part-*.parquet'))[0]
        dst = os.path.join(in_dir, f'batch-{k}.parquet')
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + k * 60,) * 2)
    streaming_neardup_dedup(
        spark, in_dir, docs.schema,
        out_dir=os.path.join(base, 'out'),
        checkpoint_dir=os.path.join(base, 'ckpt'),
        state_dir=os.path.join(base, 'state'),
        threshold=0.9, max_files_per_trigger=1)
    out = (spark.read.parquet(os.path.join(base, 'out'))
           .select('doc_id', F.md5('text').alias('text_md5'))
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return out


_STATEFUL_STAGED_INPUT: dict = {}


def _stateful_staged_input(spark, sf_dir, events):
    """Stage the stateful gate's 2 mtime-ordered micro-batch files once
    per (process, sf_dir) — same rationale as _neardup_staged_input:
    repeat runs should measure the pipeline, not the input copy. File
    names AND mtimes force the file-stream source's batch order."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile
    path = _STATEFUL_STAGED_INPUT.get(sf_dir)
    if path is not None and os.path.isdir(path):
        return path
    in_dir = tempfile.mkdtemp(prefix='erde_stateful_in_')
    for k in (0, 1):
        tmp = os.path.join(in_dir, f'tmp{k}')
        (events.filter(F.pmod('doc_id', F.lit(2)) == k).coalesce(1)
         .write.mode('overwrite').parquet(tmp))
        part = glob.glob(os.path.join(tmp, 'part-*.parquet'))[0]
        dst = os.path.join(in_dir, f'batch-{k}.parquet')
        shutil.move(part, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (1_700_000_000 + k * 60,) * 2)
    _STATEFUL_STAGED_INPUT[sf_dir] = in_dir
    atexit.register(shutil.rmtree, in_dir, ignore_errors=True)
    return in_dir


def q_events_stateful_check(spark, sf_dir):
    """applyInPandasWithState persistence VALUE-checked by construction
    (the streaming_dedup_check pattern, round-7 verdict ask #5): every
    document becomes an event (user_id = doc_id%40, integer-valued
    value = doc_id%97 — exactly representable, order-independent sums),
    split into 2 mtime-ordered micro-batch files so EVERY user has
    events in BOTH batches. running_user_stats emits cumulative
    (n_events, sum_value) per user per batch in update mode; the final
    max-per-user equals the corpus-wide totals ONLY if batch 2 read
    batch 1's persisted state (without persistence the max is the
    larger single-batch count, strictly below the total for every
    user). DuckDB's oracle is the plain GROUP BY arithmetic. Impl:
    erde_spark/streaming/stateful.py (reference has no stateful
    streaming — SURVEY.md §2.8 extension surface); complements the
    rows-only real-data events_stateful entry."""
    import os
    import shutil
    import tempfile

    from erde_spark.streaming.stateful import (run_stateful_batch,
                                               running_user_stats)
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    events = d.select((F.col('doc_id') % 40).alias('user_id'),
                      (F.col('doc_id') % 97).cast('double').alias('value'),
                      'doc_id')
    in_dir = _stateful_staged_input(spark, sf_dir, events)
    base = tempfile.mkdtemp(prefix='erde_stateful_gate_')
    # stateful shuffle sized to the data (40 users): at the session
    # default (cores) each of the 32 partitions pays a state-store
    # open/snapshot/commit plus an applyInPandasWithState Python
    # worker PER micro-batch — the same fixed fan-out the
    # stream_interval_join gate measured at 3-6x the query; at 100 TB
    # the same knob sizes UP for state volume (documented in
    # run_stateful_batch)
    out = run_stateful_batch(spark, events, running_user_stats, base,
                             src_dir=in_dir, max_files_per_trigger=1,
                             shuffle_partitions=8)
    res = (out.groupBy('user_id')
           .agg(F.max('n_events').alias('n_events'),
                F.max('sum_value').alias('sum_value'))
           .orderBy('user_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return res


_EVENTS_STATEFUL_CHECK_SQL = """
SELECT doc_id % 40 AS user_id,
       COUNT(*) AS n_events,
       CAST(SUM(doc_id % 97) AS DOUBLE) AS sum_value
FROM documents
GROUP BY 1
ORDER BY 1
"""


_STREAMING_DEDUP_CHECK_SQL = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 < 2 THEN doc_id - (doc_id % 6)
              WHEN doc_id % 6 IN (2, 4) THEN doc_id - (doc_id % 6) + 2
              ELSE doc_id - (doc_id % 6) + 3 END AS grp
  FROM documents)
SELECT doc_id,
       md5(array_to_string([substr(md5(grp || '-' || i), 1, 8)
                            FOR i IN generate_series(1, 30)], ' '))
         AS text_md5
FROM g
WHERE doc_id % 6 IN (0, 2, 3)
ORDER BY doc_id
"""


def q_backfill_resume_check(spark, sf_dir):
    """COLD-RESTART recovery of the streaming near-dup pipeline
    VALUE-checked by construction (round-9 verdict ask #5 — the
    backfill/recovery story of erde_spark/scale/dedup.py::
    streaming_neardup_dedup): run 1 ingests shard A (doc_id%4 in
    {0,1}, every text a unique hex salad) and terminates; shard B
    (doc_id%4 in {2,3}) is added and a SECOND invocation resumes from
    the same checkpoint + parquet state store. %4==2 docs are exact
    copies of the %4==0 doc in the same 4-block — they can only be
    dropped if the restarted query (a) skips already-processed shard A
    via the source checkpoint and (b) joins the new batch against the
    state persisted by the DEAD run. If shard A were reprocessed its
    docs would duplicate in the output (row-count mismatch); if the
    store were lost the copies would survive (value mismatch).
    Survivors are pure doc_id arithmetic: everything except %4==2 docs
    whose copy source exists, with byte-identical text replayed by
    DuckDB."""
    import glob
    import os
    import shutil
    import tempfile

    from erde_spark.scale.dedup import streaming_neardup_dedup
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    m4 = F.col('doc_id') % 4
    group = F.when((m4 == 0) | (m4 == 2),
                   F.col('doc_id') - m4).otherwise(F.col('doc_id'))
    salad = F.concat_ws(' ', F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.substring(
            F.md5(F.concat_ws('-', group.cast('string'),
                              i.cast('string'))), 1, 8)))
    docs = d.select('doc_id', salad.alias('text'),
                    F.lit('en').alias('lang'))
    base = tempfile.mkdtemp(prefix='erde_backfill_resume_')
    in_dir = os.path.join(base, 'in')
    os.makedirs(in_dir)

    def _stage(k, cond):
        tmp = os.path.join(base, f'tmp{k}')
        docs.filter(cond).coalesce(1) \
            .write.mode('overwrite').parquet(tmp)
        part = glob.glob(os.path.join(tmp, 'part-*.parquet'))[0]
        dst = os.path.join(in_dir, f'shard-{k}.parquet')
        shutil.move(part, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (1_700_000_000 + k * 60,) * 2)

    kw = dict(out_dir=os.path.join(base, 'out'),
              checkpoint_dir=os.path.join(base, 'ckpt'),
              state_dir=os.path.join(base, 'state'),
              threshold=0.9, max_files_per_trigger=1)
    _stage(0, m4 < 2)
    # run 1: shard A only; the returned query has terminated
    # (availableNow) before run 2 starts — a genuine dead process as
    # far as the checkpoint and the parquet state store are concerned
    streaming_neardup_dedup(spark, in_dir, docs.schema, **kw)
    _stage(1, m4 >= 2)
    streaming_neardup_dedup(spark, in_dir, docs.schema, **kw)
    out = (spark.read.parquet(os.path.join(base, 'out'))
           .select('doc_id', F.md5('text').alias('text_md5'))
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return out


_BACKFILL_RESUME_SQL = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 IN (0, 2) THEN doc_id - (doc_id % 4)
              ELSE doc_id END AS grp
  FROM documents)
SELECT doc_id,
       md5(array_to_string([substr(md5(grp || '-' || i), 1, 8)
                            FOR i IN generate_series(1, 30)], ' '))
         AS text_md5
FROM g
WHERE doc_id % 4 <> 2
   OR NOT EXISTS (SELECT 1 FROM documents d2
                  WHERE d2.doc_id = g.doc_id - 2)
ORDER BY doc_id
"""


def q_audio_features(spark, sf_dir):
    """Audio DSP features (RMS / zero-cross rate / spectral centroid)
    over REAL WAV blobs synthesized deterministically per document
    (sine tone, frequency derived from doc_id). Rows-only — DuckDB
    cannot decode WAV (feature math pinned on sine fixtures in
    tests/test_scale.py)."""
    import pandas as pd

    from erde_spark.scale.multimodal import ASSET_SCHEMA, audio_features
    from erde_spark.session import spread_to_cores
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')

    def _synth(batches):
        import numpy as np

        from erde_spark.scale.png import encode_wav
        sr = 8000
        t = np.arange(sr // 5) / sr          # 0.2 s per asset
        for pdf in batches:
            rows = []
            for did in pdf['doc_id']:
                freq = 200.0 + (int(did) % 20) * 100.0
                x = (0.4 * np.sin(2 * np.pi * freq * t)
                     * 32767).astype(np.int16)
                blob = encode_wav(x[:, None], framerate=sr)
                rows.append((int(did), bytearray(blob),
                             ('audio/wav', None, None, len(blob))))
            yield pd.DataFrame(rows, columns=['asset_id', 'media', 'meta'])

    assets = spread_to_cores(d).mapInPandas(_synth, schema=ASSET_SCHEMA)
    return (audio_features(assets, sample_rate=8000)
            .select('asset_id', 'n_frames',
                    F.round('rms', 4).alias('rms'),
                    F.round('zero_cross_rate', 4).alias('zcr'),
                    F.round('spectral_centroid_hz', 1).alias('centroid_hz')))


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary media column -> mapInPandas feature
    extraction with the deterministic fake decoder (no SQL oracle; driver
    rows-only check; q_multimodal_features_check is the value-checked
    companion over real PNGs)."""
    from erde_spark.scale.multimodal import extract_features, synthesize_assets
    from erde_spark.session import spread_to_cores
    d = _t(spark, sf_dir, 'documents')['documents']
    return extract_features(synthesize_assets(spread_to_cores(d)), fake=True) \
        .select('asset_id', F.round('feat_mean', 4).alias('feat_mean'),
                F.round('feat_std', 4).alias('feat_std'))


def q_audio_features_check(spark, sf_dir):
    """Audio DSP features VALUE-checked against closed-form IEEE-exact
    expectations (round-7 verdict ask #6): each document becomes a REAL
    int16 WAV square wave of 160 samples, amplitude 16384 (normalizes
    to EXACTLY +-0.5), half-period h = 1 + doc_id%4 samples. RMS is
    then exactly 0.5 (sqrt of the exact double 0.25) and the
    zero-crossing rate exactly floor(159/h)/159 — both reproducible
    bit-for-bit by DuckDB arithmetic, UNROUNDED. A green row certifies
    the WAV container round-trip (erde_spark/scale/png.py encode path,
    multimodal.py decode), int16 [-1,1) normalization, mono mixdown,
    framing, and the RMS/ZCR kernels. The sine-tone run with the
    spectral centroid (no closed form) stays the rows-only
    audio_features entry. Impl: erde_spark/scale/multimodal.py."""
    import pandas as pd

    from erde_spark.scale.multimodal import ASSET_SCHEMA, audio_features
    from erde_spark.session import spread_to_cores
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')

    def _synth(batches):
        import numpy as np

        from erde_spark.scale.png import encode_wav
        n = 160
        i = np.arange(n)
        for pdf in batches:
            rows = []
            for did in pdf['doc_id']:
                h = 1 + int(did) % 4
                sign = 1 - 2 * ((i // h) % 2)
                x = (16384 * sign).astype(np.int16)
                blob = encode_wav(x[:, None], framerate=8000)
                rows.append((int(did), bytearray(blob),
                             ('audio/wav', None, None, len(blob))))
            yield pd.DataFrame(rows, columns=['asset_id', 'media', 'meta'])

    assets = spread_to_cores(d).mapInPandas(_synth, schema=ASSET_SCHEMA)
    return (audio_features(assets, sample_rate=8000)
            .select('asset_id', 'n_frames', 'rms',
                    F.col('zero_cross_rate').alias('zcr'))
            .orderBy('asset_id'))


_AUDIO_CHECK_SQL = """
SELECT doc_id AS asset_id,
       CAST(160 AS BIGINT) AS n_frames,
       CAST(0.5 AS DOUBLE) AS rms,
       CAST(159 // (1 + doc_id % 4) AS DOUBLE) / 159 AS zcr
FROM documents
ORDER BY doc_id
"""


def q_multimodal_features_check(spark, sf_dir):
    """Image feature extraction VALUE-checked end to end over REAL
    PNGs with closed-form pixel statistics (round-7 verdict ask #6):
    each document gets a 32x32 grayscale PNG whose top half is
    v1 = 10 + doc_id%50 and bottom half v1 + 2*(1 + doc_id%30) — an
    even split with an even delta, so the raveled mean (integer sum /
    2^10) and std (sqrt of a perfect square) are IEEE-EXACT doubles,
    as are the first/last of the 8 pooled slice means (each slice lies
    wholly in one half). Hash-compared UNROUNDED against DuckDB's
    direct arithmetic — a green row certifies the PNG encode+decode
    round trip and the whole mapInPandas featurize path. Impl:
    erde_spark/scale/multimodal.py, png.py."""
    import pandas as pd

    from erde_spark.scale.multimodal import ASSET_SCHEMA, extract_features
    from erde_spark.session import spread_to_cores
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')

    def _mk(batches):
        import numpy as np

        from erde_spark.scale.png import encode_png
        for pdf in batches:
            ids, blobs, metas = [], [], []
            for did in pdf['doc_id']:
                v1 = 10 + int(did) % 50
                v2 = v1 + 2 * (1 + int(did) % 30)
                img = np.full((32, 32), v1, dtype=np.uint8)
                img[16:, :] = v2
                blob = encode_png(img)
                ids.append(int(did))
                blobs.append(bytearray(blob))
                metas.append(('image/png', 32, 32, len(blob)))
            yield pd.DataFrame({'asset_id': ids, 'media': blobs,
                                'meta': metas})

    assets = spread_to_cores(d).mapInPandas(_mk, schema=ASSET_SCHEMA)
    return (extract_features(assets)
            .select('asset_id', 'feat_mean', 'feat_std',
                    F.element_at('features', 1).alias('feat_first'),
                    F.element_at('features', 8).alias('feat_last'))
            .orderBy('asset_id'))


_MULTIMODAL_CHECK_SQL = """
WITH v AS (SELECT doc_id,
                  CAST(10 + doc_id % 50 AS DOUBLE) AS v1,
                  CAST(10 + doc_id % 50
                       + 2 * (1 + doc_id % 30) AS DOUBLE) AS v2
           FROM documents)
SELECT doc_id AS asset_id,
       (v1 + v2) / 2 AS feat_mean,
       (v2 - v1) / 2 AS feat_std,
       v1 AS feat_first,
       v2 AS feat_last
FROM v
ORDER BY doc_id
"""


def q_image_phash_dedup(spark, sf_dir):
    """Image near-duplicate dedup over REAL PNG blobs, value-oracled by
    construction (the ``geo_transform_families`` style of oracle): each
    document gets a 32x32 image whose visual class is ``doc_id % 40`` —
    a class-seeded sinusoid base, plus a tiny class-seeded noise delta
    when ``doc_id % 3 == 0`` (a near-duplicate, not an exact one). The
    pipeline PNG-encodes every image, decodes + pHashes via
    ``mapInPandas``, finds Hamming<=8 pairs with the Manku multi-block
    band join, runs connected components, and reports the cluster-size
    histogram. Distinct classes sit ~32 bits apart (random low-freq
    content) while intra-class perturbations stay well inside 8 bits,
    so clusters == classes and the histogram is predictable from
    ``doc_id`` arithmetic alone — the DuckDB oracle computes it straight
    from ``doc_id % 40``. A green row therefore certifies the PNG codec,
    the pHash kernel, the banded Hamming join, and CC in one check."""
    from erde_spark.scale.imagehash import image_dedup_clusters, image_hashes
    from erde_spark.scale.multimodal import ASSET_SCHEMA
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')

    def _mk(batches):
        import numpy as np
        import pandas as pd
        from erde_spark.scale.png import encode_png
        cache = {}
        for pdf in batches:
            ids, blobs, metas = [], [], []
            for did in pdf['doc_id']:
                did = int(did)
                c = did % 40
                key = (c, did % 3 == 0)
                if key not in cache:
                    rng = np.random.RandomState(1000 + c)
                    y, x = np.mgrid[0:32, 0:32].astype(np.float64)
                    img = (90
                           + 60 * np.sin(2 * np.pi * (rng.uniform(.5, 3.) * x / 32
                                                      + rng.uniform(.5, 3.) * y / 32)))
                    # rectangle patches give each class distinctive
                    # low-freq content: measured intra-class pHash
                    # distance <= 6, cross-class >= 12 over all 40
                    # classes (threshold 8 sits mid-gap; deterministic)
                    for _ in range(4):
                        y0, x0 = rng.randint(0, 24, 2)
                        hh, ww = rng.randint(6, 16, 2)
                        img[y0:y0 + hh, x0:x0 + ww] += rng.uniform(-70, 70)
                    if key[1]:
                        nrng = np.random.RandomState(5000 + c)
                        img = img + nrng.randint(-4, 5, img.shape)
                    cache[key] = encode_png(np.clip(img, 0, 255).astype(np.uint8))
                ids.append(did)
                blobs.append(cache[key])
                metas.append({'format': 'image/png', 'width': 32,
                              'height': 32, 'n_bytes': len(cache[key])})
            yield pd.DataFrame({'asset_id': ids, 'media': blobs, 'meta': metas})

    assets = d.mapInPandas(_mk, schema=ASSET_SCHEMA)
    comp = image_dedup_clusters(image_hashes(assets), max_hamming=8)
    sizes = (comp.groupBy('hash_component')
             .agg(F.count(F.lit(1)).alias('cluster_size')))
    return (sizes.groupBy('cluster_size')
            .agg(F.count(F.lit(1)).alias('n_clusters'))
            .orderBy('cluster_size'))


_IMAGE_PHASH_SQL = """
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM (SELECT doc_id % 40 AS c, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM documents GROUP BY doc_id % 40)
GROUP BY cluster_size
ORDER BY cluster_size
"""


#: HTML wrapper fragments shared VERBATIM by the Spark query and the
#: DuckDB oracle builder — interleaved with doc_id, lang, text, doc_id.
#: Deliberately hostile: script body with a bare '<' and an entity,
#: style payload, a comment, mixed-case attributes, nested list markup.
_HTML_FRAGS = (
    '<html><head><title>Doc ',
    '</title><style>p { color: #333; }</style></head><body>'
    '<script type="text/javascript">if (1 < 2) { var x = "&amp;"; }'
    '</script><!-- crawl artifact --><h1>',
    '</h1><p>',
    '</p><ul><li><a href="https://example.com/',
    '">one</a></li><li><A HREF="https://example.org/page?x=1&amp;y=2">two'
    '</A></li></ul></body></html>',
)


def q_html_extract(spark, sf_dir):
    """HTML-to-text extraction, oracle-checked to the byte: every
    document is wrapped in a hostile HTML shell (script with a bare
    '<' and an entity, style payload, comments, mixed-case href), then
    the whole-stage-codegen regex chain in
    :mod:`erde_spark.scale.html` strips it back to visible text. The
    DuckDB oracle replays the IDENTICAL pattern sequence (RE2 and Java
    agree on the restricted dialect the module commits to), so the
    md5 of the extracted text certifies the full chain char-for-char —
    tag stripping, entity decoding, whitespace normalization, title
    and link extraction."""
    from erde_spark.scale.html import html_extract
    d = _t(spark, sf_dir, 'documents')['documents']
    f = _HTML_FRAGS
    html = F.concat(
        F.lit(f[0]), F.col('doc_id').cast('string'), F.lit(f[1]),
        F.col('lang'), F.lit(f[2]), F.col('text'), F.lit(f[3]),
        F.col('doc_id').cast('string'), F.lit(f[4]))
    out = html_extract(d.select('doc_id', html.alias('html')), 'html')
    return out.select(
        'doc_id', 'title',
        F.col('n_links').cast('long').alias('n_links'),
        F.md5('text').alias('text_md5'),
        F.length('text').cast('long').alias('text_len'),
        'text_ratio')


def _html_sql() -> str:
    from erde_spark.scale.html import (HREF_PATTERN, TITLE_PATTERN,
                                       duckdb_text_sql)
    f = _HTML_FRAGS

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    html = (f"{lit(f[0])} || CAST(doc_id AS VARCHAR) || {lit(f[1])} || lang"
            f" || {lit(f[2])} || text || {lit(f[3])}"
            f" || CAST(doc_id AS VARCHAR) || {lit(f[4])}")
    return f"""
WITH h AS (SELECT doc_id, {html} AS html FROM documents),
t AS (SELECT doc_id, html, {duckdb_text_sql('html')} AS text FROM h)
SELECT doc_id,
       trim(regexp_extract(html, {lit(TITLE_PATTERN)}, 1)) AS title,
       CAST(len(regexp_extract_all(html, {lit(HREF_PATTERN)}, 1)) AS BIGINT)
         AS n_links,
       md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS text_len,
       ROUND(length(text) / greatest(length(html), 1), 4) AS text_ratio
FROM t
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): score every document
    by the log-ratio of add-0.5-smoothed hashed-unigram+bigram models of
    the English slice (target) vs the whole corpus (raw). md5-prefix
    buckets make the hash identical across engines, so the DuckDB oracle
    reproduces the weights to 4 decimals — certifying feature
    construction, bucket counting, smoothing, and the broadcast
    ratio-join in one row."""
    from erde_spark.scale.dsir import dsir_logweights
    d = _t(spark, sf_dir, 'documents')['documents']
    w = dsir_logweights(d, d.filter(F.col('lang') == 'en'))
    return w.select('id', 'n_feats',
                    F.round('log_weight', 4).alias('log_weight'))


_DSIR_SQL = """
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x != '') AS toks
  FROM documents),
feat AS (
  SELECT doc_id, substr(md5(f), 1, 4) AS bucket
  FROM (SELECT doc_id,
          unnest(list_concat(toks,
            CASE WHEN len(toks) >= 2
                 THEN list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])
                 ELSE [] END)) AS f
        FROM tok)),
tfeat AS (SELECT f.* FROM feat f JOIN documents d USING (doc_id)
          WHERE d.lang = 'en'),
rawc AS (SELECT bucket, COUNT(*) AS n FROM feat GROUP BY bucket),
tgtc AS (SELECT bucket, COUNT(*) AS n FROM tfeat GROUP BY bucket),
rt AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM rawc),
tt AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM tgtc),
ratio AS (SELECT r.bucket,
       ln((COALESCE(t.n, 0) + 0.5) / (tt.tot + 0.5 * 65536))
     - ln((r.n + 0.5) / (rt.tot + 0.5 * 65536)) AS lr
   FROM rawc r LEFT JOIN tgtc t USING (bucket), rt, tt),
pd AS (SELECT f.doc_id, COUNT(*) AS nf, SUM(ratio.lr) AS w
       FROM feat f JOIN ratio USING (bucket) GROUP BY f.doc_id)
SELECT d.doc_id AS id, CAST(COALESCE(pd.nf, 0) AS BIGINT) AS n_feats,
       ROUND(COALESCE(pd.w, 0.0), 4) AS log_weight
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
"""


def q_video_metadata(spark, sf_dir):
    """Video-curation metadata pass over REAL ISO-BMFF containers,
    value-oracled by construction: each document gets a genuine MP4
    (ftyp/moov/trak/stbl/mdat, built by the stub encoder) whose frame
    count, fps and resolution are ``doc_id`` arithmetic. The pipeline
    parses every container (box walk, mvhd/tkhd/stsd/stts/stsz/stco),
    plans every-5th-frame byte ranges, and reports per-asset metadata +
    sampled-frame count — all predictable in SQL, so a green row
    certifies the encoder/parser/range-planner agreement end-to-end."""
    from erde_spark.scale.mp4 import frame_sample_ranges, mp4_metadata
    from erde_spark.scale.multimodal import ASSET_SCHEMA
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')

    def _mk(batches):
        import pandas as pd
        from erde_spark.scale.mp4 import encode_mp4_stub
        cache = {}
        for pdf in batches:
            ids, blobs, metas = [], [], []
            for did in pdf['doc_id']:
                did = int(did)
                key = (12 + did % 20, 64 + (did % 3) * 16)
                if key not in cache:
                    cache[key] = encode_mp4_stub(
                        n_frames=key[0], fps=12, width=key[1], height=48,
                        frame_bytes=24)
                ids.append(did)
                blobs.append(cache[key])
                metas.append({'format': 'video/mp4', 'width': key[1],
                              'height': 48, 'n_bytes': len(cache[key])})
            yield pd.DataFrame({'asset_id': ids, 'media': blobs, 'meta': metas})

    assets = d.mapInPandas(_mk, schema=ASSET_SCHEMA).localCheckpoint()
    meta = mp4_metadata(assets)
    sampled = (frame_sample_ranges(assets, every_n=5)
               .groupBy('asset_id')
               .agg(F.count(F.lit(1)).alias('n_sampled'),
                    F.sum('byte_size').alias('sampled_bytes')))
    return (meta.join(sampled, 'asset_id')
            .select('asset_id', 'brand', 'video_codec', 'width', 'n_frames',
                    F.round('duration_sec', 4).alias('duration_sec'),
                    F.col('n_sampled').cast('long').alias('n_sampled'),
                    F.col('sampled_bytes').cast('long').alias('sampled_bytes')))


_VIDEO_META_SQL = """
SELECT doc_id AS asset_id, 'isom' AS brand, 'avc1' AS video_codec,
       CAST(64 + (doc_id % 3) * 16 AS INT) AS width,
       CAST(12 + doc_id % 20 AS BIGINT) AS n_frames,
       ROUND((12 + doc_id % 20) / 12.0, 4) AS duration_sec,
       CAST(CEIL((12 + doc_id % 20) / 5.0) AS BIGINT) AS n_sampled,
       CAST(CEIL((12 + doc_id % 20) / 5.0) * 24 AS BIGINT) AS sampled_bytes
FROM documents
"""


def q_bpe_train_merges(spark, sf_dir):
    """Full BPE tokenizer training (30 merges) on the corpus's
    distinct-word table — the iterative trainer behind bpe_pair_stats
    (which is its round-1 aggregation). No SQL oracle: the merge loop is
    inherently iterative; both training paths are pinned against an
    independent straight-from-the-paper reference in tests/test_bpe.py
    (driver rows-only check)."""
    from erde_spark.scale.bpe import bpe_train, merges_df
    d = _t(spark, sf_dir, 'documents')['documents']
    return merges_df(spark, bpe_train(d, n_merges=30))


def q_bpe_merges_check(spark, sf_dir):
    """BPE training VALUE-checked by a closed-form greedy replay
    (round-7 verdict ask #6): every document's text becomes the same
    engineered word multiset ('aaaa' x3, 'bbb' x2, 'ab', 'cd', 'ce'),
    so with N documents the full greedy trace is arithmetic —
    rank 0 (a,a) at 9N (adjacent-pair counting inside 'aaaa'),
    rank 1 (b,b) at 4N, rank 2 (aa,aa) at 3N (non-overlapping merge
    application), rank 3 (bb,b) at 2N, then the three-way tie at N
    resolved lexicographically (a,b) < (c,d) < (c,e), and training
    stops at 7 merges though 10 were requested (early stop on empty
    pair stats). One wrong count, tie-break, merge application, or a
    missing stop turns the gate red; DuckDB's oracle is the trace
    itself with N = COUNT(*). The real-corpus run stays the rows-only
    bpe_train_merges entry; both training paths are additionally
    pinned against a straight-from-the-paper reference in
    tests/test_bpe.py. Impl: erde_spark/scale/bpe.py."""
    from erde_spark.scale.bpe import bpe_train, merges_df
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    docs = d.select(
        'doc_id', F.lit('aaaa aaaa aaaa bbb bbb ab cd ce').alias('text'))
    return merges_df(spark, bpe_train(docs, n_merges=10)).orderBy('rank')


_BPE_MERGES_CHECK_SQL = """
WITH n AS (SELECT COUNT(*) AS c FROM documents)
SELECT * FROM (
  SELECT 0 AS rank, 'a' AS "left", 'a' AS "right", 'aa' AS merged,
         9 * c AS count FROM n
  UNION ALL SELECT 1, 'b', 'b', 'bb', 4 * c FROM n
  UNION ALL SELECT 2, 'aa', 'aa', 'aaaa', 3 * c FROM n
  UNION ALL SELECT 3, 'bb', 'b', 'bbb', 2 * c FROM n
  UNION ALL SELECT 4, 'a', 'b', 'ab', c FROM n
  UNION ALL SELECT 5, 'c', 'd', 'cd', c FROM n
  UNION ALL SELECT 6, 'c', 'e', 'ce', c FROM n
) ORDER BY rank
"""


def q_passage_dedup(spark, sf_dir):
    """Exact passage-level duplication report (Lee et al. 2022 shape):
    per document, how many of its non-overlapping 20-token passages
    appear anywhere else in the corpus. Catches boilerplate shared
    between otherwise-distinct pages that document-level dedup never
    sees. Fully DuckDB-oracled (window construction replays as list
    slicing)."""
    from erde_spark.scale.dedup import passage_dedup_report
    d = _t(spark, sf_dir, 'documents')['documents']
    return passage_dedup_report(d)


_PASSAGE_DEDUP_SQL = """
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x != '') AS toks
  FROM documents),
win AS (
  SELECT doc_id,
         array_to_string(toks[w * 20 + 1 : (w + 1) * 20], ' ') AS passage
  FROM (SELECT doc_id, toks,
               unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS w
        FROM tok WHERE len(toks) > 0)),
c AS (SELECT passage, COUNT(*) AS n_occ FROM win GROUP BY passage),
pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
              CAST(SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup_passages
       FROM win JOIN c USING (passage) GROUP BY doc_id)
SELECT d.doc_id AS id,
       COALESCE(pd.n_passages, 0) AS n_passages,
       COALESCE(pd.n_dup_passages, 0) AS n_dup_passages
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
"""


def q_dedup_against_snapshot(spark, sf_dir):
    """Snapshot-over-snapshot dedup (exact tier): treat every 5th
    document as last month's corpus and keep only current docs whose
    normalized fingerprint it doesn't already contain. The incremental
    ingest primitive; near tier is rows-only (LSH recall) and
    pytest-pinned."""
    from erde_spark.scale.dedup import dedup_against
    d = _t(spark, sf_dir, 'documents')['documents']
    ref = d.filter(F.col('doc_id') % 5 == 0)
    cur = d.filter(F.col('doc_id') % 5 != 0)
    return dedup_against(cur, ref).select('doc_id', 'lang')


_DEDUP_AGAINST_SQL = """
WITH fp AS (SELECT doc_id, lang,
              md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
            FROM documents),
ref AS (SELECT DISTINCT f FROM fp WHERE doc_id % 5 = 0)
SELECT doc_id, lang FROM fp
WHERE doc_id % 5 != 0 AND f NOT IN (SELECT f FROM ref)
"""


def q_split_no_leakage(spark, sf_dir):
    """Duplicate-aware train/val/test split: the split key is the
    content fingerprint, so byte-identical documents can never straddle
    train and eval. Assignment = md5-prefix range over the fingerprint
    (the sample_hash machinery keyed on content instead of id) — fully
    deterministic, so the oracle reproduces every row's split."""
    from erde_spark.scale.sampling import split_no_leakage
    d = _t(spark, sf_dir, 'documents')['documents']
    return (split_no_leakage(d, {'train': 0.8, 'val': 0.1, 'test': 0.1})
            .select('doc_id', 'split'))


_SPLIT_NO_LEAKAGE_SQL = """
WITH k AS (SELECT doc_id,
             substr(md5(md5(regexp_replace(trim(lower(text)), '\\s+', ' ',
                                           'g'))), 1, 4) AS key
           FROM documents)
SELECT doc_id,
       CASE WHEN key < 'cccc' THEN 'train'
            WHEN key < 'e666' THEN 'val'
            ELSE 'test' END AS split
FROM k
"""


def q_media_decode_mixed(spark, sf_dir):
    """End-to-end decode across ALL the real image-codec tiers: each
    document gets a blob in the format picked by ``doc_id % 9`` (PNG,
    baseline JPEG, GIF, strip TIFF-LZW, TILED TIFF, 16-BIT TIFF, VP8L
    WebP — every one encoded by the repo's own fixture encoders from a
    class-seeded image — plus LOSSY VP8 WebP via the system libwebp
    binding and ARITHMETIC-coded JPEG via the compiled libjpeg shim),
    decoded for real through ``extract_features``'s mapInPandas path.
    Output is the per-format (n_assets, n_decoded) table; the oracle
    predicts it from doc_id arithmetic — a red row means some format
    failed to decode, so this is the codec-regression canary in the
    gate."""
    from erde_spark.scale.multimodal import ASSET_SCHEMA, extract_features
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    fmts = ['png', 'jpeg', 'gif', 'tiff', 'webp', 'webp_lossy',
            'jpeg_arith', 'tiff_tiled', 'tiff16']

    def _mk(batches):
        import numpy as np
        import pandas as pd
        from erde_spark.scale.gif import encode_gif
        from erde_spark.scale.jpeg import encode_jpeg
        from erde_spark.scale.png import encode_png
        from erde_spark.scale.tiff import encode_tiff
        from erde_spark.scale.webp import encode_webp
        from erde_spark.scale.jpeg_native import encode_jpeg_arith
        from erde_spark.scale.webp_native import encode_webp_lossy
        enc = {'png': lambda a: encode_png(a),
               'jpeg': lambda a: encode_jpeg(a, quality=85),
               'gif': lambda a: encode_gif(a[:, :, 0]),
               'tiff': lambda a: encode_tiff(a, compression=5),
               'webp': lambda a: encode_webp(a, subtract_green=True),
               'webp_lossy': lambda a: encode_webp_lossy(a, quality=90),
               'jpeg_arith': lambda a: encode_jpeg_arith(a, quality=88),
               'tiff_tiled': lambda a: encode_tiff(
                   a, compression=5, tiled=16, predictor=True),
               'tiff16': lambda a: encode_tiff(
                   (a.astype(np.uint16) << 8) | a, big_endian=True)}
        cache = {}
        for pdf in batches:
            ids, blobs, metas = [], [], []
            for did in pdf['doc_id']:
                did = int(did)
                fmt = fmts[did % 9]
                key = (fmt, did % 8)
                if key not in cache:
                    rng = np.random.RandomState(100 + did % 8)
                    y, x = np.mgrid[0:24, 0:24].astype(np.float64)
                    img = np.clip(110 + 70 * np.sin(
                        2 * np.pi * (rng.uniform(.5, 2.) * x / 24
                                     + rng.uniform(.5, 2.) * y / 24)),
                        0, 255).astype(np.uint8)
                    cache[key] = enc[fmt](np.stack([img] * 3, axis=2))
                ids.append(did)
                blobs.append(cache[key])
                mime = ('image/webp' if 'webp' in fmt else
                        'image/jpeg' if 'jpeg' in fmt else
                        'image/tiff' if 'tiff' in fmt else
                        'image/' + fmt)
                metas.append({'format': mime, 'width': 24,
                              'height': 24, 'n_bytes': len(cache[key])})
            yield pd.DataFrame({'asset_id': ids, 'media': blobs,
                                'meta': metas})

    assets = d.mapInPandas(_mk, schema=ASSET_SCHEMA)
    feats = extract_features(assets, on_error='null')
    fmt_of = F.element_at(F.array(*[F.lit(f) for f in fmts]),
                          (F.col('asset_id') % 9 + 1).cast('int'))
    return (feats.select(fmt_of.alias('fmt'),
                         F.col('feat_mean').isNotNull().alias('ok'))
            .groupBy('fmt')
            .agg(F.count(F.lit(1)).alias('n_assets'),
                 F.sum(F.when(F.col('ok'), 1).otherwise(0)).cast('long')
                 .alias('n_decoded'))
            .orderBy('fmt'))


_MEDIA_DECODE_SQL = """
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(COUNT(*) AS BIGINT) AS n_decoded
FROM (SELECT ['png', 'jpeg', 'gif', 'tiff', 'webp', 'webp_lossy',
              'jpeg_arith', 'tiff_tiled', 'tiff16'][doc_id % 9 + 1] AS fmt
      FROM documents)
GROUP BY fmt
ORDER BY fmt
"""


def q_domain_filter(spark, sf_dir):
    """URL blocklist gate: every document gets a synthetic source URL
    whose host rotates over 7 names by doc_id arithmetic; the deny list
    drops two of them (with subdomain matching — 'tracker.ads.example'
    falls to the listed 'ads.example'). Oracle predicts the surviving
    (doc_id, domain) set exactly."""
    from erde_spark.scale.text import filter_by_domain, url_domain
    hosts = ['good', 'spam', 'ads', 'news', 'shop', 'blog', 'mail']
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    host = F.element_at(F.array(*[F.lit(h) for h in hosts]),
                        (F.col('doc_id') % 7 + 1).cast('int'))
    sub = F.when(F.col('doc_id') % 3 == 0, F.lit('tracker.')).otherwise(F.lit(''))
    df = d.select('doc_id', F.concat(F.lit('https://'), sub, host,
                                     F.lit('.example/p/'),
                                     F.col('doc_id').cast('string'))
                  .alias('url'))
    out = filter_by_domain(df, deny=['spam.example', 'ads.example'])
    return out.select('doc_id', url_domain('url').alias('domain'))


_DOMAIN_FILTER_SQL = """
SELECT doc_id,
       (CASE WHEN doc_id % 3 = 0 THEN 'tracker.' ELSE '' END)
         || ['good', 'spam', 'ads', 'news', 'shop', 'blog',
             'mail'][doc_id % 7 + 1] || '.example' AS domain
FROM documents
WHERE ['good', 'spam', 'ads', 'news', 'shop', 'blog',
       'mail'][doc_id % 7 + 1] NOT IN ('spam', 'ads')
"""


# ================================================================ contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: spatial aggregate of customer-point demand per
    nation rectangle at sf0.001 (exercises geometry synthesis, the grid
    spatial join, and groupBy aggregation end-to-end)."""
    return q_sagg_rect_demand(spark, SF_DEFAULT)


def q_warc_ingest(spark, sf_dir):
    """WARC crawl round trip through the REAL product source AND sink,
    value-oracled by construction: every document becomes a
    ``conversion`` record (``target-uri = https://fixture.example/
    <doc_id>``), ``write_warc`` exports the corpus as per-partition
    gzip segments, and ``read_warc`` streams them back through the
    path-only binaryFile listing + in-task record parser, bridged by
    ``warc_to_documents``. The check aggregates by a URI-derived
    partition key (so it is independent of physical segment layout):
    record count, total chars, and an md5 over the source-ordered
    concatenated texts — byte-exact payload+URI round trip, computable
    by DuckDB straight from ``documents``. Covers reference
    crawl-ingest parity (ISO 28500); see erde_spark/io/warc.py."""
    import os
    import tempfile

    from erde_spark.io.warc import read_warc, warc_to_documents, write_warc
    d = (_t(spark, sf_dir, 'documents')['documents']
         .select('doc_id', 'text').where(F.col('text').isNotNull()))
    out_dir = os.path.join(
        tempfile.gettempdir(),
        'erde_warc_gate_' + os.path.basename(sf_dir.rstrip('/')) + '.warc')
    export = d.select(
        'text',
        F.concat(F.lit('https://fixture.example/'),
                 F.col('doc_id').cast('string')).alias('source'))
    write_warc(export.repartition(8), out_dir, mode='overwrite')

    docs = warc_to_documents(read_warc(out_dir, spark))
    seg_no = F.pmod(F.regexp_extract('source', r'/(\d+)$', 1).cast('long'),
                    F.lit(8))
    ordered_texts = F.transform(
        F.array_sort(F.collect_list(F.struct('source', 'text'))),
        lambda s: s['text'])
    return (docs.groupBy(seg_no.alias('segment_no'))
            .agg(F.count(F.lit(1)).alias('n_records'),
                 F.sum('n_chars').alias('sum_chars'),
                 F.md5(F.concat_ws('|', ordered_texts)).alias('content_md5'))
            .orderBy('segment_no'))


_WARC_INGEST_SQL = """
SELECT doc_id % 8 AS segment_no,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
       md5(string_agg(text, '|' ORDER BY source)) AS content_md5
FROM (SELECT doc_id, text,
             'https://fixture.example/' || CAST(doc_id AS VARCHAR) AS source
      FROM documents WHERE text IS NOT NULL)
GROUP BY doc_id % 8
ORDER BY segment_no
"""


_WARC_STREAM_STAGED_INPUT: dict = {}


def _warc_stream_staged_input(spark, sf_dir):
    """Stage the streaming-ingest gate's multi-segment WARC export once
    per (process, sf_dir) — a real crawl's WARC segments already sit on
    disk, so repeat bench runs should measure the file-stream source +
    streaming record parser + documents bridge, not the export copy
    (the _neardup_staged_input rationale; the EXPORT side stays fully
    measured by the batch ``warc_ingest`` gate every run)."""
    import atexit
    import shutil
    import tempfile

    from erde_spark.io.warc import write_warc
    path = _WARC_STREAM_STAGED_INPUT.get(sf_dir)
    if path is not None and os.path.isdir(path):
        return path
    d = (_t(spark, sf_dir, 'documents')['documents']
         .select('doc_id', 'text').where(F.col('text').isNotNull()))
    in_dir = tempfile.mkdtemp(prefix='erde_warc_stream_in_') \
        + '/segments.warc'
    export = d.select(
        'text',
        F.concat(F.lit('https://fixture.example/'),
                 F.col('doc_id').cast('string')).alias('source'))
    write_warc(export.repartition(8), in_dir, mode='overwrite')
    _WARC_STREAM_STAGED_INPUT[sf_dir] = in_dir
    atexit.register(shutil.rmtree, os.path.dirname(in_dir),
                    ignore_errors=True)
    return in_dir


def q_warc_stream_ingest(spark, sf_dir):
    """The STREAMING crawl-ingest front door, value-oracled by the
    same construction as ``warc_ingest``: the corpus is exported to
    multi-segment WARC via the distributed sink, then ingested through
    ``streaming_warc_ingest`` — the binaryFile file-stream source
    (availableNow trigger, maxFilesPerTrigger=3 so several micro-
    batches actually fire), the in-task streaming record parser, and
    the documents bridge — appending parquet per batch. The check
    aggregates by a URI-derived partition key: record count, char
    totals, and an md5 over source-ordered texts must equal DuckDB's
    straight-from-``documents`` computation, so a record lost or
    duplicated across micro-batch boundaries turns the gate red."""
    import os
    import shutil
    import tempfile

    from erde_spark.io.warc import streaming_warc_ingest
    in_dir = _warc_stream_staged_input(spark, sf_dir)
    base = tempfile.mkdtemp(prefix='erde_warc_stream_gate_')
    q = streaming_warc_ingest(
        spark, in_dir,
        out_dir=os.path.join(base, 'out'),
        checkpoint_dir=os.path.join(base, 'ckpt'),
        max_files_per_trigger=3)
    q.awaitTermination()
    docs = spark.read.parquet(os.path.join(base, 'out'))
    seg_no = F.pmod(F.regexp_extract('source', r'/(\d+)$', 1).cast('long'),
                    F.lit(8))
    ordered_texts = F.transform(
        F.array_sort(F.collect_list(F.struct('source', 'text'))),
        lambda s: s['text'])
    out = (docs.groupBy(seg_no.alias('segment_no'))
           .agg(F.count(F.lit(1)).alias('n_records'),
                F.sum('n_chars').alias('sum_chars'),
                F.md5(F.concat_ws('|', ordered_texts)).alias('content_md5'))
           .orderBy('segment_no')
           .localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_video_frame_dedup(spark, sf_dir):
    """Video near-dup dedup end-to-end, value-oracled by construction
    (the ``image_phash_dedup`` shape lifted to video): each document
    gets a 2-frame Motion-JPEG MP4 whose visual class is
    ``doc_id % 25`` (class-seeded sinusoid+patches frames; a small
    seeded noise delta when ``doc_id % 3 == 0`` makes a near-duplicate
    rendition). The pipeline MJPEG-encodes, parses the ISO-BMFF sample
    table, decodes frame 0 by its REAL byte range through the repo JPEG
    codec, pHashes it, finds Hamming<=8 pairs with the Manku band join,
    runs connected components, and reports the cluster-size histogram —
    predictable by DuckDB from ``doc_id % 25`` alone. A green row
    certifies the MP4 muxer/parser, ranged sample decode, JPEG codec,
    pHash kernel, banded Hamming join and CC in one check."""
    from erde_spark.scale.imagehash import image_dedup_clusters
    from erde_spark.scale.mp4 import encode_mp4_mjpeg, video_frame_hashes
    from erde_spark.scale.multimodal import ASSET_SCHEMA
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')

    def _mk(batches):
        import numpy as np
        import pandas as pd
        cache = {}
        for pdf in batches:
            ids, blobs, metas = [], [], []
            for did in pdf['doc_id']:
                did = int(did)
                c = did % 25
                key = (c, did % 3 == 0)
                if key not in cache:
                    rng = np.random.RandomState(2000 + c)
                    fx, fy = rng.uniform(0.5, 2.5, 2)
                    frames = []
                    for i in range(2):
                        y, x = np.mgrid[0:32, 0:32].astype(np.float64)
                        img = 110 + 70 * np.sin(
                            2 * np.pi * (fx * x / 32 + fy * y / 32) + i)
                        for _ in range(4):
                            y0, x0 = rng.randint(0, 24, 2)
                            hh, ww = rng.randint(6, 16, 2)
                            img[y0:y0 + hh, x0:x0 + ww] += rng.uniform(-70, 70)
                        if key[1]:
                            nrng = np.random.RandomState(6000 + c + i)
                            img = img + nrng.randint(-3, 4, img.shape)
                        frames.append(np.clip(img, 0, 255).astype(np.uint8))
                    cache[key] = encode_mp4_mjpeg(frames, fps=8, quality=92)
                ids.append(did)
                blobs.append(cache[key])
                metas.append({'format': 'video/mp4', 'width': 32,
                              'height': 32, 'n_bytes': len(cache[key])})
            yield pd.DataFrame({'asset_id': ids, 'media': blobs,
                                'meta': metas})

    assets = d.mapInPandas(_mk, schema=ASSET_SCHEMA)
    h0 = (video_frame_hashes(assets, every_n=2)
          .where(F.col('frame_idx') == 0)
          .select('asset_id', 'phash'))
    comp = image_dedup_clusters(h0, max_hamming=8)
    sizes = (comp.groupBy('hash_component')
             .agg(F.count(F.lit(1)).alias('cluster_size')))
    return (sizes.groupBy('cluster_size')
            .agg(F.count(F.lit(1)).alias('n_clusters'))
            .orderBy('cluster_size'))


_VIDEO_FRAME_DEDUP_SQL = """
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM (SELECT doc_id % 25 AS c, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM documents GROUP BY doc_id % 25)
GROUP BY cluster_size
ORDER BY cluster_size
"""


def q_mojibake_fix(spark, sf_dir):
    """Encoding-repair round trip, value-oracled by construction: each
    document's (ASCII) text gets a deterministic accented suffix, is
    then CORRUPTED the way crawls corrupt it (UTF-8 bytes re-read as
    Latin-1 — 'café' becomes 'cafÃ©'), and repaired with
    ``fix_mojibake`` (conditional JVM decode/encode round trip). The
    md5 of the repaired text must equal the md5 DuckDB computes on the
    UNCORRUPTED text — byte-exact restoration; docs whose suffix class
    is pure ASCII (doc_id % 4 == 3) assert the no-touch path."""
    from erde_spark.scale.text import fix_mojibake
    d = (_t(spark, sf_dir, 'documents')['documents']
         .select('doc_id', 'text').where(F.col('text').isNotNull()))
    suffix = F.element_at(
        F.array(F.lit(' café №42'), F.lit(' строка æøå'),
                F.lit(' 中文 “quotes”'), F.lit(' plain ascii tail')),
        (F.col('doc_id') % 4 + 1).cast('int'))
    augmented = F.concat(F.col('text'), suffix)
    corrupted = F.decode(F.encode(augmented, 'UTF-8'), 'ISO-8859-1')
    return (d.select('doc_id',
                     F.md5(fix_mojibake(corrupted)).alias('text_md5'))
            .orderBy('doc_id'))


_MOJIBAKE_SQL = """
SELECT doc_id,
       md5(text || CASE doc_id % 4
             WHEN 0 THEN ' café №42'
             WHEN 1 THEN ' строка æøå'
             WHEN 2 THEN ' 中文 “quotes”'
             ELSE ' plain ascii tail' END) AS text_md5
FROM documents WHERE text IS NOT NULL
ORDER BY doc_id
"""


def q_url_canonical_dedup(spark, sf_dir):
    """URL canonicalization as a dedup key, value-oracled by
    construction: each document gets one of four URL SPELLINGS of a
    doc_id-derived page (mixed-case scheme/host + tracking params +
    fragment, explicit default port + trailing slash, plain, or an
    https variant with a kept query). ``canonicalize_url`` must
    collapse the spelling noise exactly so the per-canonical-URL doc
    counts match DuckDB's arithmetic prediction."""
    from erde_spark.scale.text import canonicalize_url
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    k = (F.col('doc_id') % 50).cast('string')
    m = (F.col('doc_id') % 7).cast('string')
    v = F.col('doc_id') % 4
    raw = (F.when(v == 0, F.concat(F.lit('http://h'), k,
                                   F.lit('.example.com/p/'), m))
           .when(v == 1, F.concat(F.lit('HTTP://H'), k,
                                  F.lit('.EXAMPLE.COM/p/'), m,
                                  F.lit('?utm_source=feed&b=2&a=1#frag')))
           .when(v == 2, F.concat(F.lit('http://h'), k,
                                  F.lit('.example.com:80/p/'), m,
                                  F.lit('/')))
           .otherwise(F.concat(F.lit('https://h'), k,
                               F.lit('.example.com/p/'), m,
                               F.lit('?b=2&a=1'))))
    return (d.select(canonicalize_url(raw).alias('canon_url'))
            .groupBy('canon_url')
            .agg(F.count(F.lit(1)).alias('n_docs'))
            .orderBy('canon_url'))


_URL_CANON_SQL = """
SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (SELECT CASE doc_id % 4
        WHEN 0 THEN 'http://h' || (doc_id % 50) || '.example.com/p/'
                    || (doc_id % 7)
        WHEN 1 THEN 'http://h' || (doc_id % 50) || '.example.com/p/'
                    || (doc_id % 7) || '?a=1&b=2'
        WHEN 2 THEN 'http://h' || (doc_id % 50) || '.example.com/p/'
                    || (doc_id % 7)
        ELSE 'https://h' || (doc_id % 50) || '.example.com/p/'
             || (doc_id % 7) || '?a=1&b=2' END AS canon_url
      FROM documents)
GROUP BY canon_url
ORDER BY canon_url
"""


def q_boilerplate_lines(spark, sf_dir):
    """CCNet-style boilerplate-line removal, value-oracled: every
    document is wrapped in a rotating cookie-banner header (one of 4
    variants, each repeated across ~125 docs at sf0.01 — far over the
    min_count) and a common footer, then
    ``remove_boilerplate_lines`` must strip exactly the corpus-frequent
    lines while keeping each document's own content lines in order —
    DuckDB replays the same count/filter/rebuild logic over the same
    constructed corpus and the md5s must agree byte-for-byte."""
    from erde_spark.scale.text import remove_boilerplate_lines
    d = (_t(spark, sf_dir, 'documents')['documents']
         .select('doc_id', 'text').where(F.col('text').isNotNull()))
    banner = F.concat(F.lit('Accept cookies variant '),
                      (F.col('doc_id') % 4).cast('string'))
    wrapped = d.select(
        'doc_id',
        F.concat_ws('\n', banner, F.col('text'),
                    F.lit('Common footer / all rights reserved'))
        .alias('text'))
    out = remove_boilerplate_lines(wrapped, min_count=20)
    return (out.select('doc_id', F.md5('text').alias('text_md5'))
            .orderBy('doc_id'))


_BOILERPLATE_SQL = """
WITH wrapped AS (
  SELECT doc_id,
         'Accept cookies variant ' || (doc_id % 4) || chr(10) || text ||
         chr(10) || 'Common footer / all rights reserved' AS text
  FROM documents WHERE text IS NOT NULL
),
exploded AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS ln FROM wrapped
),
freq AS (
  SELECT t FROM (SELECT DISTINCT doc_id, trim(ln) AS t FROM exploded
                 WHERE length(trim(ln)) >= 5)
  GROUP BY t HAVING COUNT(*) >= 20
),
fl AS (SELECT coalesce(list(t), []) AS l FROM freq)
SELECT doc_id,
       md5(array_to_string(list_filter(string_split(text, chr(10)),
           x -> length(trim(x)) < 5 OR NOT list_contains(fl.l, trim(x))),
           chr(10))) AS text_md5
FROM wrapped, fl
ORDER BY doc_id
"""


def q_robots_filter(spark, sf_dir):
    """robots.txt compliance gate, value-oracled by construction: ten
    synthetic hosts, half serving a robots.txt with
    ``Disallow: /d<k>/`` + the longer ``Allow: /d<k>/keep`` (RFC 9309
    longest-match, allow-wins-ties), half serving none; each document's
    URL lands on host ``doc_id % 10`` with a path class ``doc_id % 3``
    (disallowed / allowed-by-longer-rule / unmatched). The pipeline
    parses the raw robots bodies with the JVM line-fold, filters the
    corpus through the per-host rule join, and the survivors must equal
    DuckDB's arithmetic prediction: kept iff the host has no robots or
    the path class is not the disallowed one."""
    from erde_spark.scale.robots import parse_robots, robots_filter
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    hosts = spark.range(5).select(
        F.concat(F.lit('h'), F.col('id'), F.lit('.example'))
        .alias('domain'),
        F.concat(F.lit('# synthetic\nUser-agent: *\nDisallow: /d'),
                 F.col('id'), F.lit('/\nAllow: /d'), F.col('id'),
                 F.lit('/keep\n')).alias('robots_txt'))
    m = F.col('doc_id') % 10
    path = (F.when(F.col('doc_id') % 3 == 0,
                   F.concat(F.lit('/d'), m, F.lit('/secret')))
            .when(F.col('doc_id') % 3 == 1,
                  F.concat(F.lit('/d'), m, F.lit('/keep/page')))
            .otherwise(F.lit('/open')))
    docs = d.select('doc_id',
                    F.concat(F.lit('http://h'), m, F.lit('.example'),
                             path).alias('url'))
    rules = parse_robots(hosts)
    return (robots_filter(docs, rules)
            .select('doc_id', 'url').orderBy('doc_id'))


_ROBOTS_SQL = """
SELECT doc_id,
       'http://h' || (doc_id % 10) || '.example' ||
       CASE doc_id % 3
         WHEN 0 THEN '/d' || (doc_id % 10) || '/secret'
         WHEN 1 THEN '/d' || (doc_id % 10) || '/keep/page'
         ELSE '/open' END AS url
FROM documents
WHERE (doc_id % 10) >= 5 OR (doc_id % 3) <> 0
ORDER BY doc_id
"""


def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (the RAG/embedding passage
    splitter), value-oracled: DuckDB replays the same tokenizer and
    window arithmetic with list slicing — chunk indices, md5s of the
    joined chunk texts and token counts must agree exactly, including
    the remainder-window and shorter-than-one-window edges."""
    from erde_spark.scale.text import chunk_documents
    d = (_t(spark, sf_dir, 'documents')['documents']
         .select('doc_id', 'text').where(F.col('text').isNotNull()))
    out = chunk_documents(d, max_tokens=32, overlap=8)
    return (out.select(F.col('id').alias('doc_id'), 'chunk_idx',
                       F.md5('chunk_text').alias('chunk_md5'),
                       'n_tokens')
            .orderBy('doc_id', 'chunk_idx'))


_CHUNK_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
),
meta AS (
  SELECT doc_id, t,
         GREATEST(CAST(ceil((len(t) - 8) / 24.0) AS INT), 1) AS nc
  FROM toks
),
fan AS (
  SELECT doc_id, t, unnest(generate_series(1, nc)) AS u FROM meta
)
SELECT doc_id, u - 1 AS chunk_idx,
       md5(array_to_string(list_slice(t, (u-1)*24 + 1, (u-1)*24 + 32),
                           ' ')) AS chunk_md5,
       CAST(len(list_slice(t, (u-1)*24 + 1, (u-1)*24 + 32)) AS INT)
         AS n_tokens
FROM fan
ORDER BY doc_id, chunk_idx
"""


def q_nb_classifier(spark, sf_dir):
    """Trainable classifier with a FULL value oracle: multinomial
    Naive Bayes is closed-form (count -> smooth -> log-ratio), so
    DuckDB replays the exact training computation — same labeled set
    (real docs positive, deterministic md5-hex-salad negatives), same
    tokenizer, same Laplace smoothing — and scoring runs in FIXED
    POINT (per-token llr rounded to micro-units, summed as integers)
    so the per-document scores agree EXACTLY: float summation is
    order-sensitive and its error grows with document count, so a
    rounded-float compare would flip nondeterministically at larger
    scale factors. Complements the rows-only L-BFGS
    ``quality_classifier`` entry: the classifier family has a
    driver-value-checked member."""
    from erde_spark.scale.classifier import nb_score, nb_token_logratios
    docs = (_t(spark, sf_dir, 'documents')['documents']
            .select('doc_id', 'text').where(F.col('text').isNotNull()))
    gibberish = F.concat_ws(' ', F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda i: F.substring(
            F.md5(F.concat_ws('-', F.col('doc_id').cast('string'),
                              i.cast('string'))), 1, 8)))
    labeled = (docs.withColumn('label', F.lit(1))
               .unionByName(docs.select(
                   (F.col('doc_id') + 1000000).alias('doc_id'),
                   gibberish.alias('text'), F.lit(0).alias('label'))))
    model = nb_token_logratios(labeled)
    scored = nb_score(docs, model, quantize_scale=1_000_000)
    return (scored.select('id',
                          F.col('nb_score').alias('nb_score_r'),
                          'nb_label')
            .orderBy('id'))


_NB_SQL = """
WITH labeled AS (
  SELECT doc_id, text, 1 AS y FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string([substr(md5(doc_id || '-' || i), 1, 8)
                          FOR i IN generate_series(1, 40)], ' '),
         0
  FROM documents WHERE text IS NOT NULL
),
toksf AS (
  SELECT y, token
  FROM (SELECT y, unnest(string_split_regex(lower(text),
                                            '[^a-z0-9]+')) AS token
        FROM labeled)
  WHERE token <> ''
),
counts AS (
  SELECT token,
         SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS cp,
         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS cn
  FROM toksf GROUP BY token
),
tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn, COUNT(*) AS v FROM counts),
model AS (
  SELECT token,
         ln((cp + 1.0) / (np + 1.0 * v))
         - ln((cn + 1.0) / (nn + 1.0 * v)) AS llr
  FROM counts, tot
),
qmodel AS (
  SELECT token, CAST(round(llr * 1000000) AS BIGINT) AS q FROM model
),
doctoks AS (
  SELECT doc_id AS id, token
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text),
                                                 '[^a-z0-9]+')) AS token
        FROM documents WHERE text IS NOT NULL)
  WHERE token <> ''
),
scores AS (
  SELECT id, COALESCE(SUM(m.q), 0) AS sq
  FROM doctoks d LEFT JOIN qmodel m USING (token)
  GROUP BY id
)
SELECT id, sq / 1000000 AS nb_score_r, CAST(sq > 0 AS INT) AS nb_label
FROM scores ORDER BY id
"""


def q_c4_filter(spark, sf_dir):
    """The C4 cleaning recipe, value-oracled by construction: every
    document becomes a page of known lines — a body sentence built
    from its text, a too-short line, two proper sentences, and a
    doc_id%4-selected variant (a javascript line / 'lorem ipsum' /
    a curly-bracket code line / a fourth clean sentence). The rules
    must drop exactly the lorem-ipsum and brace pages, strip exactly
    the short+javascript lines from the survivors, and keep the rest
    byte-identically — DuckDB's oracle builds the expected surviving
    text directly from the same arithmetic and md5s must agree. The
    per-document fragment is an md5-hex word (round-7 ADVICE): hex
    can never contain '{', 'javascript', 'lorem ipsum', or a newline
    and is never empty, so gate truth is content-independent of the
    fixture text."""
    from erde_spark.scale.text import c4_filter
    d = (_t(spark, sf_dir, 'documents')['documents']
         .select('doc_id', 'text').where(F.col('text').isNotNull()))
    base = F.concat(F.lit('Document body '),
                    F.substring(F.md5('text'), 1, 8), F.lit(' ends here.'))
    variant = (F.when(F.col('doc_id') % 4 == 0,
                      'This line uses javascript for menus today.')
               .when(F.col('doc_id') % 4 == 1, 'lorem ipsum')
               .when(F.col('doc_id') % 4 == 2, 'code { snippet }')
               .otherwise('A fourth wholesome sentence appears here.'))
    page = F.concat_ws(
        '\n', base, F.lit('short line'),
        F.lit('Second proper sentence right here folks.'),
        F.lit('Third full sentence to clear the minimum.'), variant)
    out = c4_filter(d.select('doc_id', page.alias('text')))
    return (out.select('doc_id', F.md5('text').alias('text_md5'))
            .orderBy('doc_id'))


_C4_FILTER_SQL = """
SELECT doc_id,
       md5('Document body ' || substr(md5(text), 1, 8) || ' ends here.'
           || chr(10) || 'Second proper sentence right here folks.'
           || chr(10) || 'Third full sentence to clear the minimum.'
           || CASE WHEN doc_id % 4 = 3
                   THEN chr(10) || 'A fourth wholesome sentence appears here.'
                   ELSE '' END) AS text_md5
FROM documents
WHERE text IS NOT NULL AND doc_id % 4 IN (0, 3)
ORDER BY doc_id
"""


def q_langid_nb(spark, sf_dir):
    """Real language identification (30 languages / 9 scripts),
    construction-oracled: every document's text is replaced by a
    held-out sentence whose true language is fixed by arithmetic
    (language = sorted-langs[doc_id % 30], sentence variant =
    (doc_id div 30) % 3 — the sentences are DISJOINT from the
    training corpus), and ``identify_language`` — char 1-3-gram
    multinomial NB trained on the checked-in 30-language seed corpus,
    broadcast-model fixed-point scoring — must recover every planted
    language exactly. DuckDB's oracle is the arithmetic itself, so a
    single misclassification anywhere in the corpus turns the gate
    red. The full training replay (DuckDB re-derives the quantized
    model and re-scores) is pinned in tests/test_langid.py."""
    from erde_spark.scale.langid import EVAL_SENTENCES, identify_language
    langs = sorted(EVAL_SENTENCES)
    flat = [s for lang in langs for s in EVAL_SENTENCES[lang]]
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    idx = ((F.col('doc_id') % 30) * 3
           + F.expr('(doc_id div 30) % 3')).cast('int')
    docs = d.select(
        'doc_id',
        F.element_at(F.array(*[F.lit(s) for s in flat]), idx + 1)
        .alias('text'))
    out = identify_language(docs, id_col='doc_id')
    return (out.select(F.col('id').alias('doc_id'), 'lang')
            .orderBy('doc_id'))


# the oracle IS the construction: sorted(EVAL_SENTENCES) == this list
_LANGID_SQL = """
SELECT doc_id,
       (['ar','bg','cs','da','de','el','en','es','fa','fi',
         'fr','he','hi','hu','id','it','ja','ko','nb','nl',
         'pl','pt','ro','ru','sv','th','tr','uk','vi','zh'])
       [CAST(doc_id % 30 AS INT) + 1] AS lang
FROM documents
ORDER BY doc_id
"""


def q_quality_classifier(spark, sf_dir):
    """Trainable quality classifier end-to-end, VALUE-checked by
    construction: the L-BFGS optimizer is iterative (not
    SQL-replayable), so the oracle checks the classifier's CONTRACT
    instead — every real document must outrank its deterministic
    hex-token-salad twin. CCNet shape: label real documents positive
    and the gibberish twins negative, train on a seeded-hash-ordered
    ~600/class sample, score the FULL corpus plus all twins with the
    broadcast-model map-only pass, and emit (doc_id, ranked_ok) where
    ranked_ok = P(real doc) > P(its twin), compared entirely
    Spark-side so the hashed values are pure booleans. The arithmetic
    oracle demands ranked_ok = 1 for every document — one inversion
    anywhere in the corpus turns the gate red. AUC/separation/
    determinism remain pytest-pinned in tests/test_classifier.py."""
    from erde_spark.scale.classifier import train_quality_classifier
    docs = (_t(spark, sf_dir, 'documents')['documents']
            .select('doc_id', 'text').where(F.col('text').isNotNull()))
    gibberish = F.concat_ws(' ', F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda i: F.substring(
            F.md5(F.concat_ws('-', F.col('doc_id').cast('string'),
                              i.cast('string'))), 1, 8)))
    pos = docs.withColumn('label', F.lit(1))
    neg = docs.select('doc_id', gibberish.alias('text'),
                      F.lit(0).alias('label'))
    # seeded-hash top-K draw per class (not a bare limit: that takes
    # whole leading partitions)
    labeled = (pos.orderBy(F.xxhash64('doc_id', F.lit(41))).limit(600)
               .unionByName(
                   neg.orderBy(F.xxhash64('doc_id', F.lit(42))).limit(600)))
    clf = train_quality_classifier(labeled, max_iter=20)
    both = docs.unionByName(
        neg.select((F.col('doc_id') + 1000000).alias('doc_id'), 'text'))
    # NOTE (r12 optimization round): checkpointing `scored` here was
    # tried and REVERTED — the real/twin id-range filters below push
    # through the scoring projections into each union branch, so each
    # branch already scores only its own half (no double evaluation);
    # the checkpoint only added a materialization job.
    scored = clf.score(both)
    # real/twin pairing as ONE map-side-combined aggregation over the
    # scored union instead of a real-side x twin-side self-join (r13,
    # guide §2.3/§2.4): every doc_id has exactly one real and one twin
    # row by construction, so max() over the two when()-split columns
    # reassembles the pair with a single exchange carrying one partial
    # row per doc — the join shape shuffled both branches separately
    # and sorted them. Verified row-identical against the oracle.
    paired = (scored.groupBy(
        F.when(F.col('id') >= 1000000, F.col('id') - 1000000)
        .otherwise(F.col('id')).alias('doc_id'))
        .agg(F.max(F.when(F.col('id') < 1000000, F.col('quality_prob')))
             .alias('_p_real'),
             F.max(F.when(F.col('id') >= 1000000, F.col('quality_prob')))
             .alias('_p_twin')))
    return (paired
            .select('doc_id',
                    (F.col('_p_real') > F.col('_p_twin')).cast('int')
                    .alias('ranked_ok'))
            .orderBy('doc_id'))


# the oracle IS the classifier's contract: every real document must
# outrank its gibberish twin
_QUALITY_CLASSIFIER_SQL = """
SELECT doc_id, 1 AS ranked_ok
FROM documents WHERE text IS NOT NULL
ORDER BY doc_id
"""


def q_tfrecord_roundtrip(spark, sf_dir):
    """TFRecord export/ingest (NEW round 8 — tf.train.Example protobuf
    + CRC-32C framing, both hand-implemented from the published specs
    and pinned to the RFC 3720 CRC vectors in pytest) VALUE-checked by
    a full round trip: documents write executor-side (text bytes,
    lang bytes, n_chars int64 features), read back through binaryFile
    + mapInPandas WITH CRC verification on; md5(text), lang and
    n_chars must match the source exactly — DuckDB computes them from
    the table. Impl: erde_spark/io/tfrecord.py."""
    import shutil
    import tempfile

    from erde_spark.io.tfrecord import read_tfrecord, write_tfrecord
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'text', 'lang', 'n_chars')
    base = tempfile.mkdtemp(prefix='erde_tfr_')
    write_tfrecord(d.repartition(8), base)
    back = read_tfrecord(spark, base,
                         {'doc_id': ('int64', 'scalar'),
                          'text': ('bytes', 'scalar'),
                          'lang': ('bytes', 'scalar'),
                          'n_chars': ('int64', 'scalar')})
    res = (back.select('doc_id',
                       F.md5(F.coalesce(F.col('text').cast('string'),
                                        F.lit(''))).alias('text_md5'),
                       F.col('lang').cast('string').alias('lang'),
                       'n_chars')
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return res


_TFRECORD_ROUNDTRIP_SQL = """
SELECT doc_id, md5(COALESCE(text, '')) AS text_md5, lang, n_chars
FROM documents ORDER BY doc_id
"""


def q_wds_roundtrip(spark, sf_dir):
    """WebDataset shard export/ingest (NEW round 8 — the tar-of-samples
    training-loader format, OpenCLIP/LAION-style) VALUE-checked by a
    full round trip: the documents table writes to tar shards
    executor-side (.txt text member + .json lang member per sample,
    deterministic USTAR headers) and reads back through binaryFile +
    mapInPandas; md5(text) and lang must match the source rows exactly
    — DuckDB computes them from the table directly. Impl:
    erde_spark/io/wds.py."""
    import shutil
    import tempfile

    from erde_spark.io.wds import read_webdataset, write_webdataset
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'text', 'lang')
    base = tempfile.mkdtemp(prefix='erde_wds_')
    write_webdataset(d.repartition(8), base,
                     columns={'text': 'txt', 'lang': 'json'},
                     shard_size=2000)
    back = read_webdataset(spark, base,
                           {'txt': ('text', 'str'),
                            'json': ('lang', 'str')})
    res = (back.select(F.col('key').cast('long').alias('doc_id'),
                       F.md5(F.coalesce(F.col('text'), F.lit('')))
                       .alias('text_md5'), 'lang')
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return res


_WDS_ROUNDTRIP_SQL = """
SELECT doc_id, md5(COALESCE(text, '')) AS text_md5, lang
FROM documents ORDER BY doc_id
"""


def q_zst_roundtrip(spark, sf_dir):
    """Zstandard JSONL shard export/ingest (NEW round 10 — the format
    modern corpus releases actually ship; this Spark build has no
    Hadoop zstd codec, so the path goes through pyarrow's zstd with
    JSON parse/serialize JVM-side via from_json/to_json) VALUE-checked
    by a full round trip: documents -> part-*.jsonl.zst shards
    (executor-side streaming writes, byte-rolled) -> read back with an
    explicit DDL schema; md5(text) and lang must match the source rows
    exactly — DuckDB computes them from the table directly. Impl:
    erde_spark/io/zst.py."""
    import shutil
    import tempfile

    from erde_spark.io.zst import read_jsonl_zst, write_jsonl_zst
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'text', 'lang')
    base = tempfile.mkdtemp(prefix='erde_zst_') + '/docs.jsonl.zst'
    write_jsonl_zst(d.repartition(8), base, shard_bytes=1 << 20)
    back = read_jsonl_zst(base, spark,
                          schema='doc_id bigint, text string, lang string')
    res = (back.select('doc_id',
                       F.md5(F.coalesce(F.col('text'), F.lit('')))
                       .alias('text_md5'), 'lang')
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(os.path.dirname(base), ignore_errors=True)
    return res


_ZST_ROUNDTRIP_SQL = """
SELECT doc_id, md5(COALESCE(text, '')) AS text_md5, lang
FROM documents ORDER BY doc_id
"""


def q_upsert_latest_check(spark, sf_dir):
    """Snapshot MERGE semantics (NEW round 10 — latest-wins upsert with
    tombstones, the recurring-ingest maintenance op; no Delta/Iceberg
    in-container so MERGE is a deterministic transformation): base =
    every document at version 1; updates carry (a) version-2 rewrites
    for doc_id%4==0, (b) tombstones for doc_id%4==1, (c) inserts at
    doc_id+10000000 derived from doc_id%4==2. One shuffle (union + one
    window). DuckDB replays the arithmetic directly. Impl:
    erde_spark/operators/upsert.py."""
    from erde_spark.operators.upsert import upsert_latest
    d = _t(spark, sf_dir, 'documents')['documents']
    base = d.select('doc_id', F.lit(1).alias('version'),
                    F.md5('text').alias('val'))
    m4 = F.col('doc_id') % 4
    rewrites = (d.filter(m4 == 0)
                .select('doc_id', F.lit(2).alias('version'),
                        F.concat(F.lit('U'), F.col('doc_id')).alias('val'),
                        F.lit(False).alias('dead')))
    deletes = (d.filter(m4 == 1)
               .select('doc_id', F.lit(2).alias('version'),
                       F.lit('x').alias('val'), F.lit(True).alias('dead')))
    inserts = (d.filter(m4 == 2)
               .select((F.col('doc_id') + 10000000).alias('doc_id'),
                       F.lit(1).alias('version'),
                       F.concat(F.lit('I'), F.col('doc_id')).alias('val'),
                       F.lit(False).alias('dead')))
    updates = rewrites.unionByName(deletes).unionByName(inserts)
    out = upsert_latest(base, updates, 'doc_id', 'version',
                        tombstone_col='dead')
    return out.orderBy('doc_id')


_UPSERT_LATEST_SQL = """
SELECT doc_id, 2 AS version, 'U' || doc_id AS val
FROM documents WHERE doc_id % 4 = 0
UNION ALL
SELECT doc_id, 1 AS version, md5(text) AS val
FROM documents WHERE doc_id % 4 IN (2, 3)
UNION ALL
SELECT doc_id + 10000000 AS doc_id, 1 AS version, 'I' || doc_id AS val
FROM documents WHERE doc_id % 4 = 2
ORDER BY doc_id
"""


def q_semdedup_check(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — kmeans-scoped
    semantic dedup, NEW round 10) VALUE-checked by planted
    construction: every vec_id%5==1 embedding is replaced with an EXACT
    copy of vec_id-1's vector. Identical vectors normalize identically,
    land in the same kmeans cluster deterministically, and sit at
    cosine 1 >= 0.99, so each planted pair forms a duplicate group
    whose keep='min' survivor is vec_id-1 — the survivor set is pure
    vec_id arithmetic (verified at sf0.01: no natural pair reaches the
    0.99 threshold, so only planted groups form). DuckDB replays the
    arithmetic. Impl: erde_spark/scale/dedup.py::semdedup — cluster-
    LOCAL quadratic step (the paper's own approximation), one shuffle,
    union-find inside the task, no global component iterations."""
    from erde_spark.scale.dedup import semdedup
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    src = e.select((F.col('vec_id') + 1).alias('vec_id'),
                   F.col('embedding').alias('_dup'))
    planted = (e.join(src, 'vec_id', 'left')
               .select('vec_id',
                       F.when((F.col('vec_id') % 5 == 1)
                              & F.col('_dup').isNotNull(), F.col('_dup'))
                       .otherwise(F.col('embedding')).alias('embedding')))
    out = semdedup(planted, threshold=0.99, keep='min')
    return out.select('vec_id').orderBy('vec_id')


_SEMDEDUP_SQL = """
SELECT vec_id FROM embeddings WHERE vec_id % 5 <> 1 ORDER BY vec_id
"""


def q_safetensors_roundtrip(spark, sf_dir):
    """SafeTensors export/ingest (NEW round 10 — the HF tensor
    interchange; erde_spark/io/safetensors.py) VALUE-checked by the
    same construction as npy_roundtrip: embeddings range-partitioned
    and sorted by vec_id write as HF-convention model-i-of-N shards
    (+ index json), read back byte-range-sliced as (tensor, row_id,
    value), and each row survives ONLY if its float32 payload is
    bit-exactly the vector of the vec_id holding that global rank.
    Oracle: the plain vec_id list."""
    import shutil
    import tempfile

    from erde_spark.io.safetensors import (read_safetensors,
                                           write_safetensors)
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    base = tempfile.mkdtemp(prefix='erde_st_') + '/emb.st'
    write_safetensors(e.repartitionByRange(4, 'vec_id')
                       .sortWithinPartitions('vec_id'), base,
                      value_col='embedding')
    back = read_safetensors(base, spark, tensor='emb')
    ranked = e.select(
        'vec_id', 'embedding',
        (F.row_number().over(Window.orderBy('vec_id')) - 1)
        .alias('row_id'))
    res = (back.join(ranked, 'row_id')
           .filter(F.col('value') == F.col('embedding'))
           .select('vec_id').orderBy('vec_id')
           .localCheckpoint(eager=True))
    shutil.rmtree(os.path.dirname(base), ignore_errors=True)
    return res


_SAFETENSORS_ROUNDTRIP_SQL = """
SELECT vec_id FROM embeddings ORDER BY vec_id
"""


def q_npy_roundtrip(spark, sf_dir):
    """NumPy ``.npy`` matrix export/ingest (NEW round 10 — the
    embedding-dump interchange format; the read side is a SPLITTABLE
    byte-range scan, row i at a fixed offset) VALUE-checked by
    construction: embeddings are range-partitioned and sorted by
    vec_id, written as part-*.npy shards, read back as (row_id, value),
    and each row survives ONLY if its float32 payload is bit-exactly
    the vector of the vec_id holding that global rank — a single flipped
    byte, swapped row, or wrong shard order drops rows and fails the
    count/value match. Oracle is the plain vec_id list. Impl:
    erde_spark/io/npy.py (tested cross-engine against numpy's own
    reader in tests/test_io.py)."""
    import shutil
    import tempfile

    from erde_spark.io.npy import read_npy, write_npy
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    base = tempfile.mkdtemp(prefix='erde_npy_') + '/emb.npy'
    write_npy(e.repartitionByRange(4, 'vec_id')
               .sortWithinPartitions('vec_id'), base,
              value_col='embedding')
    back = read_npy(base, spark)
    ranked = e.select(
        'vec_id', 'embedding',
        (F.row_number().over(Window.orderBy('vec_id')) - 1)
        .alias('row_id'))
    res = (back.join(ranked, 'row_id')
           .filter(F.col('value') == F.col('embedding'))
           .select('vec_id').orderBy('vec_id')
           .localCheckpoint(eager=True))
    shutil.rmtree(os.path.dirname(base), ignore_errors=True)
    return res


_NPY_ROUNDTRIP_SQL = """
SELECT vec_id FROM embeddings ORDER BY vec_id
"""


def q_zarr_roundtrip(spark, sf_dir):
    """Zarr v2 chunked-array export/ingest (NEW round 11 — the
    science/embedding store format; erde_spark/io/zarr.py; one task
    per chunk row band on read, one shuffle imposing the regular grid
    on write) VALUE-checked by the npy_roundtrip construction: each
    row survives ONLY if its float32 payload is bit-exactly the vector
    of the vec_id holding that global rank — a flipped byte, lost
    chunk, wrong band offset, or padding leak drops rows. Oracle: the
    plain vec_id list."""
    import shutil
    import tempfile

    from erde_spark.io.zarr import read_zarr, write_zarr
    e = _t(spark, sf_dir, 'embeddings')['embeddings']
    base = tempfile.mkdtemp(prefix='erde_zarr_') + '/emb.zarr'
    write_zarr(e.repartitionByRange(4, 'vec_id')
                .sortWithinPartitions('vec_id'), base,
               value_col='embedding', chunk_rows=128)
    back = read_zarr(base, spark)
    ranked = e.select(
        'vec_id', 'embedding',
        (F.row_number().over(Window.orderBy('vec_id')) - 1)
        .alias('row_id'))
    res = (back.join(ranked, 'row_id')
           .filter(F.col('value') == F.col('embedding'))
           .select('vec_id').orderBy('vec_id')
           .localCheckpoint(eager=True))
    shutil.rmtree(os.path.dirname(base), ignore_errors=True)
    return res


_ZARR_ROUNDTRIP_SQL = """
SELECT vec_id FROM embeddings ORDER BY vec_id
"""


def q_pack_bestfit_check(spark, sf_dir):
    """Whole-document best-fit bin packing (NEW round 8 — the
    padding-minimizing alternative to concat-then-chunk packing)
    VALUE-checked by construction: documents get 60 or 40 tokens by
    doc_id-RANK parity (exact halves at any corpus size), max_tokens
    100 — a perfect BFD packs every sequence to EXACTLY 100 (any
    mis-assignment, cap violation, or lost doc shows up as a fill
    != 100), and per-doc n_tokens/truncated are closed-form. The
    pairing itself is tie-dependent, so the gate pins the
    pairing-INDEPENDENT invariants; pairing edge cases live in
    tests/test_scale.py. Impl:
    erde_spark/scale/text.py::pack_bins_bestfit."""
    from erde_spark.scale.text import pack_bins_bestfit
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    w = Window.orderBy('doc_id')
    ranked = d.withColumn('_r', F.row_number().over(w) - 1)
    n_docs = ranked.count()
    n2 = 2 * (n_docs // 2)
    text = F.array_join(F.transform(
        F.sequence(F.lit(1),
                   F.when(F.col('_r') % 2 == 0, F.lit(60)).otherwise(40)),
        lambda i: F.concat(F.lit('w'), i.cast('string'))), ' ')
    docs = ranked.filter(F.col('_r') < n2) \
        .select('doc_id', text.alias('text'))
    out = pack_bins_bestfit(docs, max_tokens=100)
    return (out.select('doc_id', 'n_tokens', 'seq_fill',
                       F.col('truncated').cast('int').alias('truncated'))
            .orderBy('doc_id'))


_PACK_BESTFIT_SQL = """
WITH r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rk,
                  COUNT(*) OVER () AS n FROM documents)
SELECT doc_id,
       CASE WHEN rk % 2 = 0 THEN 60 ELSE 40 END AS n_tokens,
       100 AS seq_fill, 0 AS truncated
FROM r WHERE rk < 2 * (n // 2)
ORDER BY doc_id
"""


def q_megatron_roundtrip(spark, sf_dir):
    """Megatron-LM/fairseq indexed-dataset export/ingest (NEW round 9 —
    the .bin/.idx binarized-token format training stacks memory-map;
    MMIDIDX layout hand-implemented from the published fairseq/Megatron
    format, byte-level header/pointer checks in pytest) VALUE-checked
    by a full round trip: each document writes a variable-length int32
    token array whose first token IS the doc_id and whose tail is
    sequence(1, doc_id%7+1); shards write executor-side with rolling +
    atomic staging, read back via binaryFile(.idx) + pyarrow-fs
    sibling .bin. doc_id, token count and token sum are closed-form
    for DuckDB. Impl: erde_spark/io/megatron.py."""
    import shutil
    import tempfile

    from erde_spark.io.megatron import read_megatron, write_megatron
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    toks = F.concat(
        F.array(F.col('doc_id').cast('int')),
        F.sequence(F.lit(1), (F.col('doc_id') % 7 + 1).cast('int')))
    base = tempfile.mkdtemp(prefix='erde_meg_')
    write_megatron(d.select('doc_id', toks.alias('tokens'))
                   .repartition(8), base, dtype='int32', shard_size=500)
    back = read_megatron(spark, base)
    res = (back.select(
        F.element_at('tokens', 1).alias('doc_id'),
        F.size('tokens').cast('long').alias('n_tokens'),
        F.aggregate('tokens', F.lit(0).cast('long'),
                    lambda acc, x: acc + x).alias('tok_sum'))
        .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return res


_MEGATRON_ROUNDTRIP_SQL = """
SELECT doc_id,
       1 + (doc_id % 7 + 1) AS n_tokens,
       doc_id + ((doc_id % 7 + 1) * (doc_id % 7 + 2)) // 2 AS tok_sum
FROM documents ORDER BY doc_id
"""


def q_ccnet_buckets_check(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3; NEW round 9) VALUE-checked on an arithmetic perplexity
    column (doc_id*37 % 101 — dense ties, every residue class shared
    across languages) so DuckDB replays the EXACT per-language
    percent_rank split, cuts at 1/3 and 2/3 with id tie-breaks. The
    composition with the real LM scorer (train -> score -> bucket) is
    pinned in tests/test_lm.py; the scorer itself is value-gated by
    perplexity_rank_check. Impl:
    erde_spark/scale/lm.py::perplexity_buckets (method='rank'; the
    'threshold' scale path is parity-tested in pytest)."""
    from erde_spark.scale.lm import perplexity_buckets
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'lang')
    scored = d.withColumn(
        'perplexity', (F.col('doc_id') * 37 % 101).cast('double'))
    out = perplexity_buckets(scored)
    return out.select('doc_id', 'ppl_bucket').orderBy('doc_id')


_CCNET_BUCKETS_SQL = """
WITH s AS (SELECT doc_id, lang,
                  CAST(doc_id * 37 % 101 AS DOUBLE) AS ppl
           FROM documents),
r AS (SELECT doc_id, PERCENT_RANK() OVER
        (PARTITION BY lang ORDER BY ppl, doc_id) AS pr FROM s)
SELECT doc_id,
       CASE WHEN pr <= 1.0 / 3 THEN 'head'
            WHEN pr <= 2.0 / 3 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM r ORDER BY doc_id
"""


def q_global_shuffle_check(spark, sf_dir):
    """Deterministic global training-order shuffle (NEW round 9): every
    document gets a dense 0-based position equal to its rank under
    md5(doc_id) — reproducible across runs/partitionings/engines, so
    DuckDB's ROW_NUMBER over the same md5 must reproduce the ENTIRE
    permutation value-for-value. The Spark side never global-sorts:
    hash-prefix groups rank independently and compose through an
    exclusive-prefix offset table (64 rows through the driver — a
    bounded probe, size = buckets, never data). Impl:
    erde_spark/scale/sampling.py::shuffle_deterministic."""
    from erde_spark.scale.sampling import shuffle_deterministic
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    out = shuffle_deterministic(d, 'doc_id', buckets=64)
    return out.select('doc_id', 'shuffle_pos').orderBy('doc_id')


_GLOBAL_SHUFFLE_SQL = """
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
       - 1 AS shuffle_pos
FROM documents ORDER BY doc_id
"""


def q_unimax_mix_check(spark, sf_dir):
    """UniMax corpus mixing (Chung et al. ICLR 2023; NEW round 9)
    VALUE-checked by an n-independent construction: doc_id-rank splits
    documents 1:7 into 'small'/'big' (exact eighths at any corpus
    size); with budget = corpus size and max_epochs = 2 the waterfill
    ALWAYS caps small at exactly 2 whole epochs (fair share n/2 >
    capacity n/4) and redistributes to big = 3n/4 budget = 6/7 of an
    epoch — 0 whole passes + the deterministic md5 fractional sample
    at threshold floor(6/7*65536) = 0xdb6d, a CONSTANT DuckDB compares
    directly against substring(md5(doc_id),1,4). Exercises cap
    binding, uniform redistribution and the engine-portable fractional
    epoch in one gate. Impl:
    erde_spark/scale/sampling.py::unimax_mix/unimax_allocation."""
    from erde_spark.scale.sampling import unimax_mix
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    w = Window.orderBy('doc_id')
    ranked = d.withColumn('_r', F.row_number().over(w) - 1)
    n8 = 8 * (ranked.count() // 8)
    docs = (ranked.filter(F.col('_r') < n8)
            .withColumn('grp', F.when(F.col('_r') < n8 // 8, 'small')
                        .otherwise('big')))
    out = unimax_mix(docs, 'grp', 'doc_id', budget=n8, max_epochs=2)
    return (out.select('doc_id', 'n_full_epochs',
                       F.col('frac_kept').cast('int').alias('frac_kept'))
            .orderBy('doc_id'))


_UNIMAX_MIX_SQL = """
WITH r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rk,
                  COUNT(*) OVER () AS n FROM documents),
f AS (SELECT doc_id, rk, 8 * (n // 8) AS n8 FROM r
      WHERE rk < 8 * (n // 8))
SELECT doc_id,
       CASE WHEN rk < n8 // 8 THEN 2 ELSE 0 END AS n_full_epochs,
       CASE WHEN rk < n8 // 8 THEN 0
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'db6d'
            THEN 1 ELSE 0 END AS frac_kept
FROM f ORDER BY doc_id
"""


def q_zst_stream_ingest(spark, sf_dir):
    """Continuous .jsonl.zst ingest (NEW round 10 —
    erde_spark/io/zst.py::read_jsonl_zst_stream, the warc-streaming
    shape applied to the corpus-release format) VALUE-checked end to
    end: the documents table stages as TWO zst shards, the file-stream
    source consumes them one per micro-batch (maxFilesPerTrigger=1,
    exactly-once via the checkpoint) into parquet, and doc_id /
    md5(text) / lang must equal the source exactly — a row lost or
    duplicated across micro-batch boundaries turns the gate red."""
    import shutil
    import tempfile

    from erde_spark.io.zst import read_jsonl_zst_stream, write_jsonl_zst
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'text', 'lang')
    base = tempfile.mkdtemp(prefix='erde_zst_stream_')
    in_dir = os.path.join(base, 'in')
    for k in (0, 1):
        write_jsonl_zst(d.filter(F.pmod('doc_id', F.lit(2)) == k)
                        .coalesce(1), in_dir,
                        mode='overwrite' if k == 0 else 'append')
    q = read_jsonl_zst_stream(
        spark, in_dir, os.path.join(base, 'out'),
        os.path.join(base, 'ckpt'),
        schema='doc_id bigint, text string, lang string',
        max_files_per_trigger=1)
    q.awaitTermination()
    res = (spark.read.parquet(os.path.join(base, 'out'))
           .select('doc_id',
                   F.md5(F.coalesce(F.col('text'), F.lit(''))).alias('text_md5'),
                   'lang')
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return res


_ZST_STREAM_SQL = """
SELECT doc_id, md5(COALESCE(text, '')) AS text_md5, lang
FROM documents ORDER BY doc_id
"""


_STREAM_SHARDS_STAGED_INPUT: dict = {}


def _stream_shards_staged_input(spark, sf_dir, d):
    """Stage the shard-bridge gate's 2 mtime-ordered micro-batch files
    once per (process, sf_dir) — the _neardup_staged_input rationale:
    the staging write is harness setup (a real stream's input already
    sits on disk), so repeat bench runs should measure the foreachBatch
    bridge + sink + read-back, not the input copy. File names AND
    mtimes pin the file-stream source's batch order."""
    import atexit
    import glob
    import shutil
    import tempfile
    path = _STREAM_SHARDS_STAGED_INPUT.get(sf_dir)
    if path is not None and os.path.isdir(path):
        return path
    in_dir = tempfile.mkdtemp(prefix='erde_stream_shards_in_')
    for k in (0, 1):
        tmp = os.path.join(in_dir, f'tmp{k}')
        (d.filter(F.pmod('doc_id', F.lit(2)) == k).coalesce(1)
         .write.mode('overwrite').parquet(tmp))
        part = glob.glob(os.path.join(tmp, 'part-*.parquet'))[0]
        dst = os.path.join(in_dir, f'batch-{k}.parquet')
        shutil.move(part, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    _STREAM_SHARDS_STAGED_INPUT[sf_dir] = in_dir
    atexit.register(shutil.rmtree, in_dir, ignore_errors=True)
    return in_dir


def q_stream_shards_roundtrip(spark, sf_dir):
    """The foreachBatch bridge from a standing curation stream to the
    training-interchange sinks (NEW round 9 —
    erde_spark/streaming/shards.py::stream_to_shards), VALUE-checked
    end to end: the documents table stages as TWO mtime-pinned input
    files, a file stream with maxFilesPerTrigger=1 lands each micro-
    batch as its own batch-<id> WebDataset shard directory (the
    format's documented idempotent-replay layout), and the glob read
    unions the batches — doc_id, md5(text) and lang must equal the
    source exactly, so a row lost or duplicated across micro-batch
    boundaries turns the gate red. The gate also asserts >= 2 batch
    directories (a single-batch run would not test the bridge)."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from erde_spark.io.wds import read_webdataset
    from erde_spark.streaming.shards import stream_to_shards
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'text', 'lang')
    in_dir = _stream_shards_staged_input(spark, sf_dir, d)
    base = tempfile.mkdtemp(prefix='erde_stream_shards_')
    schema = T.StructType([T.StructField('doc_id', T.LongType()),
                           T.StructField('text', T.StringType()),
                           T.StructField('lang', T.StringType())])
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 1).parquet(in_dir))
    out_dir = os.path.join(base, 'out')
    q = stream_to_shards(stream, out_dir,
                         os.path.join(base, 'ckpt'), fmt='wds',
                         columns={'text': 'txt', 'lang': 'json'},
                         shard_size=2000)
    q.awaitTermination()
    n_batches = len(glob.glob(os.path.join(out_dir, 'batch-*')))
    if n_batches < 2:
        raise AssertionError(
            f'expected >= 2 micro-batch directories, got {n_batches}')
    back = read_webdataset(spark, os.path.join(out_dir, 'batch-*'),
                           {'txt': ('text', 'str'),
                            'json': ('lang', 'str')})
    res = (back.select(F.col('key').cast('long').alias('doc_id'),
                       F.md5(F.coalesce(F.col('text'), F.lit('')))
                       .alias('text_md5'), 'lang')
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return res


_STREAM_SHARDS_SQL = """
SELECT doc_id, md5(COALESCE(text, '')) AS text_md5, lang
FROM documents ORDER BY doc_id
"""


def q_sentence_split_check(spark, sf_dir):
    """Rule-based sentence segmentation (NEW round 9 — the granularity
    bitext mining / sentence dedup operate at;
    erde_spark/scale/text.py::split_sentences, one JVM lookaround
    split, codegen) VALUE-checked by construction: each document is
    built as doc_id%5+1 planted sentences ('Word<j> of doc <i> here.'
    single-space-joined), so the splitter must recover EXACTLY that
    many sentences and their byte-exact text — DuckDB rebuilds the
    expected sentence list arithmetically and compares count + an
    order-sensitive md5. RE2 can't replay the lookarounds, which is
    exactly why the gate pins outputs, not the regex. Abbreviation /
    initial / quote edge semantics are pinned in tests/test_scale.py."""
    from erde_spark.scale.text import split_sentences
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    sent = lambda j: F.concat(F.lit('Word'), j.cast('string'),
                              F.lit(' of doc '),
                              F.col('doc_id').cast('string'),
                              F.lit(' here.'))
    text = F.array_join(F.transform(
        F.sequence(F.lit(0), (F.col('doc_id') % 5).cast('int')), sent),
        ' ')
    docs = d.select('doc_id', text.alias('text'))
    arr = split_sentences('text')
    return (docs.select(
        'doc_id',
        F.size(arr).cast('long').alias('n_sentences'),
        F.md5(F.array_join(arr, '|')).alias('sent_md5'))
        .orderBy('doc_id'))


_SENTENCE_SPLIT_SQL = """
SELECT doc_id,
       doc_id % 5 + 1 AS n_sentences,
       md5(array_to_string(list_transform(range(doc_id % 5 + 1),
           j -> 'Word' || j || ' of doc ' || doc_id || ' here.'), '|'))
       AS sent_md5
FROM documents ORDER BY doc_id
"""


def q_fim_transform_check(spark, sf_dir):
    """Fill-in-the-middle augmentation (Bavarian et al. 2022; NEW this
    session — erde_spark/scale/text.py::fim_transform) VALUE-checked on
    the REAL documents table: selection (16-bit md5 bucket, rate 0.5)
    and both character cut points (independent 32-bit md5 hashes mod
    len+1) are engine-portable arithmetic, so DuckDB rebuilds every
    transformed string byte-for-byte — md5 of the PSM rendering must
    match exactly, transformed and untouched rows both covered. The
    Spark side is one whole-stage-codegen projection (no Python, no
    shuffle)."""
    from erde_spark.scale.text import fim_transform
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id', 'text')
    out = fim_transform(d, rate=0.5)
    return (out.select('doc_id',
                       F.col('fim_applied').cast('int').alias('fim_applied'),
                       F.md5(F.col('fim_text')).alias('fim_md5'))
            .orderBy('doc_id'))


_FIM_TRANSFORM_SQL = """
WITH f AS (
  SELECT doc_id, text,
         substring(md5(doc_id || '|fim'), 1, 4) < '8000' AS sel,
         (('0x' || substring(md5(doc_id || ':fim1'), 1, 8))::BIGINT
          % (length(text) + 1))::INT AS c1,
         (('0x' || substring(md5(doc_id || ':fim2'), 1, 8))::BIGINT
          % (length(text) + 1))::INT AS c2
  FROM documents),
g AS (SELECT doc_id, text, sel, least(c1, c2) AS lo,
             greatest(c1, c2) AS hi FROM f)
SELECT doc_id, CASE WHEN sel THEN 1 ELSE 0 END AS fim_applied,
       md5(CASE WHEN sel THEN
           '<PRE>' || substring(text, 1, lo) || '<SUF>'
           || substring(text, hi + 1) || '<MID>'
           || substring(text, lo + 1, hi - lo)
           ELSE text END) AS fim_md5
FROM g ORDER BY doc_id
"""


def q_chat_spans_check(spark, sf_dir):
    """SFT conversation prep (NEW this session —
    erde_spark/scale/sft.py): every document becomes a planted ChatML
    conversation of doc_id%3+2 alternating turns with arithmetic
    contents; the gate checks the LOSS MASK — each assistant turn's
    [start, end) character span in the rendered byte stream — plus an
    md5 of the full rendering, against DuckDB replaying the template
    arithmetic (prefix-sum window over turn lengths). ``span_ok`` is
    the Spark-side self-check that substring(rendered, start, end)
    really is the turn content, so a span that drifts while the
    arithmetic happens to agree still turns the gate red."""
    from erde_spark.scale.sft import assistant_spans, render_chat
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    turn = lambda j: F.struct(
        F.when(j % 2 == 0, 'user').otherwise('assistant').alias('role'),
        F.concat(F.lit('Turn '), j.cast('string'),
                 F.lit(' of conversation '),
                 F.col('doc_id').cast('string'), F.lit('.'))
        .alias('content'))
    conv = d.select(
        F.col('doc_id').alias('conv_id'),
        F.transform(F.sequence(F.lit(0), (F.col('doc_id') % 3 + 1)
                               .cast('int')), turn).alias('turns'))
    rendered = render_chat(conv).select('conv_id', 'rendered')
    spans = assistant_spans(conv)
    content = F.expr('substring(rendered, start + 1, end - start)')
    expected = F.concat(F.lit('Turn '), F.col('turn_idx').cast('string'),
                        F.lit(' of conversation '),
                        F.col('conv_id').cast('string'), F.lit('.'))
    return (spans.join(rendered, 'conv_id')
            .select('conv_id', 'turn_idx', 'start', 'end',
                    (content == expected).cast('int').alias('span_ok'),
                    F.md5('rendered').alias('rendered_md5'))
            .orderBy('conv_id', 'turn_idx'))


_CHAT_SPANS_SQL = """
WITH t AS (
  SELECT doc_id, j,
         CASE WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         'Turn ' || j || ' of conversation ' || doc_id || '.' AS content
  FROM documents, UNNEST(range(doc_id % 3 + 2)) AS u(j)),
w AS (SELECT doc_id, j, role, content,
        COALESCE(SUM(12 + length(role) + 1 + length(content) + 11)
          OVER (PARTITION BY doc_id ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        AS before
      FROM t),
r AS (SELECT doc_id,
        md5(string_agg('<|im_start|>' || role || chr(10) || content
            || '<|im_end|>' || chr(10), '' ORDER BY j)) AS rendered_md5
      FROM t GROUP BY doc_id)
SELECT w.doc_id AS conv_id, j AS turn_idx,
       (before + 12 + length(role) + 1)::BIGINT AS start,
       (before + 12 + length(role) + 1 + length(content))::BIGINT AS "end",
       1 AS span_ok, r.rendered_md5
FROM w JOIN r ON w.doc_id = r.doc_id
WHERE role = 'assistant' ORDER BY conv_id, turn_idx
"""


def q_compression_filter_check(spark, sf_dir):
    """zlib compression-ratio quality signal (NEW this session —
    erde_spark/scale/text.py::compression_ratio) VALUE-checked by
    planted classes an order of magnitude apart: even doc_ids carry a
    60x-repeated phrase (deflate ratio ~19), odd doc_ids a
    non-repeating 512-char md5 chain (hex alphabet, ratio ~1.9 — the
    4-bit/char Huffman floor). The classifier column (ratio >= 4)
    must reproduce doc_id parity exactly; the wide margin makes the
    gate robust to zlib build differences, which is the documented
    contract of the op (thresholds are margins, never pins)."""
    from erde_spark.scale.text import compression_ratio
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    chain = F.array_join(F.transform(F.sequence(F.lit(0), F.lit(15)),
                                     lambda k: F.md5(F.encode(F.concat(
                                         F.col('doc_id').cast('string'),
                                         F.lit(':'), k.cast('string')),
                                         'UTF-8'))), '')
    text = F.when(F.col('doc_id') % 2 == 0,
                  F.repeat(F.lit('token stream '), 60)).otherwise(chain)
    out = compression_ratio(d.select('doc_id', text.alias('text')))
    return (out.select('doc_id', (F.col('compression_ratio') >= 4.0)
                       .cast('int').alias('high_compress'))
            .orderBy('doc_id'))


_COMPRESSION_FILTER_SQL = """
SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
       AS high_compress
FROM documents ORDER BY doc_id
"""


def q_curation_pipeline_check(spark, sf_dir):
    """The composed curation pipeline (NEW this session —
    erde_spark/scale/pipeline.py::curate, quality -> compression ->
    PII -> exact dedup fused into one plan) VALUE-checked by a planted
    four-class corpus where each stage has exactly one class to kill:
    doc_id%4==0 is passing prose (60 words mixing stopwords and md5
    hex, ratio ~1.7 — ids %8==0 carry an email the PII stage must
    redact), %4==1 is the same prose keyed per 8-block so 8m+1/8m+5
    are exact duplicates (dedup keeps 8m+1), %4==2 is stopword-free
    hex salad (quality kills), %4==3 is a 40x-repeated phrase
    (compression kills at ratio ~21 vs the 12 cap). Survivors AND
    their final bytes (md5, post-redaction) are pure arithmetic for
    DuckDB."""
    from erde_spark.scale.pipeline import curate
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    key0 = F.col('doc_id').cast('string')
    key1 = (F.col('doc_id') - F.col('doc_id') % 8).cast('string')

    def prose(key):
        # hex words carry a 'w' prefix so digit-only runs can never
        # form an accidental phone/card match for the PII stage
        word = lambda j: (
            F.when(j % 5 == 0, F.lit('the'))
            .when(j % 7 == 1, F.lit('of'))
            .otherwise(F.concat(F.lit('w'), F.substring(
                F.md5(F.encode(F.concat(
                    key, F.lit(':'), j.cast('string')), 'UTF-8')), 1, 3))))
        return F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(59)), word), ' ')

    gib_word = lambda j: F.substring(F.md5(F.encode(F.concat(
        F.lit('g:'), key0, F.lit(':'), j.cast('string')), 'UTF-8')), 1, 4)
    gib = F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(59)), gib_word), ' ')
    pii_sfx = F.concat(F.lit(' mail bob'), key0, F.lit('@ex'), key0,
                       F.lit('.com now'))
    cls = F.col('doc_id') % 4
    text = (F.when(cls == 0,
                   F.when(F.col('doc_id') % 8 == 0,
                          F.concat(prose(key0), pii_sfx))
                   .otherwise(prose(key0)))
            .when(cls == 1, prose(key1))
            .when(cls == 2, gib)
            .otherwise(F.rtrim(F.repeat(F.lit('the data of rows '), 40))))
    # materialize the planted corpus before the pipeline: the fixture
    # text is a 60-md5 synthesis expression, and the curate stages are
    # FILTERS over text — Catalyst inlines the whole synthesis into
    # every gopher flag / compression / PII / fingerprint reference
    # (the before-plan's Filter conditions each embed the full 4-branch
    # 60-md5 tree), so the fixture was re-synthesized ~10x per row.
    # One narrow job materializes it once; the timed pipeline then
    # measures curate, not the fixture generator.
    docs = d.select('doc_id', text.alias('text')).localCheckpoint(eager=True)
    out = curate(docs, steps=('quality', 'compression', 'pii', 'dedup'))
    return (out.select('doc_id', F.md5('text').alias('text_md5'))
            .orderBy('doc_id'))


def q_avro_roundtrip(spark, sf_dir):
    """Avro Object Container File export/ingest (NEW this session —
    erde_spark/io/avro_ocf.py, hand-implemented from the Apache Avro
    1.11 spec because Spark's avro module is an undeployed external
    package) VALUE-checked by a full round trip: the documents table
    writes to deflate-coded OCF shards executor-side (rolling +
    attempt-staged) and reads back through binaryFile + mapInPandas;
    doc_id, md5(text) and lang must match the source exactly — DuckDB
    computes them from the table directly. The encoder is additionally
    cross-validated BOTH WAYS against the reference Apache Avro jar in
    tests/test_avro.py."""
    import shutil
    import tempfile

    from erde_spark.io.avro_ocf import read_avro, write_avro
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id', 'text', 'lang')
    base = tempfile.mkdtemp(prefix='erde_avro_') + '/docs.avro'
    write_avro(d.repartition(8), base, shard_size=2000)
    back = read_avro(spark, base)
    res = (back.select('doc_id',
                       F.md5(F.coalesce(F.col('text'), F.lit('')))
                       .alias('text_md5'), 'lang')
           .orderBy('doc_id').localCheckpoint(eager=True))
    shutil.rmtree(os.path.dirname(base), ignore_errors=True)
    return res


_AVRO_ROUNDTRIP_SQL = """
SELECT doc_id, md5(COALESCE(text, '')) AS text_md5, lang
FROM documents ORDER BY doc_id
"""



def q_ul2_mix_check(spark, sf_dir):
    """UL2 mixture-of-denoisers (Tay et al. 2022; NEW this session —
    erde_spark/scale/text.py::ul2_mix) VALUE-checked end to end on the
    REAL documents table: md5 buckets assign R/S/X (5000/2500/2500 per
    10000), and DuckDB byte-replays ALL THREE objectives — R and X are
    the span-corruption arithmetic at their published densities
    (0.15/3 and 0.5/8), S is the prefix-LM cut — plus the paradigm
    tags, via md5 of inputs and targets per document."""
    from erde_spark.scale.text import ul2_mix
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id', 'text')
    out = ul2_mix(d)
    return (out.select('doc_id', 'denoiser',
                       F.md5('inputs').alias('inputs_md5'),
                       F.md5('targets').alias('targets_md5'))
            .orderBy('doc_id'))


def _ul2_span_branch_sql(alias, base, dppm, mspan):
    return f"""
{alias}_g AS (
  SELECT doc_id, toks, n,
         greatest(1, (n * {dppm}) // ({100 * mspan})) AS n_spans
  FROM {base}),
{alias}_h AS (
  SELECT doc_id, toks, n, n_spans, u.i,
         (u.i * n) // n_spans AS s0,
         ((u.i + 1) * n) // n_spans AS e0
  FROM {alias}_g, UNNEST(range(n_spans)) AS u(i)),
{alias}_o AS (
  SELECT *, e0 - s0 AS seg_len,
         least(greatest(1, ((e0 - s0) * {dppm}) // 10000),
               e0 - s0) AS li
  FROM {alias}_h),
{alias}_p AS (
  SELECT doc_id, i,
         ('0x' || substring(md5(doc_id || ':' || i || ':'), 1, 8))
           ::BIGINT % (seg_len - li + 1) AS off,
         '<extra_id_' || i || '>' AS sent,
         toks, s0, e0, li
  FROM {alias}_o),
{alias}_q AS (
  SELECT doc_id, i,
         array_to_string(list_filter(
           [array_to_string(toks[s0 + 1 : s0 + off], ' '),
            sent,
            array_to_string(toks[s0 + off + li + 1 : e0], ' ')],
           x -> x <> ''), ' ') AS inp,
         sent || ' ' || array_to_string(
           toks[s0 + off + 1 : s0 + off + li], ' ') AS tgt
  FROM {alias}_p),
{alias} AS (
  SELECT doc_id, string_agg(inp, ' ' ORDER BY i) AS inputs,
         string_agg(tgt, ' ' ORDER BY i) AS targets
  FROM {alias}_q GROUP BY doc_id)"""


_UL2_MIX_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
n0 AS (SELECT doc_id, toks, len(toks) AS n FROM t),
b AS (SELECT doc_id, toks, n,
             ('0x' || substring(md5(doc_id || ':ul2'), 1, 4))::BIGINT
             % 10000 AS bkt
      FROM n0),
rb AS (SELECT doc_id, toks, n FROM b WHERE bkt < 5000 AND n > 0),
xb AS (SELECT doc_id, toks, n FROM b WHERE bkt >= 7500 AND n > 0),
{_ul2_span_branch_sql('rr', 'rb', 1500, 300)},
{_ul2_span_branch_sql('xx', 'xb', 5000, 800)},
ss AS (
  SELECT doc_id,
         array_to_string(toks[1 : cut], ' ') AS inputs,
         array_to_string(toks[cut + 1 : n], ' ') AS targets
  FROM (SELECT doc_id, toks, n,
          CASE WHEN n >= 2 THEN
            (('0x' || substring(md5(doc_id || ':ul2s'), 1, 8))::BIGINT
             % (n - 1)) + 1
          ELSE 0 END AS cut
        FROM b WHERE bkt >= 5000 AND bkt < 7500 AND n > 0)),
u AS (
  SELECT b.doc_id,
         CASE WHEN bkt < 5000 THEN 'R'
              WHEN bkt < 7500 THEN 'S' ELSE 'X' END AS denoiser,
         CASE WHEN bkt < 5000 THEN '[NLU]'
              WHEN bkt < 7500 THEN '[S2S]' ELSE '[NLG]' END AS tag,
         COALESCE(rr.inputs, ss.inputs, xx.inputs, '') AS raw_in,
         COALESCE(rr.targets, ss.targets, xx.targets, '') AS raw_tgt
  FROM b LEFT JOIN rr ON b.doc_id = rr.doc_id
         LEFT JOIN ss ON b.doc_id = ss.doc_id
         LEFT JOIN xx ON b.doc_id = xx.doc_id)
SELECT doc_id, denoiser,
       md5(CASE WHEN raw_in = '' THEN tag
                ELSE tag || ' ' || raw_in END) AS inputs_md5,
       md5(raw_tgt) AS targets_md5
FROM u ORDER BY doc_id
"""


def q_audio_dedup_check(spark, sf_dir):
    """Audio near-dup detection via the Haitsma-Kalker robust hash
    (ISMIR 2002; NEW this session — erde_spark/scale/audiohash.py,
    completing the multimodal dedup tier: text MinHash / image pHash /
    video frame-pHash / AUDIO) VALUE-checked by planted twins: each
    4-block's ids 4m and 4m+1 carry the SAME 0.75 s broadband 24-tone
    mix (seeded by m, exact copies — they share every distinct
    sub-fingerprint: >= 20 measured over 300 seeds vs 0 cross-content,
    threshold 8), while ids 4m+2 / 4m+3 carry their own mixes. The
    construction is capped at doc_id < 1200 and the synthesis is one
    vectorized outer-product per doc — the first cut (2 s / 48 tones /
    every doc) measured 170 s at sf0.1, ALL of it construction, none
    of it operator. Volume invariance — the property that makes HK
    bits robust — is pinned in tests/test_audiohash.py where the
    margin is controlled (a stationary weak-seed tone mix can share
    as few as 7 distinct hashes across a 0.7x re-quantization; a
    1250-group gate must not ride a min-7 margin). The found pair set
    is pure doc_id arithmetic. A green row certifies WAV round-trip,
    framing/FFT/banding, the differential bit construction, the
    stop-frame filter plumbing and the equi-join candidate shape end
    to end."""
    import pandas as pd

    from erde_spark.scale.audiohash import audio_dedup_pairs
    from erde_spark.scale.multimodal import ASSET_SCHEMA
    from erde_spark.session import spread_to_cores
    d = _t(spark, sf_dir, 'documents')['documents'] \
        .select('doc_id').where(F.col('doc_id') < 1200)

    def _synth(batches):
        import numpy as np

        from erde_spark.scale.png import encode_wav
        sr = 16000
        t = np.arange(int(sr * 0.75)) / sr

        def mix(seed, n_tones=24):
            rng = np.random.RandomState(seed)
            freqs = rng.uniform(300, 1900, n_tones)
            amps = rng.uniform(0.5, 1.0, n_tones)
            return (amps * np.sin(2 * np.pi * np.outer(t, freqs)
                                  + np.arange(n_tones))).sum(axis=1) \
                / n_tones

        for pdf in batches:
            rows = []
            for did in pdf['doc_id']:
                did = int(did)
                grp, pos = divmod(did, 4)
                sig = mix(grp) if pos in (0, 1) \
                    else mix(1_000_000 + did)
                x = (sig * 16384).astype(np.int16)[:, None]
                blob = encode_wav(x, framerate=sr)
                rows.append((did, bytearray(blob),
                             ('audio/wav', None, None, len(blob))))
            yield pd.DataFrame(rows,
                               columns=['asset_id', 'media', 'meta'])

    # spread the synthesis+FFT over the executors: the filtered scan
    # would otherwise land in one or two input partitions
    assets = spread_to_cores(d).mapInPandas(_synth, schema=ASSET_SCHEMA)
    pairs = audio_dedup_pairs(assets, min_shared=8)
    return (pairs.select('id_a', 'id_b', F.lit(1).alias('found'))
            .orderBy('id_a'))


_AUDIO_DEDUP_SQL = """
SELECT doc_id AS id_a, doc_id + 1 AS id_b, 1 AS found
FROM documents WHERE doc_id % 4 = 0 AND doc_id < 1200 ORDER BY id_a
"""



def q_domain_pagerank_check(spark, sf_dir):
    """Link-graph centrality for crawl curation (NEW this session —
    erde_spark/scale/graphrank.py::pagerank, the iterative-algorithm
    member of the scale surface) VALUE-checked end to end: a planted
    50-domain graph (linear + quadratic edge families over doc_id
    residues — the quadratic one gives non-uniform in-degrees, self
    loops dropped; the edge set is n-independent once every residue
    appears, so ranks are identical at every SF) runs 5 power
    iterations on Spark while DuckDB replays the SAME iterations as
    five chained CTEs. Ranks compare at 9 decimals — per-node fan-in
    is a handful of doubles, leaving ~1e-14 cross-engine noise, five
    orders below the comparison. Sum-to-1 is implied by the oracle
    matching (its own sum is exactly 1)."""
    from erde_spark.scale.graphrank import pagerank
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    D = 50
    r = F.col('doc_id') % D
    e1 = d.select(r.alias('src'),
                  ((F.col('doc_id') * 7 + 3) % D).alias('dst'))
    e2 = d.select(r.alias('src'), ((r * r + 1) % D).alias('dst'))
    edges = e1.unionByName(e2).where(F.col('src') != F.col('dst'))
    out = pagerank(edges, iterations=5)
    return (out.select(F.col('node').cast('long').alias('node'),
                       F.round('rank', 9).alias('rank'))
            .orderBy('node'))


def _pagerank_sql(iters=5, D=50, damping=0.85):
    pre = f"""
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % {D} AS src, (doc_id * 7 + 3) % {D} AS dst
    FROM documents
    UNION ALL
    SELECT doc_id % {D} AS src,
           ((doc_id % {D}) * (doc_id % {D}) + 1) % {D} AS dst
    FROM documents)
  WHERE src <> dst),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION SELECT dst FROM e)),
o AS (SELECT src, COUNT(*) AS outd FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 / {D} AS rank FROM nodes)"""
    body = ''
    prev = 'r0'
    for k in range(1, iters + 1):
        body += f""",
r{k} AS (
  SELECT n.node,
         (1.0 - {damping}) / {D}
         + {damping} * COALESCE(SUM(p.rank / o.outd), 0) AS rank
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN {prev} p ON p.node = e.src
  LEFT JOIN o ON o.src = e.src
  GROUP BY n.node)"""
        prev = f'r{k}'
    return pre + body + f"""
SELECT node, round(rank, 9) AS rank FROM {prev} ORDER BY node"""


_DOMAIN_PAGERANK_SQL = _pagerank_sql()


def q_temperature_mix_check(spark, sf_dir):
    """Temperature-based corpus mixing (NEW this session — the mT5
    §3.1/T5 §3.4.1 exponentiated smoothing;
    erde_spark/scale/sampling.py::temperature_mix) VALUE-checked by a
    rational construction: doc_id-rank splits documents 1:4 into
    'small'/'big' (exact fifths), so alpha=0.5 weights are sqrt(1/5):
    sqrt(4/5) = EXACTLY 1:2 — small (n/5) binds and is kept whole,
    big's quota is exactly 2n/5, and the kept big rows are the
    hash-rank top (sample_key 4-hex of md5(doc_id), ties by id) —
    the ENTIRE kept set is DuckDB arithmetic, including which rows of
    the downsampled group survive."""
    from erde_spark.scale.sampling import temperature_mix
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id')
    w = Window.orderBy('doc_id')
    ranked = d.withColumn('_r', F.row_number().over(w) - 1)
    n5 = 5 * (ranked.count() // 5)
    docs = (ranked.filter(F.col('_r') < n5)
            .withColumn('grp', F.when(F.col('_r') < n5 // 5, 'small')
                        .otherwise('big')))
    out = temperature_mix(docs.select('doc_id', 'grp'), 'grp',
                          'doc_id', alpha=0.5)
    return out.select('doc_id', 'grp').orderBy('doc_id')


_TEMPERATURE_MIX_SQL = """
WITH r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rk,
                  COUNT(*) OVER () AS n FROM documents),
f AS (SELECT doc_id, rk, 5 * (n // 5) AS n5 FROM r
      WHERE rk < 5 * (n // 5)),
g AS (SELECT doc_id, n5,
             CASE WHEN rk < n5 // 5 THEN 'small' ELSE 'big' END AS grp
      FROM f),
k AS (SELECT doc_id, grp, n5,
             ROW_NUMBER() OVER (PARTITION BY grp
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 4),
                        doc_id) AS hrk
      FROM g)
SELECT doc_id, grp FROM k
WHERE grp = 'small' OR hrk <= 2 * n5 / 5
ORDER BY doc_id
"""


def q_span_corrupt_check(spark, sf_dir):
    """T5-style span corruption (NEW this session —
    erde_spark/scale/text.py::span_corrupt, the masked-span denoising
    objective) VALUE-checked on the REAL documents table: the
    deterministic variant uses only floor/mod integer arithmetic over
    md5 offsets, so DuckDB rebuilds BOTH the sentinel-masked inputs
    and the span targets byte-for-byte (md5 of each) for every
    document — segmentation, span placement, sentinel numbering and
    edge handling (spans touching segment edges must not double
    separators) all pinned at once."""
    from erde_spark.scale.text import span_corrupt
    d = _t(spark, sf_dir, 'documents')['documents'].select('doc_id', 'text')
    out = span_corrupt(d, noise_density=0.15, mean_span=3.0)
    return (out.select('doc_id',
                       F.md5('inputs').alias('inputs_md5'),
                       F.md5('targets').alias('targets_md5'))
            .orderBy('doc_id'))


_SPAN_CORRUPT_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
s AS (SELECT doc_id, toks, n,
             greatest(1, (n * 1500) // 30000) AS n_spans
      FROM n WHERE n > 0),
g AS (SELECT doc_id, toks, n, n_spans, u.i,
             (u.i * n) // n_spans AS s0,
             ((u.i + 1) * n) // n_spans AS e0
      FROM s, UNNEST(range(n_spans)) AS u(i)),
h AS (SELECT *, e0 - s0 AS seg_len,
             least(greatest(1, ((e0 - s0) * 1500) // 10000),
                   e0 - s0) AS li
      FROM g),
o AS (SELECT *,
             ('0x' || substring(md5(doc_id || ':' || i || ':'), 1, 8))
               ::BIGINT % (seg_len - li + 1) AS off,
             '<extra_id_' || i || '>' AS sent
      FROM h),
p AS (SELECT doc_id, i, sent,
             array_to_string(list_filter(
               [array_to_string(toks[s0 + 1 : s0 + off], ' '),
                sent,
                array_to_string(toks[s0 + off + li + 1 : e0], ' ')],
               x -> x <> ''), ' ') AS inp,
             sent || ' ' || array_to_string(
               toks[s0 + off + 1 : s0 + off + li], ' ') AS tgt
      FROM o),
agg AS (SELECT doc_id,
          string_agg(inp, ' ' ORDER BY i) AS inputs,
          string_agg(tgt, ' ' ORDER BY i) AS targets
        FROM p GROUP BY doc_id)
SELECT d.doc_id, md5(COALESCE(a.inputs, '')) AS inputs_md5,
       md5(COALESCE(a.targets, '')) AS targets_md5
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""


def q_hard_negative_check(spark, sf_dir):
    """Hard-negative mining for contrastive training (NEW this session
    — erde_spark/scale/similarity.py::mine_hard_negatives, the DPR
    §5.2 shape) VALUE-checked by planted 2-d geometry: vec(i) =
    [1, (i%101)/101], so cosine(i, j) = cos(atan(a_j) - atan(a_i)) is
    strictly monotone in the angle gap — DuckDB reproduces the EXACT
    top-5 per anchor by ranking |atan(a_j) - atan(a_i)| (adjacent-gap
    separation ~6e-5, nine orders above float noise; equal-residue
    ties broken by id on both sides). Same-residue pairs (cosine
    exactly 1) are the labeled positives: the anti-join must spend no
    negative slot on them, which is the op's defining property."""
    from erde_spark.scale.similarity import mine_hard_negatives
    e = _t(spark, sf_dir, 'embeddings')['embeddings'].select('vec_id')
    vec = F.array(F.lit(1.0),
                  ((F.col('vec_id') % 101) / F.lit(101.0)).cast('double'))
    corpus = e.select('vec_id', vec.alias('embedding'))
    queries = corpus.where(F.col('vec_id') < 40)
    ids = e.select('vec_id', (F.col('vec_id') % 101).alias('_r'))
    pos = (ids.alias('a').join(
        ids.alias('b'),
        (F.col('a._r') == F.col('b._r'))
        & (F.col('a.vec_id') != F.col('b.vec_id')))
        .select(F.col('a.vec_id').alias('query_id'),
                F.col('b.vec_id').alias('vec_id'))
        .where(F.col('query_id') < 40))
    out = mine_hard_negatives(corpus, queries, pos, k=5, method='exact')
    return (out.select('query_id', 'vec_id', 'neg_rank')
            .orderBy('query_id', 'neg_rank'))


_HARD_NEGATIVE_SQL = """
WITH v AS (SELECT vec_id, vec_id % 101 AS r,
                  atan((vec_id % 101) / 101.0) AS th FROM embeddings),
q AS (SELECT vec_id AS query_id, r, th FROM v WHERE vec_id < 40),
cand AS (
  SELECT q.query_id, v.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY abs(v.th - q.th), v.vec_id)
         AS neg_rank
  FROM q JOIN v ON v.vec_id <> q.query_id AND v.r <> q.r)
SELECT query_id, vec_id, neg_rank FROM cand WHERE neg_rank <= 5
ORDER BY query_id, neg_rank
"""


_CURATION_PIPELINE_SQL = """
WITH w AS (
  SELECT d.doc_id, u.j,
         CASE WHEN u.j % 5 = 0 THEN 'the'
              WHEN u.j % 7 = 1 THEN 'of'
              ELSE 'w' || substring(md5(d.doc_id || ':' || u.j), 1, 3)
         END AS w0,
         CASE WHEN u.j % 5 = 0 THEN 'the'
              WHEN u.j % 7 = 1 THEN 'of'
              ELSE 'w' || substring(md5(
                   (d.doc_id - d.doc_id % 8) || ':' || u.j), 1, 3)
         END AS w1
  FROM documents d, UNNEST(range(60)) AS u(j)),
p AS (SELECT doc_id,
        string_agg(w0, ' ' ORDER BY j) AS prose0,
        string_agg(w1, ' ' ORDER BY j) AS prose1
      FROM w GROUP BY doc_id)
SELECT doc_id,
       md5(CASE WHEN doc_id % 4 = 0 AND doc_id % 8 = 0
                THEN prose0 || ' mail [PII] now'
                WHEN doc_id % 4 = 0 THEN prose0
                ELSE prose1 END) AS text_md5
FROM p
WHERE doc_id % 4 = 0 OR doc_id % 8 = 1
ORDER BY doc_id
"""


def q_bitext_mine_check(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    CCMatrix/WikiMatrix curation scoring; NEW round 8) VALUE-checked by
    planted translations: the even-vec_id half of the embeddings table
    is the 'source language'; the 'target' side carries the SAME vector
    under vec_id+1 (an exact translation: cosine 1, ~10 sigma above any
    random 64-dim cosine on this near-orthogonal corpus). Every planted
    pair must mine at rank 1 with ratio margin >= 1.5 (measured floor
    1.76 at sf0.01) and NOTHING else may mine — the kept set is pure
    doc_id arithmetic for DuckDB. Impl:
    erde_spark/scale/similarity.py::bitext_mine."""
    from erde_spark.scale.similarity import bitext_mine
    e = _t(spark, sf_dir, 'embeddings')['embeddings'] \
        .select('vec_id', 'embedding')
    src = e.where(F.col('vec_id') % 2 == 0)
    tgt = src.select((F.col('vec_id') + 1).alias('vec_id'), 'embedding')
    out = bitext_mine(src, tgt, k=4, threshold=1.5)
    return out.select('src_id', 'tgt_id').orderBy('src_id')


_BITEXT_MINE_SQL = """
SELECT vec_id AS src_id, vec_id + 1 AS tgt_id
FROM embeddings WHERE vec_id % 2 = 0
ORDER BY src_id
"""


def q_bitext_lsh_check(spark, sf_dir):
    """The bitext miner's DECLARED 100 TB retriever (NEW round 9 —
    verdict ask #4): ``method='lsh'`` replaces the bounded-broadcast
    exact k-NN with the hyperplane-LSH bucket equi-join
    (erde_spark/scale/similarity.py::lsh_topk), so neither side is
    ever broadcast whole. Same planted construction as
    bitext_mine_check — the target side carries the SAME vector under
    vec_id+1 — which makes LSH recall exactly 1.0 BY CONSTRUCTION, not
    probabilistically: an identical normalized vector produces
    identical sign bits under every hyperplane, so each twin shares
    its partner's bucket in every probe regardless of seed, scores
    cosine 1 (the maximum) and lands at retrieval rank 1. The kept
    pair set is therefore pure vec_id arithmetic for DuckDB; threshold
    1.0 is provably safe for the planted pairs (a twin-only
    neighborhood gives margin c/(c/2+c/2) = exactly 1.0 in IEEE;
    bucket collisions only dilute the kNN means and RAISE the planted
    margin — measured max 4.19 at sf0.01, 7.13 at sf0.1, nothing
    non-planted mined at either scale). Margins/cosines themselves are
    collision- and fp-sensitive, so the gate pins the pair IDs only."""
    from erde_spark.scale.similarity import bitext_mine
    e = _t(spark, sf_dir, 'embeddings')['embeddings'] \
        .select('vec_id', 'embedding')
    src = e.where(F.col('vec_id') % 2 == 0)
    tgt = src.select((F.col('vec_id') + 1).alias('vec_id'), 'embedding')
    out = bitext_mine(src, tgt, k=4, threshold=1.0, method='lsh')
    return out.select('src_id', 'tgt_id').orderBy('src_id')


_BITEXT_LSH_SQL = _BITEXT_MINE_SQL


def q_perplexity_rank_check(spark, sf_dir):
    """CCNet-style LM perplexity filtering (NEW round 9 — the missing
    member of the published curation trio: perplexity + quality
    classifier + dedup). A trigram stupid-backoff LM (Brants 2007)
    trains on the real documents (one codegen gram explode + one
    map-side-combined groupBy; erde_spark/scale/lm.py), then scores
    the corpus AND a deterministic hex-salad twin per document whose
    tokens are all OOV (each position backs off to alpha^2/N under the
    trigram). VALUE-checked on two axes: n_tokens is exact arithmetic
    DuckDB replays with the shared tokenizer expression, and real_wins
    = ppl(real) < ppl(twin) must be 1 for EVERY document — perplexity
    scores themselves are fp-order-sensitive across engines, so the
    gate pins the decision, like quality_classifier. Backoff/OOV
    arithmetic is IEEE-pinned bit-for-bit in tests/test_lm.py."""
    from erde_spark.scale.lm import score_perplexity, train_ngram_lm
    docs = (_t(spark, sf_dir, 'documents')['documents']
            .select('doc_id', 'text').where(F.col('text').isNotNull()))
    lm = train_ngram_lm(docs, n=3, min_count=2)
    gib = F.concat_ws(' ', F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.substring(
            F.md5(F.concat_ws('-', F.col('doc_id').cast('string'),
                              i.cast('string'))), 1, 8)))
    twins = docs.select((F.col('doc_id') + 1000000).alias('doc_id'),
                        gib.alias('text'))
    # NOTE (r12 optimization round): checkpointing `scored` here was
    # tried and REVERTED — the real/twin doc_id-range filters push
    # below the tokenize/backoff-join pipeline into each union branch
    # (the 8 scans in the before-plan are filtered-empty early), so
    # there is no double evaluation to save; the checkpoint measured
    # SLOWER (6.7 s vs 5.1 s same-phase) by forcing a full
    # materialization the branch filters avoid.
    scored = score_perplexity(docs.unionByName(twins), lm,
                              broadcast_counts=True)
    real = scored.where(F.col('doc_id') < 1000000) \
        .select('doc_id', 'n_tokens', F.col('perplexity').alias('_pr'))
    twin = scored.where(F.col('doc_id') >= 1000000) \
        .select((F.col('doc_id') - 1000000).alias('doc_id'),
                F.col('perplexity').alias('_pt'))
    return (real.join(twin, 'doc_id')
            .select('doc_id', 'n_tokens',
                    (F.col('_pr') < F.col('_pt')).cast('int')
                    .alias('real_wins'))
            .orderBy('doc_id'))


_PERPLEXITY_RANK_SQL = """
SELECT doc_id,
       len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS n_tokens,
       1 AS real_wins
FROM documents
WHERE text IS NOT NULL
  AND len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                      x -> x <> '')) > 0
ORDER BY doc_id
"""


def q_geo_transform_registry(spark, sf_dir):
    """The generated EPSG catalogue tail (round-8: epsg_registry.csv,
    emitted by tools/gen_epsg_registry.py) exercised end-to-end:
    round trips through World Mercator 3395 (method 9804, GN 7-2
    Makassar pin in pytest), JGD2000 Japan CS I 2443 (GSI origins),
    North Pole LAEA Europe 3575 (9820 polar aspect) and the Pulkovo
    1942 GK CM variant 28464, micro-degree error pinned to EXACTLY
    ZERO by the oracle — plus the zone-arithmetic invariant DuckDB can
    replay: the 6-deg GK zone-4 grid (built-in 28404) and its CM twin
    (CSV 28464) differ by EXACTLY the 4,000,000 m zone false-easting
    prefix at identical northing. Impl: erde_spark/geo/ops.py
    (merc_fwd, laea polar aspect, _load_registry_csv)."""
    from erde_spark.functions.geo import st_centroid_xy, st_point, st_transform
    cust = _t(spark, sf_dir, 'customer')['customer']
    k = F.col('c_custkey')
    cols = [k.alias('c_custkey')]
    for name, code, (lon0, lon_s), (lat0, lat_s) in [
            ('wm', 3395, (-179.0, 100.0 / 358.0), (-60.0, 100.0 / 120.0)),
            ('jp', 2443, (128.5, 100.0 / 2.0), (32.0, 100.0 / 2.8)),
            ('np', 3575, (-179.0, 100.0 / 358.0), (55.0, 100.0 / 26.0)),
            ('gk', 28464, (20.0, 100.0 / 2.0), (50.0, 100.0 / 8.0))]:
        lon = lon0 + (k % 100) / lon_s
        lat = lat0 + ((k * 7) % 80) / lat_s
        rt = st_centroid_xy(st_transform(
            st_transform(st_point(lon, lat), 4326, code), code, 4326))
        dlon = F.abs(rt['x'] - lon)
        dlon = F.least(dlon, F.abs(dlon - 360.0))
        cols += [F.round(lat, 6).alias(f'{name}_lat'),
                 F.round((dlon + F.abs(rt['y'] - lat))
                         * 1e6, 0).cast('bigint').alias(f'{name}_err')]
    p = st_point(F.lit(21.3), F.lit(55.0))
    e_zone = st_centroid_xy(st_transform(p, 4326, 28404))['x']
    e_cm = st_centroid_xy(st_transform(p, 4326, 28464))['x']
    cols.append(F.round(e_zone - e_cm, 3).alias('fe_delta'))
    return cust.select(*cols)


_GEO_TRANSFORM_REGISTRY_SQL = """
SELECT c_custkey,
  ROUND(-60.0 + ((c_custkey * 7) % 80) * 120.0 / 100.0, 6) AS wm_lat,
  CAST(0 AS BIGINT) AS wm_err,
  ROUND(32.0 + ((c_custkey * 7) % 80) * 2.8 / 100.0, 6) AS jp_lat,
  CAST(0 AS BIGINT) AS jp_err,
  ROUND(55.0 + ((c_custkey * 7) % 80) * 26.0 / 100.0, 6) AS np_lat,
  CAST(0 AS BIGINT) AS np_err,
  ROUND(50.0 + ((c_custkey * 7) % 80) * 8.0 / 100.0, 6) AS gk_lat,
  CAST(0 AS BIGINT) AS gk_err,
  4000000.0 AS fe_delta
FROM customer
"""


# ---------------------------------------------------------------- registry
# Each query is declared exactly once, here. queries(),
# oracle_sql() and bench_queries() (bench.py's headline set) all derive
# from this table; add a query by adding one row. Rows keep the
# historical registration order. Queries without oracle SQL are
# approximate (LSH recall), external-service backed, or not
# SQL-expressible; the shared component machinery of the LSH dedups is
# still value-gated via cluster_components_jaccard.

#: (name, query_fn, oracle SQL or None, in bench.py's headline set)
QUERY_TABLE = [
    ('routing_route_check', q_routing_route_check,
     _ROUTING_ROUTE_CHECK_SQL, True),
    ('od_table_check', q_od_table_check, _OD_TABLE_CHECK_SQL, True),
    ('isochrone_grid_check', q_isochrone_grid_check,
     _ISOCHRONE_GRID_CHECK_SQL, True),
    ('stream_join_attrib', q_stream_join_attrib,
     _STREAM_JOIN_ATTRIB_SQL, True),
    ('d4_check', q_d4_check, _D4_CHECK_SQL, True),
    ('bloom_decontaminate', q_bloom_decontaminate, _BLOOM_DECON_SQL, True),
    ('zarr_roundtrip', q_zarr_roundtrip, _ZARR_ROUNDTRIP_SQL, True),
    ('top_tokens', q_top_tokens, _TOP_TOKENS_SQL, True),
    ('token_count_bpe', q_token_count_bpe, _TOKEN_BPE_SQL, True),
    ('text_analysis', q_text_analysis, _TEXT_SQL, True),
    ('simhash_check', q_simhash_check, _SIMHASH_CHECK_SQL, False),
    ('readability', q_readability, _READABILITY_SQL, True),
    ('passage_span_check', q_passage_span_check,
     _PASSAGE_SPAN_CHECK_SQL, False),
    ('minhash_cluster_check', q_minhash_cluster_check,
     _MINHASH_CLUSTER_CHECK_SQL, False),
    ('embedding_lsh_check', q_embedding_lsh_check,
     _EMBEDDING_LSH_CHECK_SQL, False),
    ('embedding_cluster_check', q_embedding_cluster_check,
     _EMBEDDING_CLUSTER_CHECK_SQL, False),
    ('ann_rank1_check', q_ann_rank1_check, _ANN_RANK1_CHECK_SQL, False),
    ('dsir_weights', q_dsir_weights, _DSIR_SQL, True),
    ('image_phash_dedup', q_image_phash_dedup, _IMAGE_PHASH_SQL, True),
    ('video_metadata', q_video_metadata, _VIDEO_META_SQL, True),
    ('mojibake_fix', q_mojibake_fix, _MOJIBAKE_SQL, True),
    ('url_canonical_dedup', q_url_canonical_dedup, _URL_CANON_SQL, True),
    ('robots_filter', q_robots_filter, _ROBOTS_SQL, True),
    ('warc_ingest', q_warc_ingest, _WARC_INGEST_SQL, True),
    ('geo_line_buffer', q_geo_line_buffer, _LINE_BUFFER_SQL, False),
    ('bitext_mine_check', q_bitext_mine_check, _BITEXT_MINE_SQL, True),
    ('geo_transform_registry', q_geo_transform_registry,
     _GEO_TRANSFORM_REGISTRY_SQL, True),
    ('text_quality_filter', q_text_quality_filter,
     _quality_filter_sql(), True),
    ('html_extract', q_html_extract, _html_sql(), True),
    ('token_divergence', q_token_divergence, _TOKEN_DIVERGENCE_SQL, True),
    ('passage_dedup', q_passage_dedup, _PASSAGE_DEDUP_SQL, False),
    ('dedup_against_snapshot', q_dedup_against_snapshot,
     _DEDUP_AGAINST_SQL, False),
    ('domain_filter', q_domain_filter, _DOMAIN_FILTER_SQL, False),
    ('events_stateful_check', q_events_stateful_check,
     _EVENTS_STATEFUL_CHECK_SQL, True),
    ('bpe_merges_check', q_bpe_merges_check, _BPE_MERGES_CHECK_SQL, True),
    ('audio_features_check', q_audio_features_check, _AUDIO_CHECK_SQL, True),
    ('multimodal_features_check', q_multimodal_features_check,
     _MULTIMODAL_CHECK_SQL, True),
    ('split_no_leakage', q_split_no_leakage, _SPLIT_NO_LEAKAGE_SQL, False),
    ('bpe_pair_stats', q_bpe_pair_stats, _BPE_PAIR_SQL, False),
    ('dedup_cluster_sizes', q_dedup_cluster_sizes,
     _DEDUP_CLUSTER_SIZES_SQL, False),
    ('cap_per_domain', q_cap_per_domain, _CAP_PER_DOMAIN_SQL, True),
    ('dedup_lines_within_doc', q_dedup_lines_within_doc,
     _DEDUP_LINES_SQL, True),
    ('exactsubstr_cut', q_exactsubstr_cut, _EXACTSUBSTR_CUT_SQL, True),
    ('media_decode_mixed', q_media_decode_mixed, _MEDIA_DECODE_SQL, True),
    ('video_frame_dedup', q_video_frame_dedup, _VIDEO_FRAME_DEDUP_SQL, True),
    ('pack_bestfit_check', q_pack_bestfit_check, _PACK_BESTFIT_SQL, True),
    ('wds_roundtrip', q_wds_roundtrip, _WDS_ROUNDTRIP_SQL, True),
    ('tfrecord_roundtrip', q_tfrecord_roundtrip,
     _TFRECORD_ROUNDTRIP_SQL, True),
    ('boilerplate_lines', q_boilerplate_lines, _BOILERPLATE_SQL, True),
    ('nb_classifier', q_nb_classifier, _NB_SQL, True),
    ('chunk_documents', q_chunk_documents, _CHUNK_SQL, True),
    ('langid_nb', q_langid_nb, _LANGID_SQL, True),
    # -- tail: driver-green in earlier rounds (history in CHANGES.md) --
    ('geo_transform', q_geo_transform, _GEO_TRANSFORM_SQL, False),
    ('geo_transform_families', q_geo_transform_families,
     _GEO_TRANSFORM_FAMILIES_SQL, False),
    ('lookup_customer', q_lookup_customer, _LOOKUP_SQL, True),
    ('crossjoin_dims', q_crossjoin_dims, _CROSSJOIN_SQL, False),
    ('column_stats', q_column_stats, _STATS_SQL, True),
    ('window_top3_orders', q_window_top3, _WINDOW_SQL, True),
    ('asof_last_click', q_asof_last_click, _ASOF_SQL, True),
    ('resample_locf', q_resample_locf, _RESAMPLE_SQL, True),
    ('percentile_prices', q_percentile_prices, _PERCENTILE_SQL, True),
    ('string_funcs', q_string_funcs, _STRING_FUNCS_SQL, False),
    ('anti_join_no_urgent', q_anti_join, _ANTI_SQL, False),
    ('scalar_subquery_acctbal', q_scalar_subquery, _SCALAR_SUB_SQL, False),
    ('sketch_cardinality', q_sketch_cardinality, _SKETCH_SQL, False),
    ('events_hourly', q_events_hourly, _EVENTS_HOURLY_SQL, True),
    ('events_sessionize', q_events_sessionize, _SESSIONIZE_SQL, True),
    ('range_band_join', q_range_band_join, _RANGE_BAND_SQL, True),
    ('full_outer_priority', q_full_outer_priority, _FULL_OUTER_SQL, False),
    ('pivot_priority_revenue', q_pivot_priority_revenue, _PIVOT_SQL, False),
    ('rollup_pricing', q_rollup_pricing, _ROLLUP_SQL, True),
    ('corpus_mix', q_corpus_mix, _CORPUS_MIX_SQL, True),
    ('pack_sequences', q_pack_sequences, _PACK_SQL, True),
    ('oov_rate', q_oov_rate, _OOV_SQL, True),
    ('profile_orders', q_profile_orders, _PROFILE_SQL, False),
    ('geo_rect_area', q_geo_rect_area, _GEO_AREA_SQL, True),
    ('geo_line_length', q_geo_line_length, _GEO_LENGTH_SQL, False),
    ('geo_buffer_area', q_geo_buffer_area, _GEO_BUFFER_SQL, True),
    ('sample_hash', q_sample_hash, _SAMPLE_HASH_SQL, False),
    ('bm25_search', q_bm25_search, _BM25_SQL, True),
    ('set_ops', q_set_ops, _SET_OPS_SQL, False),
    ('tpch_q12_late_lines', q_tpch_q12, _Q12_SQL, False),
    ('repetition_ngrams', q_repetition_ngrams, _REPETITION_SQL, True),
    ('dedup_jaccard', q_dedup_jaccard, _DEDUP_JACCARD_SQL, False),
    ('dedup_containment', q_dedup_containment, _DEDUP_CONTAIN_SQL, False),
    ('corpus_health', q_corpus_health, _corpus_health_sql(), False),
    ('sample_stratified', q_sample_stratified, _SAMPLE_STRAT_SQL, False),
    ('sample_split', q_sample_split, _SAMPLE_SPLIT_SQL, False),
    ('pii_scrub', q_pii_scrub, _pii_sql(), True),
    ('domain_stats', q_domain_stats, _domain_stats_sql(), True),
    ('lm_quality_score', q_lm_quality_score, _LM_QUALITY_SQL, True),
    ('backfill_resume_check', q_backfill_resume_check,
     _BACKFILL_RESUME_SQL, False),
    ('weighted_sample_check', q_weighted_sample_check,
     _WEIGHTED_SAMPLE_SQL, False),
    ('zst_roundtrip', q_zst_roundtrip, _ZST_ROUNDTRIP_SQL, False),
    ('npy_roundtrip', q_npy_roundtrip, _NPY_ROUNDTRIP_SQL, False),
    ('semdedup_check', q_semdedup_check, _SEMDEDUP_SQL, False),
    ('inverted_index_check', q_inverted_index_check,
     _INVERTED_INDEX_SQL, False),
    ('postings_lookup_check', q_postings_lookup_check,
     _POSTINGS_LOOKUP_SQL, False),
    ('upsert_latest_check', q_upsert_latest_check, _UPSERT_LATEST_SQL, False),
    ('zst_stream_ingest', q_zst_stream_ingest, _ZST_STREAM_SQL, False),
    ('kneser_ney_check', q_kneser_ney_check, _KNESER_NEY_SQL, False),
    ('mmr_select_check', q_mmr_select_check, _MMR_SELECT_SQL, False),
    ('safetensors_roundtrip', q_safetensors_roundtrip,
     _SAFETENSORS_ROUNDTRIP_SQL, False),
    ('normalize_text_check', q_normalize_text_check,
     _NORMALIZE_TEXT_SQL, False),
    ('geo_transform_polar', q_geo_transform_polar,
     _GEO_TRANSFORM_POLAR_SQL, True),
    ('geo_lonlat_detect', q_geo_lonlat_detect, _LONLAT_SQL, False),
    ('geo_buffer_dissolve', q_geo_buffer_dissolve,
     _BUFFER_DISSOLVE_SQL, False),
    ('sjoin_points_rects', q_sjoin_points_rects, _SJOIN_SQL, True),
    ('snearest_rect', q_snearest_rect, _SNEAREST_SQL, True),
    ('sjfull_geoms', q_sjfull_geoms, _SJFULL_SQL, False),
    ('sagg_rect_demand', q_sagg_rect_demand, _SAGG_SQL, True),
    ('sfilter_outside', q_sfilter_outside, _SFILTER_SQL, True),
    ('slookup_nation', q_slookup_nation, _SLOOKUP_SQL, False),
    ('c4_filter', q_c4_filter, _C4_FILTER_SQL, True),
    ('warc_stream_ingest', q_warc_stream_ingest, _WARC_INGEST_SQL, True),
    ('streaming_dedup_check', q_streaming_dedup_check,
     _STREAMING_DEDUP_CHECK_SQL, False),
    ('dedup_exact', q_dedup_exact, _DEDUP_EXACT_SQL, True),
    ('quality_classifier', q_quality_classifier,
     _QUALITY_CLASSIFIER_SQL, True),
    ('dedup_jaccard_ngram', q_dedup_jaccard_ngram,
     _DEDUP_JACCARD_NGRAM_SQL, False),
    ('cluster_components_jaccard', q_cluster_components_jaccard,
     _CLUSTER_CC_SQL, False),
    ('dedup_embedding', q_dedup_embedding, _DEDUP_EMBEDDING_SQL, False),
    ('similarity_topk', q_similarity_topk, _SIMILARITY_TOPK_SQL, True),
    ('contamination_check', q_contamination, _CONTAMINATION_SQL, True),
    ('date_funcs', q_date_funcs, _DATE_FUNCS_SQL, False),
    ('array_funcs', q_array_funcs, _ARRAY_FUNCS_SQL, False),
    ('tpch_q3_topk', q_tpch_q3, _Q3_SQL, True),
    ('tpch_q5_region_revenue', q_tpch_q5, _Q5_SQL, True),
    ('tpch_q4_semijoin', q_tpch_q4, _Q4_SQL, False),
    ('tpch_q13_custdist', q_tpch_q13, _Q13_SQL, False),
    ('tpch_q18_bigorders', q_tpch_q18, _Q18_SQL, False),
    ('tpch_q19_disjunctive', q_tpch_q19, _Q19_SQL, False),
    ('tpch_q10_returns', q_tpch_q10, _Q10_SQL, False),
    ('tpch_q2_min_supplier', q_tpch_q2, _Q2_SQL, False),
    ('tpch_q7_nation_volume', q_tpch_q7, _Q7_SQL, False),
    ('tpch_q8_mktshare', q_tpch_q8, _Q8_SQL, False),
    ('tpch_q9_profit', q_tpch_q9, _Q9_SQL, False),
    ('tpch_q11_important_parts', q_tpch_q11, _Q11_SQL, False),
    ('tpch_q14_promo', q_tpch_q14_promo, _Q14_SQL, False),
    ('tpch_q15_top_supplier', q_tpch_q15, _Q15_SQL, False),
    ('tpch_q16_supplier_cnt', q_tpch_q16, _Q16_SQL, False),
    ('tpch_q17_small_qty', q_tpch_q17, _Q17_SQL, False),
    ('tpch_q20_heavy_shippers', q_tpch_q20, _Q20_SQL, False),
    ('tpch_q21_waiting', q_tpch_q21, _Q21_SQL, False),
    ('tpch_q22_idle_customers', q_tpch_q22, _Q22_SQL, False),
    ('cube_orders', q_cube_orders, _CUBE_SQL, False),
    ('distinct_segments', q_distinct_segments, _DISTINCT_SQL, False),
    ('supplier_by_nation', q_supplier_by_nation, _SUPPLIER_SQL, False),
    ('window_running_revenue', q_window_running, _WINDOW_RUNNING_SQL, False),
    ('events_sliding', q_events_sliding, _EVENTS_SLIDING_SQL, False),
    ('events_json', q_events_json, _EVENTS_JSON_SQL, True),
    ('grouping_sets_orders', q_grouping_sets, _GROUPING_SETS_SQL, False),
    ('tpch_q1_pricing', q_tpch_q1, _Q1_SQL, True),
    ('tpch_q6_revenue', q_tpch_q6, _Q6_SQL, False),
    ('subset_dsl', q_subset_dsl, _SUBSET_SQL, False),
    ('span_corrupt_check', q_span_corrupt_check, _SPAN_CORRUPT_SQL, True),
    ('temperature_mix_check', q_temperature_mix_check,
     _TEMPERATURE_MIX_SQL, True),
    ('avro_roundtrip', q_avro_roundtrip, _AVRO_ROUNDTRIP_SQL, True),
    ('ul2_mix_check', q_ul2_mix_check, _UL2_MIX_SQL, True),
    ('audio_dedup_check', q_audio_dedup_check, _AUDIO_DEDUP_SQL, True),
    ('domain_pagerank_check', q_domain_pagerank_check,
     _DOMAIN_PAGERANK_SQL, True),
    ('hard_negative_check', q_hard_negative_check, _HARD_NEGATIVE_SQL, True),
    ('curation_pipeline_check', q_curation_pipeline_check,
     _CURATION_PIPELINE_SQL, True),
    ('bitext_lsh_check', q_bitext_lsh_check, _BITEXT_LSH_SQL, True),
    ('fim_transform_check', q_fim_transform_check, _FIM_TRANSFORM_SQL, True),
    ('chat_spans_check', q_chat_spans_check, _CHAT_SPANS_SQL, True),
    ('compression_filter_check', q_compression_filter_check,
     _COMPRESSION_FILTER_SQL, True),
    ('perplexity_rank_check', q_perplexity_rank_check,
     _PERPLEXITY_RANK_SQL, True),
    ('megatron_roundtrip', q_megatron_roundtrip,
     _MEGATRON_ROUNDTRIP_SQL, True),
    ('ccnet_buckets_check', q_ccnet_buckets_check, _CCNET_BUCKETS_SQL, True),
    ('global_shuffle_check', q_global_shuffle_check,
     _GLOBAL_SHUFFLE_SQL, True),
    ('unimax_mix_check', q_unimax_mix_check, _UNIMAX_MIX_SQL, True),
    ('stream_shards_roundtrip', q_stream_shards_roundtrip,
     _STREAM_SHARDS_SQL, True),
    ('sentence_split_check', q_sentence_split_check,
     _SENTENCE_SPLIT_SQL, True),
    ('text_winnow_pairs', q_text_winnow, None, False),
    ('audio_features', q_audio_features, None, True),
    ('bpe_train_merges', q_bpe_train_merges, None, False),
    ('dedup_minhash_lsh', q_dedup_minhash_lsh, None, True),
    ('dedup_simhash', q_dedup_simhash, None, True),
    ('dedup_embedding_lsh', q_dedup_embedding_lsh, None, False),
    ('dedup_embedding_clusters', q_dedup_embedding_clusters, None, True),
    ('dedup_clusters', q_dedup_clusters, None, True),
    ('similarity_lsh', q_similarity_lsh, None, True),
    ('similarity_ivf', q_similarity_ivf, None, False),
    ('multimodal_features', q_multimodal_features, None, True),
    ('routing_route', q_routing_route, None, False),
    ('routing_od_table', q_routing_od_table, None, False),
    ('routing_isochrone', q_routing_isochrone, None, False),
    ('events_stateful', q_events_stateful, None, False),
    ('streaming_neardup_backfill', q_streaming_neardup_backfill, None, True),
    ('similarity_ivfpq', q_similarity_ivfpq, None, True),
    ('winnow_passages', q_winnow_passages, None, False),
    ('d4_survivors_check', q_d4_survivors_check, _D4_SURVIVORS_SQL, False),
    ('manifest_snapshot', q_manifest_snapshot, _MANIFEST_SNAPSHOT_SQL, False),
    ('stream_manifest_check', q_stream_manifest_check,
     _STREAM_MANIFEST_SQL, False),
]

#: the 50-query gate window, composed stalest-first from
#: tools/check_rotation.py's printed repack; rotation history is in
#: CHANGES.md
_R12_WINDOW = [
    'd4_survivors_check', 'manifest_snapshot', 'stream_manifest_check',
    'chunk_documents', 'langid_nb', 'geo_transform',
    'geo_transform_families', 'geo_transform_polar', 'geo_lonlat_detect',
    'geo_buffer_dissolve', 'sjoin_points_rects', 'snearest_rect',
    'sjfull_geoms', 'sagg_rect_demand', 'sfilter_outside',
    'slookup_nation', 'c4_filter', 'warc_stream_ingest',
    'streaming_dedup_check', 'dedup_exact', 'quality_classifier',
    'dedup_jaccard_ngram', 'cluster_components_jaccard',
    'dedup_embedding', 'similarity_topk', 'contamination_check',
    'date_funcs', 'array_funcs', 'tpch_q3_topk',
    'tpch_q5_region_revenue', 'tpch_q4_semijoin', 'tpch_q13_custdist',
    'tpch_q18_bigorders', 'tpch_q19_disjunctive', 'tpch_q10_returns',
    'tpch_q2_min_supplier', 'tpch_q7_nation_volume', 'tpch_q8_mktshare',
    'tpch_q9_profit', 'tpch_q11_important_parts', 'tpch_q14_promo',
    'tpch_q15_top_supplier', 'tpch_q16_supplier_cnt',
    'tpch_q17_small_qty', 'tpch_q20_heavy_shippers', 'tpch_q21_waiting',
    'tpch_q22_idle_customers', 'cube_orders', 'distinct_segments',
    'supplier_by_nation',
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, ``_R12_WINDOW`` first. Order matters: the
    correctness gate checks the FIRST 50 entries positionally, so the
    window must hold exactly those 50; the rest follow in table order."""
    window = list(_R12_WINDOW)
    assert len(window) == 50 and len(set(window)) == 50
    base = {name: fn for name, fn, _, _ in QUERY_TABLE}
    out = {k: base[k] for k in window}
    out.update((k, v) for k, v in base.items() if k not in out)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB equivalent of every SQL-expressible query."""
    return {name: sql for name, _, sql, _ in QUERY_TABLE if sql is not None}


def bench_queries() -> list[str]:
    """bench.py's headline set, in table order."""
    return [name for name, _, _, in_bench in QUERY_TABLE if in_bench]
