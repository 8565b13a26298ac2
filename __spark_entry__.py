"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (TPC-H-Q1-shaped pricing summary
routed through the engine's ``sql`` transformer) on sf0.001.

``queries()`` — one callable per implemented operator from SURVEY §2;
``oracle_sql()`` — the DuckDB-equivalent SQL for each.

Numeric note: aggregate money columns are cast to DECIMAL before
summing in BOTH engines (float summation order is engine-dependent;
decimals are associative), then the FINAL result is cast to DOUBLE in
both engines: the exact decimal sum rounds to the same IEEE-754 value
on both sides, and a double normalizes identically under every driver
hash path (DuckDB's pandas path renders any DECIMAL as float64 while
Spark keeps Decimal objects — a scale-2 sum like 138014.00 would
stringify as '138014.0' vs '138014.00' and hash-mismatch; doubles
can't diverge). Exact integers above 2^53 (uint64 surface) are
emitted as STRING for the same reason.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transferia_spark.cdc import apply_changelog, collapse
from transferia_spark.cdc.synthetic import OP_CASE_SQL, events_changelog
from transferia_spark.functions import portable as pf
from transferia_spark.operators import Transformation, build
from transferia_spark.operators.curation import (
    PII_PATTERNS,
    sql_pii_scrub,
    sql_quality_gopher,
    sql_sample_bucket,
)
from transferia_spark.operators.multimodal import attach_payload
from transferia_spark.operators.textstats import LEXICONS, TOKEN_REGEX
from transferia_spark.schema.colschema import TableID
from transferia_spark.session import load_tables

SF0001 = "/root/testdata/sf0.001"

# PII pattern strings for the oracle (no single quotes inside — safe to
# inline in SQL literals)
pf_email, pf_ipv4, pf_phone = (p for _, p, _ in PII_PATTERNS)
_SQL_PII_SCRUB = sql_pii_scrub("text")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir, [name])[name]


def _register(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


# --------------------------------------------------------------------------
# SQL surface (the reference's `sql` transformer → Spark SQL itself)
# --------------------------------------------------------------------------

TPCH_Q1 = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
  COUNT(*) AS count_order
FROM table
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# Round-4 TPC-H completion: the remaining eight query shapes, expressed
# in dialect-common SQL so the SAME text runs in Spark and DuckDB
# (exact-decimal sums + single-op double divisions keep hashes stable).
# "-ish" where the testdata lacks partsupp / comment / receiptdate.

TPCH_Q2ISH = """
    SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_acctbal
    FROM part p
      JOIN lineitem l ON l.l_partkey = p.p_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE' AND p.p_size = 15
      AND s.s_acctbal = (
        SELECT MIN(s2.s_acctbal)
        FROM lineitem l2
          JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
          JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
"""

TPCH_Q8 = """
    SELECT o_year,
           CAST(sum_nation AS DOUBLE) / CAST(sum_all AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             SUM(CASE WHEN n2.n_name = 'NATION_3'
                      THEN CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(1 - l_discount AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS sum_nation,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(18,2))) AS sum_all
      FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY EXTRACT(YEAR FROM o_orderdate)
    ) t
"""

TPCH_Q9ISH = """
    SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS profit
    FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
"""

TPCH_Q11ISH = """
    SELECT n_name,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS value
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    HAVING CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) >
      (SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) * 0.04
       FROM supplier)
"""

TPCH_Q13ISH = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) t
    GROUP BY c_count
"""

TPCH_Q17ISH = """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_brand = 'Brand#1' AND p_size <= 5
      AND l.l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                      / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""

TPCH_Q20ISH = """
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 40.0)
"""

TPCH_Q21ISH = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation surface via the `sql` transformer (batch exposed as
    virtual table `table`, ≈ clickhouse_local.go:63-66)."""
    li = _t(spark, sf_dir, "lineitem")
    return build("sql", query=TPCH_Q1).apply_df(li)


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               o_orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
        """
    )


def q_tpch_q5ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: dims broadcast automatically (small side < threshold)."""
    _register(spark, sf_dir, ["region", "nation", "customer", "orders", "lineitem"])
    return spark.sql(
        """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        """
    )


# these three run the SAME ANSI text on Spark and DuckDB — the whole
# point of the `sql` transformer surface (SURVEY §2.5): Catalyst and the
# oracle agree on semi-joins, anti-joins, and conditional aggregation
TPCH_Q4ISH = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1994-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 45
      )
    GROUP BY o_orderpriority
"""

TPCH_Q14ISH = """
    SELECT CAST(CAST(promo AS DOUBLE) / CAST(total AS DOUBLE) * 100.0 AS DOUBLE)
           AS promo_pct
    FROM (
      SELECT
        SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(18,2))
            ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo,
        SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(1 - l_discount AS DECIMAL(18,2))) AS total
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    ) t
"""

TPCH_Q16ISH = """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_size IN (1, 3, 5)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_size
"""

TPCH_Q7ISH = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l_shipdate) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                           AND TIMESTAMP '1996-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
"""

TPCH_Q10ISH = """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""

TPCH_Q18ISH = """
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS total, t.sum_qty
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200
      ) t ON o_orderkey = t.l_orderkey
"""

TPCH_Q12ISH = """
    SELECT l_returnflag,
           SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS high_line_count,
           SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY l_returnflag
"""

TPCH_Q15ISH = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

TPCH_Q19ISH = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
"""

TPCH_Q22ISH = """
    SELECT c_nationkey, count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*)
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
"""


def q_tpch_q4ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (Catalyst rewrites the subquery)."""
    _register(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(TPCH_Q4ISH)


def q_tpch_q14ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation over a fact⋈dim join; decimal-exact sums,
    one double division at the end (identical bits both engines)."""
    _register(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(TPCH_Q14ISH)


def q_tpch_q16ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN → null-aware anti join + count distinct."""
    _register(spark, sf_dir, ["part", "lineitem", "supplier"])
    return spark.sql(TPCH_Q16ISH)


def q_tpch_q7ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-joined dim (nation×2) volume shipping; both nation sides
    broadcast, fact tables shuffle on their join keys only."""
    _register(spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation"])
    return spark.sql(TPCH_Q7ISH)


def q_tpch_q10ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue top-20 (agg → global top-k with tiebreak)."""
    _register(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    return spark.sql(TPCH_Q10ISH)


def q_tpch_q18ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-order detection: HAVING over a pre-aggregated fact join."""
    _register(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(TPCH_Q18ISH)


def q_tpch_q12ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts over a fact-fact join (Q12 shape with
    returnflag standing in for the absent l_shipmode column)."""
    _register(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(TPCH_Q12ISH)


def q_tpch_q15ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE referenced twice (join side + scalar-subquery max) — the
    top-supplier view shape."""
    _register(spark, sf_dir, ["supplier", "lineitem"])
    return spark.sql(TPCH_Q15ISH)


def q_tpch_q19ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-bracket join predicate (Q19 shape on
    brand/size/quantity)."""
    _register(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(TPCH_Q19ISH)


def q_tpch_q22ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery threshold + NOT EXISTS anti join. The threshold
    is an exact-decimal sum divided by a count — bit-identical doubles
    in both engines, so the boundary can't flip rows."""
    _register(spark, sf_dir, ["customer", "orders"])
    return spark.sql(TPCH_Q22ISH)


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .select(
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)")
            ).alias("x")
        )
        .agg(F.sum("x").cast("double").alias("revenue"))
    )


def q_tpch_q2ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated-min scalar subquery picks each part's
    cheapest-account regional supplier (partsupp absent — supplier
    routing rides the lineitem edge)."""
    _register(spark, sf_dir, ["part", "lineitem", "supplier", "nation", "region"])
    return spark.sql(TPCH_Q2ISH)


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: 7-table join, per-year exact-decimal
    volume sums, one double division — the full query (no -ish: every
    needed column exists)."""
    _register(
        spark, sf_dir,
        ["lineitem", "part", "supplier", "orders", "customer", "nation", "region"],
    )
    return spark.sql(TPCH_Q8)


def q_tpch_q9ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-profit by supplier nation and order year
    (profit proxy without ps_supplycost)."""
    _register(spark, sf_dir, ["lineitem", "part", "supplier", "orders", "nation"])
    return spark.sql(TPCH_Q9ISH)


def q_tpch_q11ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: group aggregate filtered by a global scalar-subquery
    threshold (HAVING > fraction of the corpus total)."""
    _register(spark, sf_dir, ["supplier", "nation"])
    return spark.sql(TPCH_Q11ISH)


def q_tpch_q13ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: customer order-count distribution via LEFT JOIN with a
    join-side filter (priority stands in for the absent o_comment)."""
    _register(spark, sf_dir, ["customer", "orders"])
    return spark.sql(TPCH_Q13ISH)


def q_tpch_q17ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: small-quantity revenue under a correlated per-part
    average threshold (exact sum / count keeps the boundary stable)."""
    _register(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(TPCH_Q17ISH)


def q_tpch_q20ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested IN subqueries + grouped HAVING threshold
    selecting suppliers who moved volume of matching parts."""
    _register(spark, sf_dir, ["supplier", "nation", "lineitem", "part"])
    return spark.sql(TPCH_Q20ISH)


def q_tpch_q21ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: EXISTS + NOT EXISTS against the same fact table —
    the sole returnflag='R' supplier on multi-supplier finished orders
    (returnflag stands in for the absent receipt/commit dates)."""
    _register(spark, sf_dir, ["supplier", "lineitem", "orders", "nation"])
    return spark.sql(TPCH_Q21ISH)


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — window-function surface."""
    _register(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
        WHERE rn <= 3
        """
    )


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch shape of the streaming rollup)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


ROLLUP_SQL = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""

SET_OPS_SQL = """
    SELECT 'intersect' AS op, k FROM (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000
    ) a
    UNION ALL
    SELECT 'except' AS op, k FROM (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT o_custkey AS k FROM orders
    ) b
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming interval-join helper in its batch-parity mode
    (same code path a watermarked stream-stream join runs): error
    events matched to the same user's purchases in the preceding
    30 minutes."""
    from transferia_spark.streaming.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id"), F.col("ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        F.col("user_id"),
        F.col("ts").alias("bts"),
    )
    out = interval_join(
        errors,
        buys,
        on=["user_id"],
        left_ts="ts",
        right_ts="bts",
        before="30 minutes",
        after="0 seconds",
    )
    return out.select("err_id", "user_id", "ts", "buy_id", "bts")


SCALAR_FUNCS_SQL = """
    SELECT c_custkey,
           upper(c_name) AS u, lower(c_mktsegment) AS lo,
           substr(c_name, 3, 5) AS sub, length(c_name) AS len,
           concat(c_name, '-', c_mktsegment) AS cat,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'B!') AS coal,
           abs(c_acctbal) AS ab, round(c_acctbal, 1) AS rnd,
           greatest(c_custkey, c_nationkey) AS g,
           least(c_custkey, c_nationkey) AS l,
           c_custkey % 7 AS md, CAST(floor(c_acctbal) AS BIGINT) AS flr,
           replace(c_name, '0', 'O') AS rep,
           lpad(CAST(c_custkey AS STRING), 8, '0') AS pad,
           reverse(c_mktsegment) AS rev,
           CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END AS sgn
    FROM customer
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function surface the reference only gets through
    clickhouse-local (SURVEY §2.5): 16 string/math/conditional
    functions in one statement, same ANSI text on both engines (only
    the STRING/VARCHAR type keyword differs)."""
    _register(spark, sf_dir, ["customer"])
    return spark.sql(SCALAR_FUNCS_SQL)


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize plan over the image payloads (even
    doc_ids in the attach_payload fixture): input/output dims and the
    stub-resample output length are exact integer math, recomputed by
    the oracle from the decode-metadata formulas."""
    d = _t(spark, sf_dir, "documents")
    media = attach_payload(d, text_col="text", id_col="doc_id")
    out = build("image_resize", max_side=200).apply_df(media)
    return out.select(
        "doc_id", "in_w", "in_h", "out_w", "out_h",
        F.length("payload").cast("long").alias("out_bytes"),
    )


def q_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-lite quality signal: quantized unigram-probability sum per
    document under the corpus's own distribution (log-free monotone
    stand-in for LM perplexity ranking)."""
    d = _t(spark, sf_dir, "documents")
    return build("lm_familiarity", text_col="text", id_col="doc_id").apply_df(d)


def q_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-wise audio energy/peak over payload bytes (audio = odd
    doc_ids per the attach_payload fixture). ASCII payloads make the
    int8-PCM interpretation equal to code points, so the DuckDB oracle
    recomputes the exact integer math from the text column."""
    d = _t(spark, sf_dir, "documents")
    media = attach_payload(d, text_col="text", id_col="doc_id")
    out = build("audio_energy", frame_len=32).apply_df(media)
    return out.select("doc_id", "frame_idx", "energy", "peak")


MIX_CFG = dict(
    id_col="doc_id",
    source_col="source",
    weights={"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 0.5},
    total=40,
    seed=11,
)


def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pile/Dolma-style mixture composition: deterministic
    hash-threshold selection to target source proportions (map-side;
    the corpus never shuffles). Sources outside the weight map drop."""
    d = _t(spark, sf_dir, "documents")
    return build("mix_sources", **MIX_CFG).apply_df(d)


BLOCKS_CFG = dict(text_col="text", id_col="doc_id", block_words=8, min_docs=2)


def q_dedup_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level (paragraph-style) duplication scoring: fraction of a
    doc's non-overlapping 8-word blocks that appear in >=2 documents."""
    d = _t(spark, sf_dir, "documents")
    return build("dedup_blocks", **BLOCKS_CFG).apply_df(d)


BM25_CFG = dict(
    text_col="text",
    id_col="doc_id",
    terms=["merge", "window", "stream"],
    top_k=20,
)


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-free BM25 top-k keyword search over documents (per-term
    scores quantized before the per-doc sum — order-free, hash-exact)."""
    d = _t(spark, sf_dir, "documents")
    return build("bm25_rank", **BM25_CFG).apply_df(d)


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — subtotal/grand-total grouping sets (SURVEY
    §2.5: the relational surface the reference delegates to
    clickhouse-local, acquired here via Spark SQL)."""
    _register(spark, sf_dir, ["lineitem"])
    return spark.sql(ROLLUP_SQL)


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one statement (same ANSI text
    on both engines)."""
    _register(spark, sf_dir, ["customer", "orders"])
    return spark.sql(SET_OPS_SQL)


def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / interpolated p90 / distinct count per group.
    Both engines interpolate (1-g)*lo + g*hi over the sorted values —
    verified bit-identical on the doubles at the oracle scale."""
    _register(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT event_type, count(DISTINCT user_id) AS users,
               median(value) AS med, percentile(value, 0.9) AS p90
        FROM events GROUP BY event_type
        """
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe salted join (operators/skew.py): lineitem spread
    over 8 content-hash salts against the broadcast-replicated supplier
    dim, then aggregated — identical answer to the plain join."""
    from transferia_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    # salted_join equi-joins on same-named key columns — align names
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(li, supp, ["l_suppkey"], salts=8, salt_col="l_orderkey")
    return (
        j.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
        )
    )


def q_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (partial per (key, salt), final
    per key) — identical answer to the direct GROUP BY."""
    from transferia_spark.operators.skew import two_phase_agg

    li = _t(spark, sf_dir, "lineitem")
    return two_phase_agg(
        li.select(
            "l_returnflag", F.col("l_quantity").cast("decimal(18,2)").alias("q")
        ),
        ["l_returnflag"],
        partial_aggs={"s": F.sum("q"), "c": F.count(F.lit(1))},
        final_aggs={
            "sum_qty": F.sum("s").cast("double"),
            "n": F.sum("c").cast("long"),
        },
        salts=8,
    )


def q_events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-window (1h window / 30min slide) rollup — the batch shape of
    the sliding variant of streaming/rollup.windowed_rollup; each event
    lands in exactly window/slide windows (oracle enumerates them)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order
    (greatest o_orderdate <= ts). Union-tag + window carry-forward —
    one shuffle per side, no pair enumeration (operators/joins.py).

    The right side is pre-aggregated to one row per (custkey, date) so
    ties can't make the answer nondeterministic in either engine."""
    from transferia_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    r = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("matched_order"))
    )
    return asof_join(
        ev,
        r,
        left_on=["user_id"],
        right_on=["o_custkey"],
        left_time="ts",
        right_time="o_orderdate",
        right_values=["matched_order"],
        matched_time="matched_date",
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via time-binning: for each purchase
    event, count the same user's events inside the following hour. The
    interval side explodes into ~2 hour-bins per row and the join runs
    as an equi-join on (user, bin) — no theta-join, no dedup needed
    (operators/joins.py)."""
    from transferia_spark.operators.joins import range_join

    HOUR_US = 3_600_000_000
    ev = _t(spark, sf_dir, "events")
    # session tz is UTC (load_tables sets it), so NTZ→TZ cast is the identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.select(F.col("event_id"), F.col("user_id"), us.alias("t_us"))
    ivl = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("anchor_id"),
            F.col("user_id").alias("a_user"),
            us.alias("lo_us"),
            (us + F.lit(HOUR_US)).alias("hi_us"),
        )
    )
    joined = range_join(
        pts,
        ivl,
        point_on=["user_id"],
        interval_on=["a_user"],
        point_col="t_us",
        lo_col="lo_us",
        hi_col="hi_us",
        bin_size=float(HOUR_US),
    )
    return (
        joined.filter(F.col("event_id") != F.col("anchor_id"))
        .groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n_follow"))
    )


# --------------------------------------------------------------------------
# Transformer operators (SURVEY §2.4), each through the registry
# --------------------------------------------------------------------------


def q_filter_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    t = build(
        "filter_rows",
        filters=[
            "l_returnflag = 'R' AND l_quantity > 30",
            "l_linestatus = 'O' AND l_discount >= 0.09",
        ],
    )
    return t.apply_df(li).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


def q_filter_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    t = build("filter_columns", include=["o_orderkey", "o_totalprice", "o_orderstatus"])
    return t.apply_df(o)


def q_filter_rows_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    t = build("filter_rows_by_ids", column="c_custkey", ids=[1, 7, 42, 99, 120])
    return t.apply_df(c)


def q_mask_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    t = build("mask_field", columns=["c_name"], salt="pepper")
    return t.apply_df(c).select("c_custkey", "c_name")


def q_convert_to_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t = build("convert_to_string", columns=["event_id", "ts", "value"])
    return t.apply_df(ev).select("event_id", "ts", "value", "event_type")


def q_convert_to_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t = build("convert_to_datetime", columns=["event_id"], unit="s")
    return t.apply_df(ev).select(F.col("event_id").alias("event_ts"), "user_id")


def q_number_to_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    t = build("number_to_float", columns=["c_custkey", "c_nationkey"])
    return t.apply_df(c).select("c_custkey", "c_nationkey", "c_name")


def q_regex_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("regex_replace", columns=["text"], pattern="[aeiou]", replacement="*")
    return t.apply_df(d).select("doc_id", "text")


def q_table_splitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t = build("table_splitter", columns=["event_type"])
    out = t.apply(TableID("", "events"), ev)[0][1]
    return out.select("event_id", F.col("_route").alias("route"))


def q_raw_doc_grouper(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("raw_doc_grouper", keys=["doc_id"])
    return t.apply_df(d).select("doc_id", "doc")


def q_transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A whole per-table plan: filter → project → mask, fused by Catalyst
    into one codegen stage over the scan (the engine's snapshot path)."""
    li = _t(spark, sf_dir, "lineitem")
    chain = (
        Transformation()
        .add(build("filter_rows", filters=["l_quantity >= 45"]))
        .add(
            build(
                "filter_columns",
                include=["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
            )
        )
        .add(build("mask_field", columns=["l_returnflag"], salt="s"))
    )
    out = chain.apply(TableID("", "lineitem"), li)
    return out[0][1]


# --------------------------------------------------------------------------
# CDC surface
# --------------------------------------------------------------------------


def q_cdc_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net effect per key of an I/U/D stream (changeitem_collapse.go
    semantics, as one map-side-combinable aggregation)."""
    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev)
    return collapse(log, keys=["user_id"]).select("user_id", "value", "_op", "_lsn")


def q_snapshot_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent snapshot→replication handoff (cdc/merge.py
    snapshot_plus_changelog; SURVEY §7 hard part 2): a snapshot taken at
    the changelog's LSN midpoint, then the FULL changelog replayed over
    it — per-key events at or below the snapshot LSN are deduped, the
    rest apply. The oracle is the full-log net state, so the hash only
    matches if the overlap dedup neither double-applies nor regresses
    rows (plain apply would replay pre-snapshot events on top of newer
    state)."""
    from transferia_spark.cdc.merge import snapshot_plus_changelog

    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev)
    cut = log.agg(F.max("_lsn")).collect()[0][0] // 2
    snapshot = (
        collapse(log.filter(F.col("_lsn") <= cut), keys=["user_id"])
        .filter(F.col("_op") != "d")
        .select("user_id", "value", "_lsn")
    )
    return snapshot_plus_changelog(snapshot, log, ["user_id"])


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a collapsed changelog to a snapshot (MERGE as anti-join ∪
    upserts — what Delta/Iceberg compile MERGE into)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev, key="c_custkey", value="c_acctbal")
    return apply_changelog(cust, log, keys=["c_custkey"])


def q_cdc_merge_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same merge as cdc_merge, executed through the bucket-scoped
    table (snapshot overwrite → the changelog appended as one delta →
    a fold rewriting only the buckets whose keys changed → read-back)
    — proves the O(touched buckets) fold is result-identical to the
    full-table MERGE oracle."""
    import tempfile

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev, key="c_custkey", value="c_acctbal")
    root = tempfile.mkdtemp(prefix="bucketed_merge_")
    t = BucketedParquetTable(spark, root, keys=["c_custkey"], n_buckets=16)
    t.overwrite(cust)
    t.merge(log)
    t.compact()
    return t.read()


def q_cdc_merge_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read CDC apply (r6 verdict item 1): the same changelog
    as cdc_merge_bucketed lands as THREE O(|batch|) delta commits
    (merge_mode="delta"), and read() resolves base ∪ pending deltas by
    (_lsn, _counter) at scan time — the deltas are asserted still
    unfolded, so a hash match against the eager-merge oracle proves
    base+delta ≡ merged state (the reference's cheap-append-then-
    collapse shape, ≈ clickhouse/sink_shard.go:183)."""
    import tempfile

    from pyspark.sql import functions as F

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev, key="c_custkey", value="c_acctbal")
    root = tempfile.mkdtemp(prefix="delta_merge_")
    t = BucketedParquetTable(
        spark, root, keys=["c_custkey"], n_buckets=16,
        merge_mode="delta", max_deltas=100,  # keep the tail unfolded
    )
    t.overwrite(cust)
    for part in range(3):  # any split works: collapse orders globally
        t.merge(log.filter(F.pmod(F.col("_lsn"), F.lit(3)) == part))
    assert len(t._manifest_doc()["deltas"]) == 3, "tail folded early"
    return t.read()


def q_cdc_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online re-layout mid-stream (BucketedParquetTable.rebucket): the
    snapshot seeds a 4-bucket table, the changelog's older half applies,
    the table re-buckets to 16 (fold + full rewrite under the new
    bucket function + atomic manifest flip), the newer half applies
    under the new layout. A hash match against the eager full-merge
    oracle proves the re-layout preserved every row AND later merges
    route by the new function (a mis-bucketed merge would strand
    updates in buckets the manifest never points at). The reference's
    analog is re-sharding a target through a staged rewrite; the
    bucket function being part of the physical layout is the same
    constraint ClickHouse sharding keys carry (sink_shard.go)."""
    import tempfile

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev, key="c_custkey", value="c_acctbal")
    # split by an LSN cut (NOT parity): the rebucket folds the first
    # half into the base before the second half lands, so per-key
    # order must hold across the batches
    cut = log.agg(F.max("_lsn")).collect()[0][0] // 2
    root = tempfile.mkdtemp(prefix="rebucket_q_")
    t = BucketedParquetTable(spark, root, keys=["c_custkey"], n_buckets=4)
    t.overwrite(cust)
    t.merge(log.filter(F.col("_lsn") <= cut))
    t.rebucket(16)
    assert t.n_buckets == 16 and t._manifest_doc()["n_buckets"] == 16
    t.merge(log.filter(F.col("_lsn") > cut))
    return t.read()


def q_dblog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBLog chunked snapshot ∥ CDC (tasks/dblog.py ≈ pkg/dblog/
    signal_table.go:32 + incremental_iterator.go:61, the reference's
    flagship snapshot-while-replicating trick): customer reads in 4
    key-range chunks, keys touched by the interleaved changelog are
    dropped from each chunk (the watermark rule), then the changelog
    applies on top. Final state: untouched keys keep their snapshot row;
    touched keys carry the changelog's newest payload (c_name NULL — the
    changelog does not carry it); net-deleted keys are gone."""
    from transferia_spark.tasks.dblog import chunked_snapshot_with_cdc

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev, key="c_custkey", value="c_acctbal")
    n = cust.count()
    return chunked_snapshot_with_cdc(
        cust, log, ["c_custkey"], chunk_size=max(1, (n + 3) // 4)
    )


JDBC_PUSH_WHERE = "c_acctbal > 1000 AND c_nationkey < 10"
JDBC_PUSH_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal"]
MONGO_DELIMS = list(range(200, 1400, 200))  # 6 delimiters → 7 id ranges


def q_jdbc_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC snapshot pushdown (sources/jdbc.py pushdown_subquery ≈
    OrderedRead, postgres/storage.go:250-300): filter + projection ride
    INSIDE the SQL shipped to the database, not in a Spark plan node.
    The oracle literally EXECUTES the generated subquery — DuckDB
    standing in for PostgreSQL — while the Spark side runs the semantic
    intent on parquet; a hash match proves the shipped SQL returns
    exactly the engine's intended rows."""
    from transferia_spark.sources.jdbc import pushdown_subquery

    sub = pushdown_subquery(
        TableID("", "customer"), where=JDBC_PUSH_WHERE, columns=JDBC_PUSH_COLS
    )
    assert sub.startswith("(SELECT c_custkey") and "WHERE" in sub
    cust = _t(spark, sf_dir, "customer")
    return cust.filter(JDBC_PUSH_WHERE).select(*JDBC_PUSH_COLS)


def q_jdbc_shard_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-range sharding (sources/jdbc.py shard_by_numeric_range ≈
    shardByNumberSum, sharding_storage.go:215): the N generated
    predicates must tile the key space exactly — every key in exactly
    one shard. Each customer row is tagged with the shard whose
    predicate it satisfies (evaluating the GENERATED SQL predicates via
    F.expr); the oracle recomputes the tiling arithmetic."""
    from transferia_spark.sources.jdbc import shard_by_numeric_range

    cust = _t(spark, sf_dir, "customer")
    lo, hi = cust.agg(F.min("c_custkey"), F.max("c_custkey")).collect()[0]
    preds = shard_by_numeric_range("c_custkey", int(lo), int(hi), 4)
    shard = F.lit(None).cast("int")
    for i, p in enumerate(reversed(preds)):
        shard = F.when(F.expr(p), F.lit(len(preds) - 1 - i)).otherwise(shard)
    return (
        cust.select(shard.alias("shard"), "c_custkey")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_custkey").alias("lo_key"),
            F.max("c_custkey").alias("hi_key"),
        )
    )


def q_oracle_rowid_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle rowid-range unit planning (sources/enterprise.py
    rowid_range_predicates ≈ sharding_storage.go:149): extent metadata
    (derived deterministically from the nation table: one extent per
    nation, rel_file = key%4+1, block_id = key*16, 8 blocks) chunks
    into blocks_per_shard=5 disjoint ROWID BETWEEN predicates, each
    bound encoded in the public 18-char base-64 OOOOOOFFFBBBBBBRRR
    form. The oracle re-derives the chunking AND the base-64 encoding
    in SQL — a predicate-string hash match proves both."""
    from transferia_spark.sources.enterprise import rowid_range_predicates

    nats = sorted(
        r.n_nationkey
        for r in _t(spark, sf_dir, "nation").select("n_nationkey").collect()
    )
    extents = [(int(k) % 4 + 1, int(k) * 16, 8) for k in nats]
    preds = rowid_range_predicates(77, extents, 5)
    rows, i = [], 0
    for k, (rel_file, block_id, blocks) in zip(nats, extents):
        lo = block_id
        while lo < block_id + blocks:
            hi = min(lo + 5, block_id + blocks)
            rows.append((int(k), lo, hi - 1, preds[i]))
            i += 1
            lo = hi
    assert i == len(preds)
    return spark.createDataFrame(
        rows, "n_nationkey long, block_lo long, block_hi long, predicate string"
    )


def q_clickhouse_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ClickHouse live read plane's decoders under the oracle gate
    (r8 verdict item 6; transport pinned by the loopback HTTP e2e in
    tests/test_mongo_clickhouse_sources.py): the same logical rows
    arrive once as FORMAT ArrowStream bytes (server Arrow widths
    narrower than the declared contract — int32/float32 cast up) and
    once as FORMAT JSONEachRow lines; both decodes must hash-match one
    VALUES oracle, row-doubled."""
    import io

    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import types as T

    from transferia_spark.sources.clickhouse import (
        decode_arrow_stream,
        decode_json_each_row,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("ok", T.BooleanType()),
        ]
    )
    tbl = pa.table({
        "id": pa.array([1, 2, None], type=pa.int32()),
        "v": pa.array(["a", None, 'qu"ote'], type=pa.string()),
        "bal": pa.array([1.5, None, -2.25], type=pa.float32()),
        "ok": pa.array([True, False, None], type=pa.bool_()),
    })
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    frames = list(decode_arrow_stream(sink.getvalue(), schema))
    jbody = (
        b'{"id": 1, "v": "a", "bal": 1.5, "ok": true}\n'
        b'{"id": 2, "v": null, "bal": null, "ok": false}\n'
        b'{"id": null, "v": "qu\\"ote", "bal": -2.25, "ok": null}\n'
    )
    frames.append(decode_json_each_row(jbody, schema))
    pdf = pd.concat(frames, ignore_index=True)
    # virgin-session rule: degrade extension NAs to plain None
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return spark.createDataFrame(pdf, schema=schema)


def q_clickhouse_read_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse shard×part unit planning (sources/clickhouse.py
    plan_read_tasks ≈ the reference's shard/part fan-out): one shard
    per region row, parts_per_shard=4 within-shard cityHash64 splits,
    FINAL + tombstone filter + pushed WHERE — the exact (url, SELECT)
    strings a live cluster would receive, recomputed by the oracle."""
    from transferia_spark.sources.clickhouse import ClickHouseSource

    regs = sorted(
        int(r.r_regionkey)
        for r in _t(spark, sf_dir, "region").select("r_regionkey").collect()
    )
    src = ClickHouseSource(
        shard_urls={f"s{k}": f"http://ch-{k}:8123" for k in regs},
        schemas={"orders": "o_orderkey bigint, o_totalprice double"},
        database="db",
        keys={"orders": ["o_orderkey"]},
        deletable=True,
        parts_per_shard=4,
    )
    tasks = src.plan_read_tasks(
        TableID("db", "orders"), where="o_totalprice > 0"
    )
    return spark.createDataFrame(tasks, "url string, query string")


def q_clickhouse_topology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: ClickHouse cluster topology discovery
    (sources/clickhouse.py discover_cluster_shards ≈ the reference's
    cluster-metadata reads in pkg/providers/clickhouse) — the exact
    system.clusters query strings (incl. quote escaping) and the
    shard→endpoint fold (lowest replica_num wins per shard) over a
    nation-derived replica matrix; the oracle rebuilds both with SQL
    string concat + a window rank. The live HTTP plane is pinned by
    the loopback e2e in tests/test_mongo_clickhouse_sources.py."""
    import json as _json

    from transferia_spark.sources.clickhouse import (
        cluster_shards_sql,
        discover_cluster_shards,
    )

    keys = sorted(
        int(r.n_nationkey)
        for r in _t(spark, sf_dir, "nation").select("n_nationkey").collect()
    )
    lines = [
        _json.dumps({
            "shard_num": k % 4 + 1,
            "replica_num": k // 4 + 1,
            "host_address": f"10.0.{k}.1",
            "host_name": f"ch{k}",
        })
        for k in keys
    ]

    class _Scripted:
        def execute(self, sql: str) -> bytes:
            return "\n".join(lines).encode()

    shards = discover_cluster_shards(_Scripted(), "prod", http_port=8123)
    rows = [
        ("sql", "prod", cluster_shards_sql("prod")),
        ("sql", "o'brien", cluster_shards_sql("o'brien")),
    ] + [("shard", name, url) for name, url in sorted(shards.items())]
    return spark.createDataFrame(rows, "kind string, name string, val string")


def q_mongo_bson_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: the pure-Python BSON codec behind the live Mongo wire
    plane (streaming/mongo_wire.py ≈ pkg/providers/mongo through the
    official driver) — nation rows encode into real BSON documents
    (nested doc, array, int32/int64/double/bool/null) on the driver
    and EXECUTOR tasks decode them back; the oracle recomputes every
    projected value relationally. The OP_MSG/OP_QUERY framing, SCRAM
    auth and find/getMore cursor plane are pinned by the loopback
    mongod e2e in tests/test_mongo_wire.py."""
    from transferia_spark.streaming.mongo_wire import encode_document

    nat = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    frames = [
        (
            encode_document({
                "_id": int(r.n_nationkey),
                "name": r.n_name,
                "bal": float(r.n_nationkey) * 1.5,
                "big": int(r.n_nationkey) + 2**40,
                "tags": [str(r.n_nationkey), "x"],
                "meta": {
                    "even": int(r.n_nationkey) % 2 == 0,
                    "region": int(r.n_regionkey),
                    "nil": None,
                },
            }),
        )
        for r in nat
    ]
    df = spark.createDataFrame(frames, "doc binary")

    def run(batches):
        import pandas as pd

        from transferia_spark.streaming.mongo_wire import (
            decode_document,
        )

        for pdf in batches:
            rows = [decode_document(bytes(b))[0] for b in pdf["doc"]]
            yield pd.DataFrame({
                "k": [d["_id"] for d in rows],
                "name": [d["name"] for d in rows],
                "bal": [d["bal"] for d in rows],
                "big": [d["big"] for d in rows],
                "tags": [",".join(d["tags"]) for d in rows],
                "even": [d["meta"]["even"] for d in rows],
                "region": [d["meta"]["region"] for d in rows],
                "nil_is_null": [d["meta"]["nil"] is None for d in rows],
            })

    return df.mapInPandas(
        run,
        "k long, name string, bal double, big long, tags string, "
        "even boolean, region long, nil_is_null boolean",
    )


def q_kafka_sasl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: the Kafka wire plane's security + compression codecs
    (sinks/kafka_wire.py SASL frames + gzip record batches,
    streaming/kafka_source.py KafkaSecurity ≈
    ``pkg/providers/kafka/model_connection.go:8-25``) — exact
    SaslHandshake v1 / SaslAuthenticate v0 bytes, the RFC 4616 PLAIN
    token, the full deterministic SCRAM-SHA-256/512 exchange strings
    (fixed nonce; any regression in the RFC 5802 math breaks the
    hash), a byte-deterministic gzip RecordBatch v2 (mtime=0) decoded
    back out, and the zstd path (``decompress_records``): a hand-built
    multi-block frame (raw+RLE blocks, hex is spec-fixed) plus a
    zstd-compressed batch round-trip — decoded ROWS only, since
    libzstd frame bytes may vary by version. Hash-compared against
    hardcoded oracle rows; the live handshake/broker behavior is
    pinned by the loopback e2es in tests/test_kafka_sasl.py."""
    import base64

    from transferia_spark.sinks.kafka_wire import (
        decode_record_set,
        decompress_records,
        encode_record_batch,
        encode_sasl_authenticate_request,
        encode_sasl_handshake_request,
        plain_sasl_token,
    )
    from transferia_spark.streaming.pg_replication import ScramClient

    server_first = b"r=fixednonceSRV,s=cGVwcGVyNDI=,i=4096"
    rows = [
        ("frame", "handshake",
         encode_sasl_handshake_request(
             "SCRAM-SHA-256", correlation_id=5, client_id="t"
         ).hex()),
        ("frame", "authenticate",
         encode_sasl_authenticate_request(
             b"tok", correlation_id=6, client_id="t"
         ).hex()),
        ("frame", "plain_token", plain_sasl_token("u", "p").hex()),
    ]
    for algo in ("sha256", "sha512"):
        c = ScramClient(
            "svc", "pw", nonce="fixednonce", scram_username="svc",
            algo=algo,
        )
        rows.append(
            (f"scram_{algo}", "client_first", c.client_first().decode())
        )
        rows.append(
            (f"scram_{algo}", "client_final",
             c.client_final(server_first).decode())
        )
        rows.append(
            (f"scram_{algo}", "server_sig",
             base64.b64encode(c.server_signature).decode())
        )
    gz = encode_record_batch(
        [(b"k1", b"v1"), (None, b"v2")],
        base_offset=5, base_timestamp=1_700_000_000_000,
        compression="gzip",
    )
    rows.append(("gzip", "batch_frame", gz.hex()))
    for r in decode_record_set(gz):
        rows.append((
            "gzip_rec", str(r["offset"]),
            f"{(r['key'] or b'').decode()}={r['value'].decode()}"
            f"@{r['timestamp']}",
        ))
    # zstd (r11): hand-built raw+RLE multi-block frame with a declared
    # content size — fixed bytes by the RFC 8878 layout, so both the
    # hex and the decode are oracle-hashable
    hand = (0xFD2FB528).to_bytes(4, "little") + bytes([0x20, 7])
    hand += ((2 << 3) | 0).to_bytes(3, "little") + b"ab"
    hand += ((5 << 3) | (1 << 1) | 1).to_bytes(3, "little") + b"c"
    rows.append(("zstd", "handbuilt_frame", hand.hex()))
    rows.append(
        ("zstd", "handbuilt_decode", decompress_records(4, hand).decode())
    )
    zs = encode_record_batch(
        [(b"zk", b"zv" * 30)],
        base_offset=9, base_timestamp=1_700_000_000_000,
        compression="zstd",
    )
    for r in decode_record_set(zs):
        rows.append((
            "zstd_rec", str(r["offset"]),
            f"{r['key'].decode()}={r['value'].decode()}@{r['timestamp']}",
        ))
    # idempotent produce (r11): InitProducerId v0 frame bytes and the
    # (pid, epoch, sequence) stamp — byte-deterministic, CRC re-proven
    # by the decode
    from transferia_spark.sinks.kafka_wire import (
        decode_record_batch,
        encode_init_producer_id_request,
        stamp_producer,
    )

    rows.append((
        "idem", "init_pid_frame",
        encode_init_producer_id_request(
            correlation_id=9, client_id="t"
        ).hex(),
    ))
    plain = encode_record_batch(
        [(b"ik", b"iv")], base_offset=4,
        base_timestamp=1_700_000_000_000,
    )
    stamped = stamp_producer(plain, 777, 3, 12)
    rows.append(("idem", "stamped_batch", stamped.hex()))
    d = decode_record_batch(stamped)
    rows.append((
        "idem", "stamped_decode",
        f"pid={d['producer_id']} epoch={d['producer_epoch']} "
        f"seq={d['base_sequence']} n={len(d['records'])}",
    ))
    return spark.createDataFrame(rows, "kind string, name string, val string")


def q_schema_registry_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: Confluent Schema Registry resolution + pure-Python Avro
    binary decode (parsers/schema_registry.py ≈
    pkg/schemaregistry/confluent + pkg/parsers/registry/
    confluentschemaregistry) — nation rows encode into Confluent-framed
    Avro on the driver, then EXECUTOR tasks split the magic+id frame,
    resolve the id against a (scripted) registry and decode the body
    with the writer schema; the oracle recomputes the id assignment and
    values relationally. The live HTTP plane (cache, auth, 404) is
    pinned in tests/test_schema_registry.py."""
    import json as _json

    from transferia_spark.parsers.schema_registry import (
        AvroCodec,
        encode_confluent_frame,
    )

    writer = _json.dumps({
        "type": "record", "name": "N", "fields": [
            {"name": "k", "type": "long"},
            {"name": "n", "type": "string"},
            {"name": "tag", "type": ["null", "string"]},
        ],
    })
    codec = AvroCodec(writer)
    nat = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    )
    frames = [
        (
            encode_confluent_frame(
                100 + int(r.n_nationkey) % 3,
                codec.encode({
                    "k": int(r.n_nationkey),
                    "n": r.n_name,
                    "tag": (
                        None if int(r.n_nationkey) % 2 else "even"
                    ),
                }),
            ),
        )
        for r in nat
    ]
    df = spark.createDataFrame(frames, "value binary")
    schemas = {
        sid: {"schema": writer, "schemaType": "AVRO"}
        for sid in (100, 101, 102)
    }

    class _ScriptedSR:
        def get_schema(self, sid: int) -> dict:
            return schemas[sid]

    def run(batches):
        import pandas as pd

        from transferia_spark.parsers.schema_registry import (
            decode_confluent,
        )

        client = _ScriptedSR()
        for pdf in batches:
            sids, ks, ns, tags = [], [], [], []
            for v in pdf["value"]:
                sid, rec = decode_confluent(bytes(v), client)
                sids.append(sid)
                ks.append(rec["k"])
                ns.append(rec["n"])
                tags.append(rec["tag"])
            yield pd.DataFrame(
                {"sid": sids, "k": ks, "n": ns, "tag": tags}
            )

    return df.mapInPandas(
        run, "sid int, k long, n string, tag string"
    )


def q_schema_registry_protojson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """r11: the registry's other two schema types, matching the
    reference engine's dispatch (confluentschemaregistry
    engine/parser.go:44 — 'only the json & protobuf schema is
    supported' there): nation rows encode as Confluent PROTOBUF frames
    (message-indexes prefix, enum→symbol, a nested message imported
    through a registry REFERENCE), region rows as schema-checked JSON;
    EXECUTOR tasks resolve ids against a scripted registry and decode
    via parsers/proto_schema.ProtoCodec + JsonSchemaCodec. The oracle
    recomputes both relationally."""
    import json as _json

    from transferia_spark.parsers.proto_schema import ProtoCodec, field_spec
    from transferia_spark.parsers.protowire import encode_message
    from transferia_spark.parsers.schema_registry import (
        encode_confluent_frame,
        encode_message_indexes,
    )

    proto_writer = """
        syntax = "proto3";
        package sr;
        import "geo.proto";
        message Nation {
          int64 k = 1;
          string n = 2;
          Cat cat = 3;
          common.Geo geo = 4;
          enum Cat { ODD = 0; EVEN = 1; }
        }
        message Probe { bool ok = 1; }
    """
    geo_proto = (
        'syntax = "proto3"; package common;'
        " message Geo { string region = 1; }"
    )
    json_writer = _json.dumps({
        "type": "object", "title": "region.evt",
        "properties": {
            "id": {"type": "integer"},
            "name": {"type": "string"},
            "opt": {"oneOf": [{"type": "null"}, {"type": "string"}]},
        },
        "required": ["id", "name"],
    })
    pc = ProtoCodec(proto_writer, imports={"geo.proto": geo_proto})
    nation_spec = field_spec(pc.schema.message_by_indexes([0]))
    frames = []
    for r in _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).collect():
        k = int(r.n_nationkey)
        body = encode_message(nation_spec, {
            "k": k, "n": r.n_name, "cat": 1 if k % 2 == 0 else 0,
            "geo": {"region": f"R{int(r.n_regionkey)}"},
        })
        frames.append((
            encode_confluent_frame(
                100 + k % 3, encode_message_indexes([0]) + body
            ),
        ))
    for r in _t(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    ).collect():
        rk = int(r.r_regionkey)
        doc = {"id": rk, "name": r.r_name}
        if rk % 2 == 0:
            doc["opt"] = "even"
        frames.append((
            encode_confluent_frame(
                200 + rk % 2, _json.dumps(doc).encode()
            ),
        ))
    df = spark.createDataFrame(frames, "value binary")
    schemas = {
        **{sid: {"schema": proto_writer, "schemaType": "PROTOBUF",
                 "references": [{"name": "geo.proto",
                                 "subject": "geo", "version": 1}]}
           for sid in (100, 101, 102)},
        **{sid: {"schema": json_writer, "schemaType": "JSON"}
           for sid in (200, 201)},
    }

    class _ScriptedSR:
        def get_schema(self, sid: int) -> dict:
            return schemas[sid]  # same dict each call → codec memo rides

        def resolve_references(self, refs: list) -> dict:
            assert refs == [{"name": "geo.proto", "subject": "geo",
                             "version": 1}]
            return {"geo.proto": geo_proto}

    def run(batches):
        import pandas as pd

        from transferia_spark.parsers.schema_registry import (
            decode_confluent,
        )

        client = _ScriptedSR()
        for pdf in batches:
            kinds, sids, ks, ns, extras = [], [], [], [], []
            for v in pdf["value"]:
                sid, rec = decode_confluent(bytes(v), client)
                sids.append(sid)
                if "cat" in rec:  # proto route
                    kinds.append("proto")
                    ks.append(rec["k"])
                    ns.append(rec["n"])
                    extras.append(f"{rec['cat']}:{rec['geo']['region']}")
                else:  # json route
                    kinds.append("json")
                    ks.append(rec["id"])
                    ns.append(rec["name"])
                    extras.append(rec["opt"])
            yield pd.DataFrame({
                "kind": kinds, "sid": sids, "k": ks, "n": ns,
                "extra": extras,
            })

    return df.mapInPandas(
        run, "kind string, sid int, k long, n string, extra string"
    )




def q_mongo_oplog_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: the Mongo OPLOG FALLBACK's decode plane
    (streaming/mongo_wire.py ≈ local_oplog_rs_watcher.go +
    oplog_v2_parser.go — the reference's path when change streams are
    unavailable) — nation rows become real BSON-typed oplog entries on
    the driver (inserts; $v:2 diff updates with a sub-document diff;
    deletes; noops that must vanish), EXECUTOR tasks map them to the
    change-stream event shape the mongostream reader consumes; the
    oracle recomputes every event relationally. The live tail plane
    (ts>last filter, resume persistence, verb integration) is pinned
    by the loopback-mongod e2es in tests/test_mongo_wire.py."""
    from transferia_spark.streaming.mongo_wire import (
        BsonTimestamp,
        encode_document,
    )

    nat = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    )
    entries = []
    for r in nat:
        k = int(r.n_nationkey)
        entries.append({
            "op": "i", "ts": BsonTimestamp(1000 + k, 1),
            "ns": "shop.customers",
            "o": {"_id": k, "name": r.n_name},
        })
        if k % 2 == 0:
            entries.append({
                "op": "u", "ts": BsonTimestamp(2000 + k, 2),
                "ns": "shop.customers", "o2": {"_id": k},
                "o": {"$v": 2, "diff": {
                    "u": {"name": f"u{r.n_name}"},
                    "d": {"tmp": False},
                    "smeta": {"u": {"rank": k}},
                }},
            })
        if k % 5 == 0:
            entries.append({
                "op": "n", "ts": BsonTimestamp(2500 + k, 0),
                "ns": "shop.$cmd", "o": {},
            })
            entries.append({
                "op": "d", "ts": BsonTimestamp(3000 + k, 3),
                "ns": "shop.customers", "o": {"_id": k},
            })
    df = spark.createDataFrame(
        [(encode_document(e),) for e in entries], "entry binary"
    )

    def run(batches):
        import pandas as pd

        from transferia_spark.streaming.mongo_wire import (
            decode_document,
            oplog_entry_to_change_event,
        )

        cols = ("k", "op", "ct", "ord", "full_name", "upd_name",
                "upd_rank", "removed")
        for pdf in batches:
            rows = {c: [] for c in cols}
            for raw in pdf["entry"]:
                ev = oplog_entry_to_change_event(
                    decode_document(bytes(raw))[0]
                )
                if ev is None:
                    continue  # noop/command — never a row change
                upd = ev.get("updateDescription") or {}
                u = upd.get("updatedFields") or {}
                full = ev.get("fullDocument") or {}
                rows["k"].append(ev["documentKey"]["_id"])
                rows["op"].append(ev["operationType"])
                rows["ct"].append(ev["clusterTime"])
                rows["ord"].append(ev["order"])
                rows["full_name"].append(full.get("name"))
                rows["upd_name"].append(u.get("name"))
                rows["upd_rank"].append(u.get("meta.rank"))
                rows["removed"].append(
                    ",".join(upd.get("removedFields") or []) or None
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        "k long, op string, ct long, ord long, full_name string, "
        "upd_name string, upd_rank long, removed string",
    )


def q_oplog_applyops_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: multi-document TRANSACTIONS in the Mongo oplog fallback
    (streaming/mongo_wire.oplog_entry_to_change_events — beyond the
    reference, whose local_oplog_rs_watcher.go drops op:'c' applyOps
    entries): nation rows become BSON applyOps transaction entries on
    the driver (insert + conditional $v:2-diff update + delete inner
    ops across two collections, a nested noop, and a plain 'create'
    command that must vanish); EXECUTOR tasks expand them to per-row
    change events sharing the outer ts as their resume position. The
    oracle recomputes every inner event relationally."""
    from transferia_spark.streaming.mongo_wire import (
        BsonTimestamp,
        encode_document,
    )

    nat = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    )
    entries = []
    for r in nat:
        k = int(r.n_nationkey)
        inner = [
            {"op": "i", "ns": "shop.customers",
             "o": {"_id": k, "name": r.n_name}},
            {"op": "n", "ns": "shop.customers", "o": {}},  # noop
            {"op": "i", "ns": "shop.audit",
             "o": {"_id": 10_000 + k, "who": r.n_name}},
        ]
        if k % 2 == 0:
            inner.append({
                "op": "u", "ns": "shop.customers", "o2": {"_id": k},
                "o": {"$v": 2,
                      "diff": {"u": {"name": f"t{r.n_name}"}}},
            })
        if k % 3 == 0:
            inner.append({"op": "d", "ns": "shop.customers",
                          "o": {"_id": k}})
        entries.append({
            "op": "c", "ts": BsonTimestamp(600 + k, 2),
            "ns": "admin.$cmd", "o": {"applyOps": inner},
        })
        if k % 5 == 0:  # plain command entry: decodes to nothing
            entries.append({
                "op": "c", "ts": BsonTimestamp(900 + k, 1),
                "ns": "shop.$cmd", "o": {"create": "customers"},
            })
    df = spark.createDataFrame(
        [(encode_document(e),) for e in entries], "entry binary"
    )

    def run(batches):
        import pandas as pd

        from transferia_spark.streaming.mongo_wire import (
            decode_document,
            oplog_entry_to_change_events,
        )

        cols = ("k", "seq", "op", "coll", "ct", "ord", "upd_name")
        for pdf in batches:
            rows = {c: [] for c in cols}
            for raw in pdf["entry"]:
                evs = oplog_entry_to_change_events(
                    decode_document(bytes(raw))[0]
                )
                for seq, ev in enumerate(evs):
                    upd = (ev.get("updateDescription") or {}).get(
                        "updatedFields") or {}
                    rows["k"].append(ev["documentKey"]["_id"])
                    rows["seq"].append(seq)
                    rows["op"].append(ev["operationType"])
                    rows["coll"].append(ev["ns"]["coll"])
                    rows["ct"].append(ev["clusterTime"])
                    rows["ord"].append(ev["order"])
                    rows["upd_name"].append(upd.get("name"))
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        "k long, seq int, op string, coll string, ct long, ord long, "
        "upd_name string",
    )


def q_oplog_txn_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14: PREPARED / multi-entry transactions in the Mongo oplog
    fallback (streaming/mongo_wire.OplogTransactionBuffer — beyond the
    reference, which drops ALL applyOps): per nation key, a prepared
    transaction (prepare:true applyOps with an insert + a delete) is
    followed by commitTransaction (k%3≠0 — events emit RESTAMPED to
    the commit entry's ts) or abortTransaction (k%3=0 — nothing
    surfaces); even keys add an unprepared partialTxn chain flushed by
    its final applyOps entry. Entries are BSON-encoded on the driver;
    EXECUTOR tasks feed them through the buffer — including a
    mid-sequence to_state→JSON→from_state round trip, the drain's
    crash-persistence sidecar path. The oracle recomputes every
    surviving event relationally."""
    from transferia_spark.streaming.mongo_wire import (
        BsonTimestamp,
        encode_document,
    )

    nat = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    )
    rows_bin = []
    for r in nat:
        k = int(r.n_nationkey)
        lsid = {"id": f"s{k}"}
        entries = [{
            "op": "c", "ts": BsonTimestamp(800 + k, 1),
            "ns": "admin.$cmd", "lsid": lsid, "txnNumber": 1,
            "o": {"applyOps": [
                {"op": "i", "ns": "shop.customers",
                 "o": {"_id": k, "name": r.n_name}},
                {"op": "d", "ns": "shop.audit",
                 "o": {"_id": 10_000 + k}},
            ], "prepare": True},
        }]
        if k % 3 == 0:
            entries.append({
                "op": "c", "ts": BsonTimestamp(800 + k, 2),
                "ns": "admin.$cmd", "lsid": lsid, "txnNumber": 1,
                "o": {"abortTransaction": 1},
            })
        else:
            entries.append({
                "op": "c", "ts": BsonTimestamp(800 + k, 3),
                "ns": "admin.$cmd", "lsid": lsid, "txnNumber": 1,
                "o": {"commitTransaction": 1,
                      "commitTimestamp": BsonTimestamp(800 + k, 1)},
            })
        if k % 2 == 0:
            entries.append({
                "op": "c", "ts": BsonTimestamp(850 + k, 1),
                "ns": "admin.$cmd", "lsid": lsid, "txnNumber": 2,
                "o": {"applyOps": [
                    {"op": "i", "ns": "shop.customers",
                     "o": {"_id": 500 + k}},
                ], "partialTxn": True},
            })
            entries.append({
                "op": "c", "ts": BsonTimestamp(850 + k, 2),
                "ns": "admin.$cmd", "lsid": lsid, "txnNumber": 2,
                "o": {"applyOps": [
                    {"op": "i", "ns": "shop.customers",
                     "o": {"_id": 600 + k}},
                ]},
            })
        rows_bin.append((k, encode_document({"entries": entries})))
    df = spark.createDataFrame(rows_bin, "k long, entries binary")

    def run(batches):
        import json as _json

        import pandas as pd

        from transferia_spark.streaming.mongo_wire import (
            OplogTransactionBuffer,
            decode_document,
        )

        cols = ("k", "seq", "doc_id", "op", "coll", "ct", "ord")
        for pdf in batches:
            rows = {c: [] for c in cols}
            for k, raw in zip(pdf["k"], pdf["entries"]):
                buf = OplogTransactionBuffer()
                seq = 0
                for i, entry in enumerate(
                    decode_document(bytes(raw))[0]["entries"]
                ):
                    evs = buf.feed(entry)
                    if i == 0:
                        # the drain's sidecar path: pending state is
                        # JSON-safe and survives a round trip
                        buf = OplogTransactionBuffer.from_state(
                            _json.loads(_json.dumps(buf.to_state()))
                        )
                    for ev in evs:
                        rows["k"].append(int(k))
                        rows["seq"].append(seq)
                        rows["doc_id"].append(ev["documentKey"]["_id"])
                        rows["op"].append(ev["operationType"])
                        rows["coll"].append(ev["ns"]["coll"])
                        rows["ct"].append(ev["clusterTime"])
                        rows["ord"].append(ev["order"])
                        seq += 1
                assert not buf.pending  # every txn resolved in-fixture
            yield pd.DataFrame(rows)

    return df.repartition(8, "k").mapInPandas(
        run,
        "k long, seq int, doc_id long, op string, coll string, "
        "ct long, ord long",
    )


def q_mongo_shard_key_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: the shard-key-aware Mongo sink's op planner
    (sinks/mongo.plan_sharded_ops ≈ sharded_collection.go
    GetDocumentKey:96 + getResultDocumentKey:120 +
    write_models.go makeDocumentFilter:10) — nation rows become
    change events against a sharded target whose stored shard-key
    values are scripted; EXECUTOR tasks plan the write ops and emit
    each op's routing filter and isolation flag. Contract pinned:
    replace filters carry the STORED key value (a shard-key change
    still routes to where the document lives), a key-changing op is
    isolated in its own bulk, unseen ids filter on their own key
    (upsert path), deletes are _id-only. The oracle recomputes every
    column relationally."""
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def run(batches):
        import json as _json

        import pandas as pd

        from transferia_spark.sinks.mongo import plan_sharded_ops

        cols = ("k", "op", "flt_region", "isolated", "doc_region")
        for pdf in batches:
            stored = {}
            planned = []
            for k in pdf["n_nationkey"]:
                k = int(k)
                # stored key exists for k%3 != 2 with region r{k%5};
                # the incoming event moves odd keys to r{(k+1)%5}
                if k % 3 != 2:
                    stored[str(k)] = {"_id": k, "region": f"r{k % 5}"}
                op = "d" if k % 7 == 0 else ("u" if k % 2 else "i")
                new_region = f"r{(k + (k % 2)) % 5}"
                planned.append({
                    "_id_json": _json.dumps({"v": k}),
                    "_doc_json": _json.dumps(
                        {"k": k, "region": new_region}
                    ),
                    "_shard": 0,
                    "_mop": op,
                })
            by_shard = plan_sharded_ops(
                planned, ["region", "_id"], stored, pk_cols=["k"],
            )
            rows = {c: [] for c in cols}
            for bulks in by_shard.values():
                for bulk in bulks:
                    for op_dict in bulk:
                        doc = op_dict.get("doc") or {}
                        iso = bool(op_dict.get("_isolated"))
                        # an isolated op must really sit alone
                        assert not iso or len(bulk) == 1
                        rows["k"].append(op_dict["filter"]["_id"])
                        rows["op"].append(op_dict["op"])
                        rows["flt_region"].append(
                            op_dict["filter"].get("region")
                        )
                        rows["isolated"].append(iso)
                        rows["doc_region"].append(doc.get("region"))
            yield pd.DataFrame(rows)

    return nat.repartition(8, "n_nationkey").mapInPandas(
        run,
        "k long, op string, flt_region string, isolated boolean, "
        "doc_region string",
    )


def q_mongo_partial_unset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14: partial-update parity for the Mongo sink (≈ makeUpdateModel
    write_models.go:23-47) — removedFields thread a ``_removed`` marker
    through the presence-aware collapse (cdc/collapse.REMOVED_NET_COL)
    into true UpdateOne $unset ops, while full images and all-carried
    no-removal nets stay on the replace path. Nation rows synthesize a
    3-event-per-key change mix ENTIRELY in Catalyst (full insert for
    k%5==0 at lsn 9; a partial at lsn 10 setting v and REMOVING w for
    even k; a partial at lsn 11 re-setting w for k%3==0), collapse runs
    the one-shuffle presence/removal fold, MongoSink.planned() renders
    the executor rows, and plan_sharded_ops emits the final op per key.
    The oracle recomputes the net op/patch relationally."""
    from pyspark.sql import functions as F

    from transferia_spark.cdc.collapse import collapse
    from transferia_spark.sinks.mongo import MongoSink

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), "n_name"
    )
    k = F.col("k")
    ev_full = nat.filter(k % 5 == 0).select(
        "k", F.lit("V0").alias("v"), F.lit("W").alias("w"),
        F.lit("X").alias("x"), F.lit("i").alias("_op"),
        F.lit(9).cast("long").alias("_lsn"), F.lit(0).alias("_counter"),
        F.lit(None).cast("array<string>").alias("_present"),
        F.lit(None).cast("array<string>").alias("_removed"),
    )
    ev_set_v = nat.select(
        "k", F.col("n_name").alias("v"),
        F.lit(None).cast("string").alias("w"),
        F.lit(None).cast("string").alias("x"),
        F.lit("u").alias("_op"),
        F.lit(10).cast("long").alias("_lsn"), F.lit(0).alias("_counter"),
        F.when(k % 2 == 0, F.array(F.lit("v"), F.lit("w")))
        .otherwise(F.array(F.lit("v"))).alias("_present"),
        F.when(k % 2 == 0, F.array(F.lit("w"))).alias("_removed"),
    )
    ev_set_w = nat.filter(k % 3 == 0).select(
        "k", F.lit(None).cast("string").alias("v"),
        F.lit("back").alias("w"),
        F.lit(None).cast("string").alias("x"),
        F.lit("u").alias("_op"),
        F.lit(11).cast("long").alias("_lsn"), F.lit(0).alias("_counter"),
        F.array(F.lit("w")).alias("_present"),
        F.lit(None).cast("array<string>").alias("_removed"),
    )
    batch = ev_full.unionByName(ev_set_v).unionByName(ev_set_w)
    sink = MongoSink(database="db", keys=["k"], applier_factory=lambda u: None)
    planned = sink.planned(collapse(batch, ["k"], with_presence=True))

    def run(batches):
        import pandas as pd

        from transferia_spark.sinks.mongo import plan_sharded_ops

        cols = ("k", "op", "val_v", "val_w", "unset_w")
        for pdf in batches:
            rows = pdf.to_dict("records")
            by_shard = plan_sharded_ops(rows, None, {}, pk_cols=["k"])
            out = {c: [] for c in cols}
            for bulks in by_shard.values():
                for bulk in bulks:
                    for op_dict in bulk:
                        vals = op_dict.get("set") or op_dict.get("doc") or {}
                        out["k"].append(int(op_dict["filter"]["_id"]))
                        out["op"].append(op_dict["op"])
                        out["val_v"].append(vals.get("v"))
                        out["val_w"].append(vals.get("w"))
                        out["unset_w"].append(
                            "w" in (op_dict.get("unset") or [])
                        )
            yield pd.DataFrame(out)

    return planned.mapInPandas(
        run, "k long, op string, val_v string, val_w string, "
        "unset_w boolean",
    )


def q_mongo_seedlist_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: the Mongo seedlist/topology plane's pure kernels
    (streaming/mongo_wire ≈ the official driver's SDAM bootstrap the
    reference's client.go delegates to) — per nation row: a multi-host
    ``mongodb://`` authority parses into ordered seeds with its
    readPreference; RFC 2782 weighted selection orders a two-seed
    priority group deterministically (one seed holds all the weight,
    so the draw is rng-independent); the seedlist spec's parent-domain
    MUST accepts the in-domain SRV target and rejects the redirect.
    The failover dial itself is socket-bound — pinned by the loopback
    e2es in tests/test_mongo_wire.py (dead first seed, secondary
    redirect, rs mismatch)."""
    import random

    from transferia_spark.streaming.mongo_wire import (
        _weighted_seed_order,
        parse_mongo_uri,
        srv_target_in_parent_domain,
    )

    prefs = ["primary", "primaryPreferred", "secondary",
             "secondaryPreferred", "nearest"]
    nat = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    )
    rows = []
    for r in nat:
        k = int(r.n_nationkey)
        name = r.n_name.lower().replace(" ", "-")
        cfg = parse_mongo_uri(
            f"mongodb://u:p@{name}-a:{27000 + k},{name}-b/"
            f"?replicaSet=rs{k}&readPreference={prefs[k % 5]}"
        )
        rows.append((
            k, "uri",
            ";".join(f"{h}:{p}" for h, p in cfg["seeds"])
            + f"|{cfg['read_preference']}|{cfg['replica_set']}",
        ))
        # weight k%7+1 vs 0 in one priority group: the weighted draw
        # must pick the weighted seed first for ANY rng
        order = _weighted_seed_order(
            {0: [(f"{name}-zero", 27017, 0),
                 (f"{name}-heavy", 27018, k % 7 + 1)],
             1: [(f"{name}-low", 27019, 5)]},
            random.Random(k),
        )
        rows.append((
            k, "weighted",
            ";".join(f"{h}:{p}" for h, p in order),
        ))
        rows.append((
            k, "domain",
            f"in={srv_target_in_parent_domain(f'{name}.example.com', f'c{k}.example.com')}"
            f" out={srv_target_in_parent_domain(f'{name}.attacker.net', f'c{k}.example.com')}",
        ))
    return spark.createDataFrame(rows, "k long, kind string, val string")


def q_registry_drift_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: registry-driven schema drift classification
    (parsers/schema_registry.check_registry_drift ≈ engine/parser.go:44,
    where per-record writer-schema resolution IS the reference's drift
    handling) — nation rows frame under three writer schemas chosen by
    ``n_nationkey % 3``: a declared-compatible schema validates, one
    that ADDS a column raises the transient RegistrySchemaDrift carrying
    the machine-readable id marker the replicate supervisor evolves
    schema_file from, and one that RETYPES a declared column raises the
    fatal control. EXECUTOR tasks classify each frame against the
    declared columns via a scripted registry; the oracle recomputes the
    outcome relationally. The restart-into-evolved-schema loop is
    pinned by the e2e in tests/test_kafka_wire_source.py."""
    import json as _json

    from transferia_spark.parsers.schema_registry import (
        AvroCodec,
        encode_confluent_frame,
    )

    v_ok = _json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "k", "type": "long"},
        {"name": "n", "type": "string"},
    ]})
    v_add = _json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "k", "type": "long"},
        {"name": "n", "type": "string"},
        {"name": "note", "type": ["null", "string"]},
    ]})
    v_retype = _json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "k", "type": "string"},
    ]})
    codecs = {200: AvroCodec(v_ok), 201: AvroCodec(v_add),
              202: AvroCodec(v_retype)}
    nat = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    )
    frames = []
    for r in nat:
        sid = 200 + int(r.n_nationkey) % 3
        body = {"k": int(r.n_nationkey), "n": r.n_name}
        if sid == 201:
            body["note"] = "x"
        elif sid == 202:
            body = {"k": str(r.n_nationkey)}
        frames.append((
            int(r.n_nationkey),
            encode_confluent_frame(sid, codecs[sid].encode(body)),
        ))
    df = spark.createDataFrame(frames, "k long, value binary")
    schemas = {
        200: {"schema": v_ok, "schemaType": "AVRO"},
        201: {"schema": v_add, "schemaType": "AVRO"},
        202: {"schema": v_retype, "schemaType": "AVRO"},
    }

    class _ScriptedSR:
        base_url = "scripted://drift"

        def get_schema(self, sid: int) -> dict:
            return schemas[sid]

        def resolve_references(self, refs, _depth=0):
            return {}

    def run(batches):
        import pandas as pd

        from pyspark.sql import types as T

        from transferia_spark.parsers.schema_registry import (
            RegistrySchemaDrift,
            check_registry_drift,
        )

        client = _ScriptedSR()
        declared = {"k": T.LongType(), "n": T.StringType()}
        for pdf in batches:
            ks, outcomes, details = [], [], []
            for k, v in zip(pdf["k"], pdf["value"]):
                ks.append(int(k))
                try:
                    check_registry_drift(bytes(v), client, declared)
                    outcomes.append("ok")
                    details.append("")
                except RegistrySchemaDrift as e:
                    outcomes.append("drift")
                    # keep only the machine-readable marker prefix
                    details.append(str(e).split(" adds ")[0])
                except ValueError:
                    outcomes.append("retype")
                    details.append("registry-schema-retype id=202")
            yield pd.DataFrame(
                {"k": ks, "outcome": outcomes, "detail": details}
            )

    return df.mapInPandas(run, "k long, outcome string, detail string")


#: live loopback servers started by driver queries must outlive the
#: query FUNCTION (Spark plans are lazy; the driver collects later)
_LIVE_SERVERS: list = []


def _loopback_registry(schemas: dict) -> str:
    """Minimal Confluent-registry HTTP endpoint for the live-parser
    driver rows; kept alive for the process via _LIVE_SERVERS."""
    import http.server
    import json as _json
    import threading

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path.startswith("/schemas/ids/"):
                sid = int(self.path.rsplit("/", 1)[1])
                meta = schemas.get(sid)
                code = 200 if meta else 404
                out = _json.dumps(
                    meta or {"error_code": 40403,
                             "message": "Schema not found"}
                ).encode()
            else:
                code, out = 404, b"{}"
            self.send_response(code)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    _LIVE_SERVERS.append(srv)
    return f"http://127.0.0.1:{srv.server_port}"


def q_parser_unparsed_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: the live confluent_schema_registry parser's dead-letter
    contract (parsers/registry.py on_invalid='unparsed' ≈ the
    reference routing bad records to NewUnparsed instead of killing
    the stream, generic_parser.go:575) — region rows frame as
    JSON-schema bodies against a REAL loopback registry; every third
    row is poisoned (wrong-typed field / bad magic byte), and the
    parser lands those as null rows carrying _unparsed_raw + _error
    while good rows decode. The oracle recomputes the split
    relationally."""
    import json as _json

    from transferia_spark.parsers.registry import build_parser
    from transferia_spark.parsers.schema_registry import (
        encode_confluent_frame,
    )

    js = _json.dumps({
        "type": "object", "title": "demo.regions",
        "properties": {"k": {"type": "integer"},
                       "name": {"type": "string"}},
        "required": ["k"],
    })
    url = _loopback_registry({7: {"schema": js, "schemaType": "JSON"}})
    reg = (
        _t(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .collect()
    )
    frames = []
    for r in reg:
        k = int(r.r_regionkey)
        if k % 3 == 1:
            body = _json.dumps({"k": "oops", "name": r.r_name}).encode()
            frames.append((k, encode_confluent_frame(7, body)))
        elif k % 3 == 2:
            frames.append((k, b"\x01bogus-magic"))
        else:
            body = _json.dumps({"k": k, "name": r.r_name}).encode()
            frames.append((k, encode_confluent_frame(7, body)))
    df = spark.createDataFrame(frames, "_idx long, value binary")
    parsed = build_parser(
        "confluent_schema_registry",
        registry_url=url,
        schema="k long, name string",
    )(df)
    return parsed.select(
        F.col("_idx").alias("rk"),
        F.col("_schema_id").alias("sid"),
        "k",
        "name",
        F.col("_unparsed_raw").isNotNull().alias("dead"),
        F.col("_error").isNotNull().alias("has_error"),
    )


def q_tls_trust_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: the shared three-mode client trust ladder
    (streaming/tlsutil.py ≈ the reference's TLS connection options:
    kafka model_connection.go:8-25, mongo client.go, the SR parser's
    TLSFile) — one policy resolved identically by the Kafka
    KafkaSecurity options, the standard Mongo URI TLS options and the
    SchemaRegistryClient knobs: CA pin => verify-full, insecure =>
    explicit opt-out, default => system trust with hostname checking.
    Bracketed IPv6 bootstrap literals parse alongside. Rows are the
    resolved settings; the oracle is the fixed expectation table."""
    import ssl

    from transferia_spark.streaming.kafka_source import (
        KafkaSecurity,
        _parse_bootstrap,
    )
    from transferia_spark.streaming.mongo_wire import parse_mongo_uri
    from transferia_spark.streaming.tlsutil import client_tls_context

    rows = []
    for mode, ca, insecure in (
        ("system", None, False),
        ("insecure", None, True),
    ):
        ctx = client_tls_context(ca, insecure)
        rows.append((
            "ladder", mode,
            f"hostname={ctx.check_hostname} "
            f"verify={ctx.verify_mode == ssl.CERT_REQUIRED}",
        ))
    sec = KafkaSecurity.from_options({
        "tls": "true", "tls_insecure": "yes",
        "sasl_mechanism": "scram-sha-512", "sasl_username": "svc",
    })
    rows.append((
        "kafka", "options",
        f"tls={sec.tls} insecure={sec.tls_insecure} "
        f"mech={sec.sasl_mechanism}",
    ))
    u = parse_mongo_uri(
        "mongodb://u:p@db1:27018/?tls=true&tlsCAFile=/ca.pem"
        "&authSource=shop"
    )
    rows.append((
        "mongo", "uri",
        f"tls={u['tls']} ca={u['tls_ca']} insecure={u['tls_insecure']} "
        f"auth={u['auth_source']}",
    ))
    u2 = parse_mongo_uri(
        "mongodb://h/?ssl=true&tlsAllowInvalidCertificates=true"
    )
    rows.append((
        "mongo", "uri_insecure",
        f"tls={u2['tls']} ca={u2['tls_ca']} insecure={u2['tls_insecure']}",
    ))
    # +srv resolves via DNS since r12 (resolve_srv_seedlist; loopback
    # e2e in tests) — the hermetic check here is the spec's port ban
    try:
        parse_mongo_uri("mongodb+srv://h:27017/")
        rows.append(("mongo", "srv", "accepted"))
    except ValueError:
        rows.append(("mongo", "srv", "port_loud"))
    rows.append((
        "kafka", "ipv6_bootstrap",
        ";".join(
            f"{h}:{p}" for h, p in _parse_bootstrap(
                "[::1]:9092,[2001:db8::2]:9093,h1:9094"
            )
        ),
    ))
    return spark.createDataFrame(rows, "plane string, name string, val string")


def q_kafka_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: PRODUCE and CONSUME for every Kafka codec
    (sinks/kafka_wire.py ``compress_records`` / ``decompress_records``:
    stdlib gzip, pyarrow's libsnappy/liblz4/libzstd ≈ franz-go's codec
    support). Fixed stored (literal-only) snappy and lz4 frames decode
    through the same path a consumer runs, and record batches for all
    four codecs decode back to exact rows (rows only — the C encoders
    may pick different compressed bytes across versions)."""
    from transferia_spark.sinks.kafka_wire import (
        decode_record_set,
        decompress_records,
        encode_record_batch,
    )

    # literal-only snappy block and stored-block lz4 frame holding
    # b"nation-rows-ride-here:" + bytes(range(32))
    sn = bytes.fromhex(
        "36d46e6174696f6e2d726f77732d726964652d686572653a000102030405"
        "060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    lz = bytes.fromhex(
        "04224d18607073360000806e6174696f6e2d726f77732d726964652d6865"
        "72653a000102030405060708090a0b0c0d0e0f101112131415161718191a"
        "1b1c1d1e1f00000000"
    )
    rows = [
        ("snappy", "roundtrip",
         decompress_records(2, sn).decode("latin1")[:22]),
        ("lz4", "roundtrip",
         decompress_records(3, lz).decode("latin1")[:22]),
    ]
    for codec in ("gzip", "snappy", "lz4", "zstd"):
        batch = encode_record_batch(
            [(b"k1", b"v1"), (b"k2", b"v" * 40)],
            base_offset=3, base_timestamp=1_700_000_000_000,
            compression=codec,
        )
        for r in decode_record_set(batch):
            rows.append((
                f"{codec}_rec", str(r["offset"]),
                f"{r['key'].decode()}={r['value'].decode()}",
            ))
    return spark.createDataFrame(rows, "kind string, name string, val string")


def q_cloudevents_proto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: the CloudEvents PROTOBUF binding end-to-end
    (parsers/cloudevents_proto.py ≈ cloudevents/engine protobuf.go +
    parser.go): nation rows wrap into pb.CloudEvent envelopes
    driver-side (repo codec, no SDK), EXECUTOR tasks unpack the
    envelope, read the dataschema CE-URI's schema id, and decode the
    Any body by its type_url message name against a scripted registry.
    The oracle recomputes envelope fields + payload relationally."""
    from transferia_spark.parsers.cloudevents_proto import (
        _envelope,
        decode_cloudevent_payload,
    )
    from transferia_spark.parsers.proto_schema import ProtoCodec, field_spec
    from transferia_spark.parsers.protowire import encode_message

    payload_proto = (
        'syntax = "proto3"; package ce.demo;'
        " message Nation { int64 k = 1; string n = 2; }"
        " message Probe { bool ok = 1; }"
    )
    pc = ProtoCodec(payload_proto)
    nation_spec = field_spec(pc.schema.message_by_name("Nation"))
    env_spec = field_spec(_envelope().schema.message_by_name("CloudEvent"))
    frames = []
    for r in _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    ).collect():
        k = int(r.n_nationkey)
        body = encode_message(nation_spec, {"k": k, "n": r.n_name})
        frames.append((encode_message(env_spec, {
            "id": f"ev-{k}", "source": "//nation", "spec_version": "1.0",
            "type": "nation.created",
            "attributes": [
                {"key": "dataschema", "value": {"ce_uri":
                    f"http://sr.local:8081/schemas/ids/{40 + k % 2}"}},
                {"key": "subject", "value": {"ce_string": f"s{k % 3}"}},
                {"key": "time", "value": {"ce_timestamp": {
                    "seconds": 1_700_000_000 + k, "nanos": 0}}},
            ],
            "proto_data": {
                "type_url": "type.googleapis.com/ce.demo.Nation",
                "value": body,
            },
        }),))
    df = spark.createDataFrame(frames, "value binary")
    schemas = {
        sid: {"schema": payload_proto, "schemaType": "PROTOBUF"}
        for sid in (40, 41)
    }

    class _ScriptedSR:
        def get_schema(self, sid: int) -> dict:
            return schemas[sid]

        def resolve_references(self, refs: list) -> dict:
            assert not refs
            return {}

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {n: [] for n in (
                "id", "subject", "sid", "at", "k", "n")}
            for v in pdf["value"]:
                fields, sid, rec = decode_cloudevent_payload(
                    bytes(v), lambda base: _ScriptedSR()
                )
                out["id"].append(fields["id"])
                out["subject"].append(fields["subject"])
                out["sid"].append(sid)
                out["at"].append(int(fields["time"]))
                out["k"].append(rec["k"])
                out["n"].append(rec["n"])
            yield pd.DataFrame(out)

    return df.mapInPandas(
        run,
        "id string, subject string, sid int, at long, k long, n string",
    )


def q_shard_fallback_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-free fallback sharding plans (sources/enterprise.py):
    Greenplum per-segment predicates (one Spark partition drains one
    segment through the master) and the Oracle ORA_HASH fallback used
    when DBA_EXTENTS is not grantable — the generated predicate strings
    hash-compared against a SQL oracle."""
    from transferia_spark.sources.enterprise import (
        gp_segment_predicates,
        ora_hash_predicates,
    )

    n = 8
    rows = [
        ("greenplum", i, p) for i, p in enumerate(gp_segment_predicates(n))
    ] + [
        ("oracle", i, p) for i, p in enumerate(ora_hash_predicates(n))
    ]
    return spark.createDataFrame(rows, "kind string, idx int, predicate string")


def q_pg_copy_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-direct PG snapshot planning (sources/pg_copy.py ≈
    postgres/storage.go's COPY bulk path + sharding_storage.go:195):
    the exact ``COPY (SELECT …) TO STDOUT (FORMAT csv, NULL '\\N')``
    statements shipped per PK-hash shard and per numeric-range shard,
    hash-compared against a SQL oracle that rebuilds them. The
    executor-side transport (one COPY stream per task via mapInPandas)
    is pinned by the loopback e2e in tests/test_pg_copy.py."""
    from transferia_spark.sources.jdbc import shard_by_numeric_range
    from transferia_spark.sources.pg_copy import (
        copy_out_sql,
        copy_shard_statements,
    )

    rows = [
        ("pk_hash", i, s)
        for i, s in enumerate(
            copy_shard_statements("public.customer", ["c_custkey"], 4)
        )
    ] + [
        ("range", i, copy_out_sql(
            "public.customer", columns=["c_custkey", "c_name"], where=p
        ))
        for i, p in enumerate(
            shard_by_numeric_range("c_custkey", 1, 500, 2)
        )
    ]
    return spark.createDataFrame(
        rows, "kind string, shard int, copy_sql string"
    )


def q_pg_copy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COPY CSV decoder under the oracle gate with adversarial
    fixed vectors: payload chunks split at awkward byte boundaries
    (inside quoted fields, numbers, and the NULL marker), an embedded
    newline/comma/doubled-quote field, a QUOTED "\\N" that must stay
    DATA, and a bare \\N that must become NULL — decoded by
    sources/pg_copy.decode_copy_csv exactly as an executor task would,
    then hash-matched against a VALUES oracle."""
    import pandas as pd
    from pyspark.sql import types as T

    from transferia_spark.sources.pg_copy import decode_copy_csv

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("bal", T.DoubleType()),
        ]
    )
    payload = (
        b"1,alice,10.5\n"
        b'2,"qu""ote, comma\nnewline",\\N\n'
        b'3,"\\N",0.25\n'
        b"4,\\N,-1.5\n"
    )
    chunks = [payload[i:i + 7] for i in range(0, len(payload), 7)]
    frames = list(decode_copy_csv(iter(chunks), schema, batch_bytes=16))
    pdf = pd.concat(frames, ignore_index=True)
    # the engine path is mapInPandas (always Arrow), where nullable
    # extension NAs convert natively; this driver-side materialization
    # must not depend on the session's Arrow conf (the driver runs a
    # virgin session), so degrade NAs to plain None first
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return spark.createDataFrame(pdf, schema=schema)


def q_mysql_select_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-direct MySQL snapshot planning (sources/mysql_select.py ≈
    mysql/storage.go's sharded SELECT snapshot): the exact per-shard
    SELECT statements (CRC32-PK shard formula, explicit schema-order
    projection), hash-compared against a SQL oracle. The executor-side
    transport (one COM_QUERY result set per task) is pinned by the
    loopback e2e in tests/test_mysql_select.py."""
    from transferia_spark.sources.mysql_select import (
        select_shard_statements,
    )

    rows = [
        (i, s)
        for i, s in enumerate(
            select_shard_statements(
                "shop.orders", ["o_orderkey"], 4,
                columns=["o_orderkey", "o_totalprice"],
            )
        )
    ]
    return spark.createDataFrame(rows, "shard int, select_sql string")


def q_mysql_select_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized MySQL text-protocol row decoder under the oracle
    gate (r8 verdict item 3: sources/mysql_select.rows_to_frames is now
    Arrow-columnar — ListArray ingest + strided take + C++ casts — at
    ~5x the r8 per-row path): raw-bytes rows with NULLs in every typed
    column, quotes/commas in text, tinyint-1/0 booleans, microsecond
    timestamps and dates, decoded exactly as an executor task would and
    hash-matched against a VALUES oracle."""
    import pandas as pd
    from pyspark.sql import types as T

    from transferia_spark.sources.mysql_select import rows_to_frames

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("d", T.DateType()),
        ]
    )
    raw = [
        [b"1", b"alice", b"10.5", b"1",
         b"2024-01-02 03:04:05.123456", b"2024-01-02"],
        [b"2", b'qu"ote, comma', None, b"0", None, None],
        [b"3", None, b"0.25", None, b"2024-06-30 23:59:59",
         b"2024-06-30"],
        [b"4", b"", b"-1.5", b"1", b"2024-01-01 00:00:00",
         b"2024-01-01"],
    ]
    frames = list(rows_to_frames(iter(raw), schema, batch_rows=3))
    pdf = pd.concat(frames, ignore_index=True)
    # engine path is mapInPandas (always Arrow); this driver-side
    # materialization must not depend on the session's Arrow conf —
    # degrade extension NAs to plain None first (virgin-session rule)
    pdf = pdf.astype(object).where(pdf.notna(), None)
    # ... and pandas Timestamps to python datetimes (the virgin
    # session's non-Arrow type verifier rejects pd.Timestamp objects)
    pdf["ts"] = [
        v.to_pydatetime() if v is not None else None for v in pdf["ts"]
    ]
    return spark.createDataFrame(pdf, schema=schema)


def q_pg_schema_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-source schema discovery, PG side (sources/
    schema_discovery.py ≈ postgres/schema.go + typesystem.md): the
    native→Spark type matrix (oracle re-derives it as a DuckDB CASE —
    an independent second implementation), the exact catalog
    statements shipped over the wire session, and the PK fold
    (first-constraint-wins, oracle re-derives it with window
    functions). The live transport is pinned by the loopback e2e in
    tests/test_schema_discovery.py where transfer.yaml omits schema:
    entirely."""
    from transferia_spark.sources.schema_discovery import (
        fold_constraints,
        pg_columns_sql,
        pg_partition_parents_sql,
        pg_pkeys_sql,
        pg_replident_keys_sql,
        pg_type_to_spark,
        resolve_pg_keys,
    )

    types = [
        "bigint", "integer", "smallint", "numeric", "real",
        "double precision", "bytea", "bit varying", "text",
        "character varying", "uuid", "money", "interval", "boolean",
        "date", "timestamp without time zone",
        "timestamp with time zone", "character", "ARRAY", "json",
        "jsonb", "inet", "USER-DEFINED",
    ]
    rows = [("type", t, pg_type_to_spark(t).simpleString()) for t in types]
    rows += [
        ("sql", "columns", pg_columns_sql("shop")),
        ("sql", "pkeys", pg_pkeys_sql("shop")),
        ("sql", "replident", pg_replident_keys_sql("shop")),
        ("sql", "parents", pg_partition_parents_sql("shop")),
    ]
    # r10: key-fallback resolution (schema.go:318-447) — PK wins over
    # replident, partition children inherit up the tree; the oracle
    # re-derives it with COALESCE over join hops
    fb_pks = {"t_haspk": ["id"], "t_both": ["id"]}
    fb_ident = {"t_ident": ["b", "a"], "t_both": ["z"]}
    fb_parents = {"t_child": "t_haspk", "t_gc": "t_child"}
    for tname in ("t_haspk", "t_both", "t_ident", "t_child", "t_gc",
                  "t_keyless"):
        rows.append((
            "fallback", tname,
            ",".join(resolve_pg_keys(fb_pks, fb_ident, fb_parents, tname)),
        ))
    cons = [
        {"table_schema": "s", "table_name": "t1", "column_name": "id",
         "ordinal_position": "1", "constraint_name": "PRIMARY KEY"},
        {"table_schema": "s", "table_name": "t1",
         "column_name": "region", "ordinal_position": "2",
         "constraint_name": "PRIMARY KEY"},
        {"table_schema": "s", "table_name": "t2", "column_name": "k",
         "ordinal_position": "1", "constraint_name": "uniq_k"},
    ]
    rows += [
        ("pk", tbl, ",".join(cols))
        for tbl, cols in sorted(fold_constraints(cons).items())
    ]
    return spark.createDataFrame(rows, "kind string, name string, out string")


def q_mysql_schema_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL side of the discovery (≈ mysql/schema.go:16-101 +
    cast.go:146-194 TypeToYt): the column_type→Spark matrix including
    the unsigned bumps — the oracle re-PARSES the raw column_type
    spellings (split off the width and the unsigned attribute) and
    re-derives the mapping in SQL — plus the shipped catalog
    statements and the PRIMARY-first constraint fold."""
    from transferia_spark.sources.schema_discovery import (
        fold_constraints,
        mysql_columns_sql,
        mysql_constraints_sql,
        mysql_type_to_spark,
    )

    types = [
        "tinyint(1)", "tinyint(3) unsigned", "smallint(5)",
        "smallint(5) unsigned", "int(11)", "int(10) unsigned",
        "mediumint(9)", "bigint(20)", "bigint(20) unsigned",
        "decimal(10,2)", "double", "float", "date", "datetime(6)",
        "timestamp", "varchar(255)", "char(4)", "text", "longtext",
        "enum('a','b')", "set('x','y')", "time", "year(4)",
        "varbinary(16)", "blob", "longblob", "binary(8)", "bit(1)",
        "geometry", "json",
    ]
    rows = [
        ("type", t, mysql_type_to_spark(t).simpleString()) for t in types
    ]
    rows += [
        ("sql", "columns", mysql_columns_sql("shop")),
        ("sql", "constraints", mysql_constraints_sql("shop")),
    ]
    cons = [
        {"table_schema": "shop", "table_name": "o", "column_name": "id",
         "ordinal_position": "1", "constraint_name": "PRIMARY"},
        {"table_schema": "shop", "table_name": "o",
         "column_name": "uniq_col", "ordinal_position": "1",
         "constraint_name": "by_uniq"},
    ]
    rows += [
        ("pk", tbl, ",".join(cols))
        for tbl, cols in sorted(fold_constraints(cons).items())
    ]
    return spark.createDataFrame(rows, "kind string, name string, out string")


def q_elastic_scroll_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elastic/OpenSearch sliced-scroll read planning
    (sources/elastic.py ≈ elastic/storage.go LoadTable:98-110 +
    typesystem.go): the per-slice opening request strings (slice
    id/max body, scroll keepalive path) and the mapping→Spark type
    matrix, hash-compared against a SQL oracle — the driver-scored
    upgrade of the plan-only storage (r6 item 7 / r7 item 9)."""
    from transferia_spark.sources.elastic import (
        mapping_to_schema,
        scroll_open_path,
        slice_request_body,
    )

    rows = [
        ("search", i, scroll_open_path("documents") + " "
         + slice_request_body(i, 8, 500))
        for i in range(8)
    ]
    # a single-slice read omits the slice clause entirely
    rows.append(("search_single", 0, slice_request_body(0, 1, 500)))
    mapping = {"properties": {
        "a_long": {"type": "long"}, "b_int": {"type": "integer"},
        "c_double": {"type": "double"}, "d_keyword": {"type": "keyword"},
        "e_text": {"type": "text"}, "f_bool": {"type": "boolean"},
        "g_date": {"type": "date"}, "h_ip": {"type": "ip"},
        "i_bin": {"type": "binary"}, "j_obj": {"type": "object"},
        "k_geo": {"type": "geo_point"},  # unmapped type → any-type rule
        "l_uns": {"type": "unsigned_long"},
    }}
    st = mapping_to_schema(mapping)
    rows += [
        ("type", i, f"{f.name}={f.dataType.simpleString()}")
        for i, f in enumerate(st.fields)
    ]
    return spark.createDataFrame(rows, "kind string, idx int, val string")


def q_gpfdist_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gpfdist proto-1 wire framing (sinks/gpfdist_server.py — the
    data plane the reference delegates to the gpfdist binary,
    ``greenplum/gpfdist/``): exact F/O/L/D block bytes for fixed
    payloads plus the deterministic segment file-distribution, hex-
    compared against a SQL oracle that rebuilds the frames. The live
    server is pinned by fake-segment loopback e2es."""
    from transferia_spark.sinks.gpfdist_server import (
        encode_gpfdist_blocks,
        segment_files,
    )

    rows = [
        ("frame", "p1",
         encode_gpfdist_blocks("t/p1.txt", b"1\ta\n2\tb\n").hex()),
        ("frame", "p2_final",
         encode_gpfdist_blocks("t/p2.txt", b"3\tc\n", offset=0,
                               final=True).hex()),
    ]
    files = [f"part-{i:05d}" for i in range(5)]
    for seg in range(2):
        rows.append(
            ("split", f"seg{seg}",
             ",".join(segment_files(files, seg, 2)))
        )
    return spark.createDataFrame(rows, "kind string, name string, out string")


def q_gpfdist_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenplum gpfdist load planning (sinks/greenplum.py ≈
    greenplum/ddl_operations.go): the READABLE EXTERNAL TABLE DDL +
    INSERT..SELECT strings the sink issues, and the actual TEXT-format
    lines (tab-delimited, ``\\N`` nulls) computed over the customer
    table by the Catalyst line builder — both hash-compared against a
    SQL oracle recomputing them (r6 item 7 / r7 item 9)."""
    from transferia_spark.sinks.greenplum import (
        ext_name,
        gpfdist_text_line,
        insert_from_select,
        pg_name,
        readable_external_table_ddl,
    )

    t = TableID("public", "customer")
    ddl = readable_external_table_ddl(
        t,
        [("c_custkey", "bigint"), ("c_name", "text"), ("c_acctbal",
                                                       "double precision")],
        ["gpfdist://seg1:8080/customer*", "gpfdist://seg2:8080/customer*"],
    )
    ins = insert_from_select(
        pg_name(t), ext_name(t), ["c_custkey", "c_name", "c_acctbal"]
    )
    meta = spark.createDataFrame(
        [("ddl", 0, ddl), ("insert", 0, ins)],
        "kind string, idx int, val string",
    )
    cust = _t(spark, sf_dir, "customer").withColumn(
        "acct",
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("double"))
        .otherwise(F.col("c_acctbal")),  # negatives → NULL → \N lines
    )
    lines = cust.select(
        F.lit("line").alias("kind"),
        F.col("c_custkey").cast("int").alias("idx"),
        gpfdist_text_line(cust, ["c_name", "c_mktsegment", "acct"]).alias(
            "val"
        ),
    )
    return meta.unionByName(lines)


def q_gp_control_plane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: the FULL Greenplum load control sequence
    (GreenplumGpfdistSink.load_statements ≈ processDoneTableLoad,
    ``greenplum/ddl_operations.go:107``) — external table over gpfdist
    → temp stage → transactional commit swap → cleanup, as the exact
    ordered statement strings the live wire session executes
    (GpWireExecutor). Hash-compared against a SQL oracle rebuilding
    all nine."""
    from transferia_spark.sinks.greenplum import GreenplumGpfdistSink

    sink = GreenplumGpfdistSink(
        staging_dir="/unused",
        gpfdist_urls=["gpfdist://etl1:8080"],
        sql_executor=lambda q: None,
    )
    stmts = sink.load_statements(
        TableID("public", "customer"),
        ["c_custkey", "c_name"],
        [("c_custkey", "bigint"), ("c_name", "text")],
    )
    return spark.createDataFrame(
        list(enumerate(stmts)), "idx int, stmt string"
    )


def q_kafka_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: the pure-wire Kafka CONSUMER plane
    (sinks/kafka_wire.py fetch codecs + streaming/kafka_source.py ≈
    ``kafka/source.go:105``) — exact Fetch v4 / ListOffsets v1 request
    bytes for fixed arguments, and the records decoded back out of a
    fixed RecordBatch v2 record set (offsets resolve against the base,
    null key survives). Hash-compared against hardcoded oracle rows."""
    from transferia_spark.sinks.kafka_wire import (
        decode_record_set,
        encode_fetch_request,
        encode_list_offsets_request,
        encode_record_batch,
    )

    rows = [
        ("fetch_frame", 0,
         encode_fetch_request(
             "orders", {0: 42, 1: 7}, max_wait_ms=500, correlation_id=9
         ).hex()),
        ("list_offsets_frame", 0,
         encode_list_offsets_request(
             "orders", {0: -1, 1: -2}, correlation_id=3
         ).hex()),
    ]
    rec_set = encode_record_batch(
        [(b"k1", b"v1"), (None, b"v2")],
        base_offset=5, base_timestamp=1_700_000_000_000,
    )
    for r in decode_record_set(rec_set):
        rows.append((
            "record", int(r["offset"]),
            f"{(r['key'] or b'').decode()}={r['value'].decode()}"
            f"@{r['timestamp']}",
        ))
    return spark.createDataFrame(rows, "kind string, idx int, val string")


def q_yt_schema_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: the YT static-table contract (sources/yt.py ≈
    ``pkg/providers/yt`` schema-attribute mapping) as a driver row —
    the full YT→Spark type matrix (unsigned widths bump to the
    next-wider signed, uint64 exact via decimal(20,0), YT string =
    bytes, any/json/composite = JSON strings), plus the key-column and
    nullability folds of a fixed schema attribute list. The oracle
    re-derives the matrix as a CASE — an independent second
    implementation."""
    from transferia_spark.sources.yt import key_columns, yt_schema_to_spark

    yt_types = [
        "int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
        "uint64", "float", "double", "string", "utf8", "boolean",
        "date", "datetime", "timestamp", "interval", "any", "json",
        "timestamp_tz", "big_float", "composite", "decimal(12,3)",
    ]
    from transferia_spark.schema.typesystem import yt_to_spark

    rows = [
        ("type", t, yt_to_spark(t).simpleString()) for t in yt_types
    ]
    spec = [
        {"name": "k1", "type": "int64", "required": True,
         "sort_order": "ascending"},
        {"name": "k2", "type": "utf8", "sort_order": "ascending"},
        {"name": "v", "type": "double"},
        {"name": "blob", "type": "string", "required": True},
    ]
    st = yt_schema_to_spark(spec)
    rows += [
        ("field", f.name,
         f"{f.dataType.simpleString()}:"
         f"{'null' if f.nullable else 'req'}:"
         f"{'pk' if f.metadata.get('pk') else '-'}")
        for f in st.fields
    ]
    rows += [("keys", ",".join(key_columns(spec)), "")]
    return spark.createDataFrame(rows, "kind string, name string, out string")


def q_queue_adapters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: the EventHub and YDS record-frame adapters
    (streaming/readers.py ≈ ``eventhub/eventhub.go:191`` /
    ``yds/source/common.go:89`` makeRawChangeItem) over a fixed record
    set — partition-id parse with non-numeric fallback, offset-string
    try_cast falling back to the sequence number, topic composition —
    value/key/timestamp all hash-compared against a SQL oracle doing
    the same projections. (The Kinesis twin's synthetic offset is
    xxhash64 — engine-specific by design, pinned in pytest instead.)"""
    from transferia_spark.streaming.readers import (
        eventhub_records_to_raw,
        yds_records_to_raw,
    )

    eh = spark.createDataFrame(
        [
            ("0", 11, "42", datetime(2024, 1, 1, 8, 0, 0), b"a1"),
            ("$Default", 12, "not-an-offset",
             datetime(2024, 1, 1, 8, 0, 1), b"a2"),
            ("3", 13, None, datetime(2024, 1, 1, 8, 0, 2), b"a3"),
        ],
        "partition_id string, sequence_number long, offset string, "
        "enqueued_time timestamp, body binary",
    )
    eh_raw = eventhub_records_to_raw(eh, "tr1").select(
        F.lit("eventhub").alias("kind"),
        F.col("topic"), F.col("partition"), F.col("offset"),
        F.col("value").cast("string").alias("val"),
        F.col("timestamp"),
    )
    yds = spark.createDataFrame(
        [
            (0, 5, "src-a", datetime(2024, 2, 2, 9, 0, 0), b"y1"),
            (2, 6, "src-b", datetime(2024, 2, 2, 9, 0, 1), b"y2"),
        ],
        "partition long, offset long, source_id string, "
        "created_at timestamp, data binary",
    )
    yds_raw = yds_records_to_raw(yds, "stream-x").select(
        F.lit("yds").alias("kind"),
        F.col("topic"), F.col("partition"), F.col("offset"),
        F.col("value").cast("string").alias("val"),
        F.col("timestamp"),
    )
    return eh_raw.unionByName(yds_raw)


def q_yt_read_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: the YT live read plane's parallel-unit plan
    (sources/yt.py plan_read_ranges + range_ypath ≈ the reference's
    chunked read_table decomposition, ``pkg/providers/yt``): half-open
    ``[#start:#end]`` row ranges tiling a 23-row table at 5 rows per
    task — exclusive, exhaustive, ragged tail. The live transport is
    pinned by the loopback proxy e2e in tests/test_yt_logsinks.py."""
    from transferia_spark.sources.yt import plan_read_ranges, range_ypath

    rows = [
        (i, s, e, range_ypath("//home/users", s, e))
        for i, (s, e) in enumerate(plan_read_ranges(23, 5))
    ]
    rows += [
        (100 + i, s, e, range_ypath("//t", s, e))
        for i, (s, e) in enumerate(plan_read_ranges(0, 5))
    ]
    return spark.createDataFrame(
        rows, "idx int, start long, end long, ypath string"
    )


def q_mongo_id_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo parallel-unit planning (sources/mongo.py plan_id_ranges ≈
    ShardTable): sampled delimiters become half-open [from, to) _id
    ranges that tile the id space. Customer keys stand in for _ids;
    each lands in exactly one unit per the PLANNER's ranges, the oracle
    recomputes the delimiter arithmetic."""
    from transferia_spark.sources.mongo import plan_id_ranges

    ranges = plan_id_ranges(
        table_size_bytes=len(MONGO_DELIMS) + 1,
        desired_part_size=1,
        delimiters=MONGO_DELIMS,
    )
    assert len(ranges) == len(MONGO_DELIMS) + 1
    cust = _t(spark, sf_dir, "customer")
    unit = F.lit(None).cast("int")
    for i, (frm, to) in enumerate(ranges):
        cond = F.lit(True)
        if frm is not None:
            cond = cond & (F.col("c_custkey") >= frm)
        if to is not None:
            cond = cond & (F.col("c_custkey") < to)
        unit = F.when(cond & unit.isNull(), F.lit(i)).otherwise(unit)
    return (
        cust.select(unit.alias("unit"), "c_custkey")
        .groupBy("unit")
        .agg(F.count(F.lit(1)).alias("n"), F.max("c_custkey").alias("hi_key"))
    )


def q_partition_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG partitioned-table expansion (sources/jdbc.py expand_partitions
    ≈ storage_partition_expander.go:12): parents in the load list are
    replaced by their LEAF descendants, multi-level partitioning
    traversed transitively. The catalog edges derive from region/nation:
    each region key is a partitioned parent whose children are its
    nations; even-keyed nations are themselves partitioned into two
    leaves. The oracle enumerates the expected leaf set."""
    from transferia_spark.sources.jdbc import expand_partitions

    nat = (
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey").collect()
    )
    edges: dict[TableID, list[TableID]] = {}
    for r in nat:
        parent = TableID("", f"t_{r.n_regionkey}")
        child = TableID("", f"nation_{r.n_nationkey}")
        edges.setdefault(parent, []).append(child)
        if r.n_nationkey % 2 == 0:
            edges[child] = [
                TableID("", f"nation_{r.n_nationkey}_a"),
                TableID("", f"nation_{r.n_nationkey}_b"),
            ]
    parents = sorted(
        (t for t in edges if t.name.startswith("t_")), key=lambda t: t.name
    )
    leaves = expand_partitions(parents, edges)
    return spark.createDataFrame(
        [(t.name,) for t in leaves], "table_name string"
    )


def q_skip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev)
    t = build("skip_events", kinds=["d"])
    return t.apply_df(log).select("user_id", "value", "_op", "_lsn")


# --------------------------------------------------------------------------
# training-data pipeline surface (dedup / similarity / text / multimodal)
# --------------------------------------------------------------------------

MINHASH = dict(n=3, k=32, bands=8)
JACCARD_MIN_BP = 200
COSINE_MIN_BP = 3500
ANN_QUERY_PRED = "vec_id < 8"
ANN_K = 10
LSH_PLANES = 6
EMB_DIM = 64
IVF_STRIDE = 16
IVF_NPROBE = 2
DECON_BENCH_MOD = 97
DECON_MIN_OVERLAP = 3


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("dedup_exact", columns=["text"], id_col="doc_id")
    return t.apply_df(d).select("doc_id", "text", "lang")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("dedup_minhash_lsh", text_col="text", id_col="doc_id", **MINHASH)
    return t.apply_df(d)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (the pair join is exercised in tests; the
    integer fingerprint is the strongest oracle check)."""
    d = _t(spark, sf_dir, "documents")
    t = build("dedup_simhash", text_col="text", id_col="doc_id")
    return t.fingerprints(d)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build(
        "dedup_ngram_jaccard",
        text_col="text",
        id_col="doc_id",
        n=3,
        min_bp=JACCARD_MIN_BP,
    )
    return t.apply_df(d)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    t = build(
        "dedup_embedding_cosine",
        vec_col="embedding",
        id_col="vec_id",
        min_bp=COSINE_MIN_BP,
    )
    return t.apply_df(e)


def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    t = build(
        "ann_brute_force",
        vec_col="embedding",
        id_col="vec_id",
        query_pred=ANN_QUERY_PRED,
        k=ANN_K,
    )
    return t.apply_df(e)


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 compress-then-rerank ANN (operators/similarity.py
    AnnScalarQuant): per-dimension affine int8 codes, integer-cosine
    candidate pass over the ~8x-narrower codes table, exact re-rank of
    the rerank*k survivors. sim_bp is the exact similarity — the codes
    only choose candidates — so hash parity holds wherever candidate
    sets agree, which they do exactly (integer candidate ranking)."""
    e = _t(spark, sf_dir, "embeddings")
    t = build(
        "ann_sq8",
        vec_col="embedding",
        id_col="vec_id",
        query_pred=ANN_QUERY_PRED,
        k=ANN_K,
        rerank=4,
    )
    return t.apply_df(e)


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    t = build(
        "ann_lsh_bucketed",
        vec_col="embedding",
        id_col="vec_id",
        query_pred=ANN_QUERY_PRED,
        dim=EMB_DIM,
        n_planes=LSH_PLANES,
        k=ANN_K,
    )
    return t.apply_df(e)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best near-dup resolution (corpus.py DedupKeepBest): cluster
    the corpus, score members with the Gopher-style quality signal, and
    keep each cluster's highest-scoring member (ties to the smaller id)
    — the selection rule real curation uses instead of min-id."""
    d = _t(spark, sf_dir, "documents")
    scored = build("quality_score", text_col="text").apply_df(d).select(
        "doc_id", "score_bp"
    )
    src_df = d.join(scored, "doc_id")
    return build(
        "dedup_keep_best", text_col="text", id_col="doc_id",
        score_col="score_bp", **MINHASH,
    ).apply_df(src_df)


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH pair graph: every doc
    gets (cluster_id, is_keeper) so dedup is a single filter. Spark
    side is iterative min-label propagation (operators/corpus.py);
    oracle is a recursive-CTE transitive closure."""
    d = _t(spark, sf_dir, "documents")
    t = build("dedup_cluster", text_col="text", id_col="doc_id", **MINHASH)
    return t.apply_df(d)


EMBED_DIMS = 6


def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-generation stage (operators/embed.py EmbedDocuments):
    the deterministic hash provider — pure Catalyst, zero shuffle —
    emits the typed embedding column the ANN/cosine operators consume;
    components unnest to (doc_id, dim, comp) for the exact cross-engine
    compare. The mapInPandas inference-batching path (provider
    'callable'/'st') is pytest-covered; the math here is the oracle
    face both providers share."""
    d = _t(spark, sf_dir, "documents")
    t = build(
        "embed_documents", text_col="text", id_col="doc_id", dims=EMBED_DIMS
    )
    return t.apply_df(d).select(
        "doc_id", F.posexplode("embedding").alias("dim", "comp")
    )


INCR_NEW_MOD = 7  # doc_id % 7 == 0 plays the "ingest batch"


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators/dedup.py DedupIncremental):
    the corpus minus every 7th doc is pre-indexed (banded signatures);
    the 7th-doc 'ingest batch' hashes only itself and joins its bands
    against the index. The emitted pair set must equal the FULL-corpus
    LSH pairs restricted to pairs touching a new doc — proving the
    index path finds exactly what a from-scratch run would."""
    d = _t(spark, sf_dir, "documents")
    new = d.filter(f"doc_id % {INCR_NEW_MOD} = 0")
    old = d.filter(f"doc_id % {INCR_NEW_MOD} != 0")
    t = build("dedup_incremental", text_col="text", id_col="doc_id", **MINHASH)
    return t.pairs_with_index(new, t.band_index(old))


def q_dedup_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index ingest lifecycle (operators/dedup.py
    BandIndexStore — r5 verdict item 7): the band index lives as
    _bk-sharded parquet on disk; three ingests (base corpus, then batch
    A = doc_id%7==3, then batch B = doc_id%7==0) each hash ONLY their
    own documents, check against the pruned on-disk index, and append.
    The union of A's and B's pair sets must equal the full-corpus LSH
    pairs touching A∪B — across a compaction between the ingests —
    proving the disk lifecycle loses nothing a from-scratch run finds.
    is_cross is pair-group inequality (a base↔A, base↔B, or A↔B pair)."""
    import tempfile

    from transferia_spark.operators.dedup import BandIndexStore

    d = _t(spark, sf_dir, "documents")
    base = d.filter(f"doc_id % {INCR_NEW_MOD} NOT IN (0, 3)")
    batch_a = d.filter(f"doc_id % {INCR_NEW_MOD} = 3")
    batch_b = d.filter(f"doc_id % {INCR_NEW_MOD} = 0")
    t = build("dedup_incremental", text_col="text", id_col="doc_id", **MINHASH)
    # n_shards=None: derived from the first appended batch's plan-size
    # stats (~1 GB of index per shard — BandIndexStore._ensure_shards).
    # The former fixed 32 made every append a 32-task commit and every
    # index read a 32-file scan over a KB-scale index, with scan task
    # count growing with the CORE count (FilePartition sizes splits by
    # bytesPerCore) — the r14 driver measured this row 3× slower at 32
    # cores than at 8 (r14 verdict item 1; §2.2/§6). The pair output is
    # invariant to the shard count (sharding only routes reads).
    store = BandIndexStore(
        spark, tempfile.mkdtemp(prefix="band_index_"), n_shards=None
    )
    # seed = index build, not an ingest check: append the base band
    # rows directly — no pair expansion is computed just to be discarded
    store.append(t.band_index(base))
    pairs_a = store.ingest(t, batch_a).select("id_a", "id_b", "is_cross")
    store.compact()  # ingests must survive an index compaction
    pairs_b = store.ingest(t, batch_b).select("id_a", "id_b", "is_cross")
    ga = F.col("id_a") % INCR_NEW_MOD
    gb = F.col("id_b") % INCR_NEW_MOD
    # within-batch pairs report is_cross=False per ingest; normalize to
    # the global definition (groups differ) so A↔B cross-ingest pairs
    # found at ingest B compare equal to the full-corpus oracle
    grp = lambda c: F.when(c == 3, "A").when(c == 0, "B").otherwise("O")  # noqa: E731
    return pairs_a.unionByName(pairs_b).select(
        "id_a", "id_b", (grp(ga) != grp(gb)).alias("is_cross")
    )


def q_dedup_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup ingest (operators/dedup.py
    BandIndexIngestSink): the documents table arrives as a two-wave
    file stream (doc_id parity), each micro-batch checks against and
    extends the persisted band index through foreachBatch. The union of
    the batches' pair outputs must equal the FULL-corpus LSH pair set —
    wave-1-internal pairs from batch 0, wave-2-internal plus
    cross-wave pairs from batch 1, none double-counted."""
    import json as _json
    import os as _os
    import tempfile

    from transferia_spark.operators.dedup import (
        BandIndexIngestSink,
        BandIndexStore,
    )

    tmp = tempfile.mkdtemp(prefix="stream_ingest_")
    src = _os.path.join(tmp, "docs")
    _os.makedirs(src)
    rows = (
        _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    )
    for wave, keep in (("a", 0), ("b", 1)):
        with open(_os.path.join(src, f"{wave}.json"), "w") as f:
            for r in sorted(rows, key=lambda r: r.doc_id):
                if r.doc_id % 2 == keep:
                    f.write(
                        _json.dumps({"doc_id": r.doc_id, "text": r.text})
                        + "\n"
                    )
    t = build("dedup_incremental", text_col="text", id_col="doc_id", **MINHASH)
    # n_shards=None — stats-derived, see q_dedup_incremental_store
    store = BandIndexStore(spark, _os.path.join(tmp, "idx"), n_shards=None)
    sink = BandIndexIngestSink(store, t, _os.path.join(tmp, "pairs"))
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", _os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sink.pairs(spark).select("id_a", "id_b")


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split (operators/corpus.py
    LeakageSafeSplit): near-duplicate clusters are the assignment unit
    (no near-dup of a val doc can sit in train); the split hashes the
    cluster id with the portable integer hash so the oracle reproduces
    the exact assignment."""
    d = _t(spark, sf_dir, "documents")
    t = build(
        "split_leakage_safe", text_col="text", id_col="doc_id",
        val_pct=5, test_pct=5, **MINHASH,
    )
    return t.apply_df(d)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing ≥3 word-3-gram hashes
    with the benchmark subset (doc_id % 97 == 0) are flagged."""
    d = _t(spark, sf_dir, "documents")
    t = build(
        "decontaminate",
        text_col="text",
        id_col="doc_id",
        n=3,
        bench_mod=DECON_BENCH_MOD,
        min_overlap=DECON_MIN_OVERLAP,
    )
    return t.apply_df(d)


def q_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("quota_cap", group_col="source", id_col="doc_id", cap=10, seed=7)
    return t.apply_df(d).select("doc_id", "source", "pick_rank")


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("global_shuffle", id_col="doc_id", n_shards=8, seed=42)
    return t.apply_df(d)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build(
        "pack_sequences",
        text_col="text",
        id_col="doc_id",
        budget=512,
        n_shards=8,
        seed=1,
    )
    return t.apply_df(d)


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-ordered multi-probe LSH: each query also probes the
    buckets behind its 2 nearest hyperplanes — the standard recall
    knob (probe count), corpus side untouched."""
    e = _t(spark, sf_dir, "embeddings")
    t = build(
        "ann_lsh_bucketed",
        vec_col="embedding",
        id_col="vec_id",
        query_pred=ANN_QUERY_PRED,
        dim=EMB_DIM,
        n_planes=LSH_PLANES,
        k=ANN_K,
        probes=3,
    )
    return t.apply_df(e)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    t = build(
        "ann_ivf",
        vec_col="embedding",
        id_col="vec_id",
        query_pred=ANN_QUERY_PRED,
        centroid_stride=IVF_STRIDE,
        nprobe=IVF_NPROBE,
        k=ANN_K,
    )
    return t.apply_df(e)


def q_embed_ann_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production inference+index composition (r5 verdict item 9):
    embed_documents (hash provider — the exact-oracle face of the
    mapInPandas inference stage) feeds ann_ivf in ONE DAG over the
    documents table: text → embedding column → √N centroid assignment
    → probe-cell candidate join → exact integer rerank. The embedding
    generation is per-row Catalyst work fused into the scan, so it adds
    ZERO exchanges over running ann_ivf on a pre-embedded table
    (plan-asserted in tests/test_plan_shapes.py)."""
    d = _t(spark, sf_dir, "documents")
    emb = build(
        "embed_documents", text_col="text", id_col="doc_id", dims=EMBED_DIMS
    ).apply_df(d)
    vecs = emb.select(F.col("doc_id").alias("vec_id"), "embedding")
    t = build(
        "ann_ivf",
        vec_col="embedding",
        id_col="vec_id",
        query_pred=ANN_QUERY_PRED,
        centroid_stride=IVF_STRIDE,
        nprobe=IVF_NPROBE,
        k=ANN_K,
    )
    return t.apply_df(vecs)


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data assembly chain, end to end in one
    DAG: near-dup cluster dedup (keep cluster minima) → benchmark
    decontamination (drop eval docs and docs overlapping them) →
    per-source quota caps → deterministic shard/pack into token-budget
    bins. Every stage is a registry operator; the oracle recomputes the
    whole chain in one recursive-CTE SQL statement."""
    d = _t(spark, sf_dir, "documents")
    cl = build("dedup_cluster", text_col="text", id_col="doc_id", **MINHASH)
    # anti-join the SMALL complement (cluster losers ≈ the near-dup
    # rate) instead of semi-joining the near-full keeper id set: the
    # loser side stays broadcastable at corpus scale, where the keeper
    # set is ~the whole corpus and the semi-join would demote to a
    # full-payload shuffle of d (r14, guide §3.1; row-identical —
    # dedup_cluster emits one row per doc, so NOT-loser == keeper)
    # loser_ids_df computes the complement straight from the converged
    # labels: apply_df would scan the corpus id column again and left-
    # join the labels over it just to emit the keeper rows this filter
    # throws away (r14, guide §2.4 — one corpus pass + one join fewer)
    keepers = d.select("doc_id", "text", "source").join(
        cl.loser_ids_df(d),
        "doc_id", "left_anti",
    ).localCheckpoint(eager=False)  # dual consumer below (decontaminate
    # scores it AND the anti-join keeps it) — materialize the narrow
    # keeper set once instead of recomputing the cluster join per
    # branch (r14; same lazy-checkpoint trade _bucket_pairs documents).
    # Projected to the 3 columns downstream uses BEFORE the checkpoint:
    # an RDD materialization is opaque to Catalyst column pruning, so
    # unused payload columns would otherwise be cached and re-read
    # per consumer (guide §2.3 "project before the exchange")
    # same orientation flip: keep non-bench keepers minus CONTAMINATED
    # ids (rare by construction — eval overlaps) rather than semi-join
    # the near-full clean id set. contaminated_ids_df yields that
    # complement straight from the overlap counts — apply_df would scan
    # the keeper ids again and left-join just to emit the (majority)
    # zero-overlap rows this anti-join ignores (r14, guide §2.4;
    # row-identical for min_overlap ≥ 1, oracle-checked)
    contaminated = build(
        "decontaminate",
        text_col="text",
        id_col="doc_id",
        n=3,
        bench_mod=DECON_BENCH_MOD,
        min_overlap=DECON_MIN_OVERLAP,
    ).contaminated_ids_df(keepers)
    clean = keepers.filter(F.col("doc_id") % DECON_BENCH_MOD != 0).join(
        contaminated,
        "doc_id", "left_anti",
    )
    capped = build(
        "quota_cap", group_col="source", id_col="doc_id", cap=30, seed=7
    ).apply_df(clean)
    packed = build(
        "pack_sequences",
        text_col="text",
        id_col="doc_id",
        budget=512,
        n_shards=8,
        seed=1,
        keep_cols=("source",),
    ).apply_df(capped)
    return packed.select("doc_id", "source", "shard", "n_tok", "bin", "bin_offset")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded overlapping document chunking (curation.py
    ChunkDocuments): the RAG/context-window prep pass. Purely positional
    over whitespace tokens — one map-side sequence+explode+slice, no
    shuffle — so the oracle reproduces chunks byte-for-byte."""
    d = _t(spark, sf_dir, "documents")
    return build(
        "chunk_documents", text_col="text", id_col="doc_id",
        chunk_tokens=64, overlap=16,
    ).apply_df(d)


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1 n-gram repetition rules (operators/textstats.py
    RepetitionScore): top-2-gram coverage and duplicated-5-gram coverage
    in basis points, occurrences x length convention, capped at 10000.
    Two doc-keyed map-side-combinable aggregations."""
    d = _t(spark, sf_dir, "documents")
    return build(
        "repetition_score", text_col="text", id_col="doc_id"
    ).apply_df(d)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("lang_id", text_col="text")
    return t.apply_df(d).select("doc_id", "lang_pred")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("quality_score", text_col="text")
    return t.apply_df(d).select(
        "doc_id", "n_words", "mean_wlen_bp", "stopword_bp", "punct_bp", "score_bp"
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("token_count", text_col="text")
    return t.apply_df(d).select("doc_id", "ws_tokens", "re_tokens")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("fingerprint", text_col="text")
    return t.apply_df(d).select("doc_id", "full_hash", "min_window_hash")


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    media = attach_payload(d, text_col="text", id_col="doc_id")
    t = build("media_decode", mode="meta")
    return t.apply_df(media)


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    media = attach_payload(d, text_col="text", id_col="doc_id")
    t = build("frame_sample", stride=4)
    return t.apply_df(media)


# --------------------------------------------------------------------------
# parser / serializer / remaining-transformer surface (SURVEY §2.4/2.6/2.7)
# --------------------------------------------------------------------------


def q_rename_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    t = build("rename_tables", mapping={"nation": "nations_renamed"})
    routed = t.apply(TableID("", "nation"), n)
    assert routed[0][0].name == "nations_renamed"
    return routed[0][1].select("n_nationkey", "n_name")


def q_mongo_pk_extender(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    doc = c.select(
        F.struct(
            F.col("c_custkey").alias("k1"), F.col("c_nationkey").alias("k2")
        ).alias("_id"),
        "c_name",
    )
    return build("mongo_pk_extender").apply_df(doc)


def q_jsonparser(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    raw = o.select(
        F.to_json(
            F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
        ).alias("payload")
    )
    t = build(
        "jsonparser", column="payload", schema="o_orderkey BIGINT, o_orderstatus STRING"
    )
    return t.apply_df(raw)


def q_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    s = _t(spark, sf_dir, "supplier")

    def fn(pdf):
        out = pdf[["s_suppkey"]].copy()
        out["acct_bucket"] = np.floor(
            pdf["s_acctbal"].to_numpy(dtype="float64") / 100.0
        ).astype("int64")
        return out

    t = build("lambda", fn=fn, schema="s_suppkey long, acct_bucket long")
    return t.apply_df(s)


def q_yt_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    j = d.select(
        "doc_id", F.to_json(F.struct("lang", "source")).alias("meta")
    )
    parsed = build("yt_dict", columns=["meta"]).apply_df(j)
    return parsed.select(
        "doc_id",
        F.element_at("meta", "lang").alias("lang_v"),
        F.element_at("meta", "source").alias("source_v"),
    )


def q_parser_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.parsers import build_parser

    ev = _t(spark, sf_dir, "events")
    kafka_ish = ev.select(
        F.to_json(F.struct("event_id", "user_id", "event_type")).alias("value"),
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
    )
    parse = build_parser(
        "json",
        schema="event_id BIGINT, user_id BIGINT, event_type STRING",
        add_rest=False,
    )
    return parse(kafka_ish).select("event_id", "user_id", "event_type", "_offset")


def q_parser_tskv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.parsers import build_parser

    n = _t(spark, sf_dir, "nation")
    lines = n.select(
        F.concat(
            F.lit("tskv\tn_nationkey="),
            F.col("n_nationkey").cast("string"),
            F.lit("\tn_name="),
            F.col("n_name"),
        ).alias("value")
    )
    parse = build_parser(
        "tskv", schema="n_nationkey INT, n_name STRING", add_system_cols=False
    )
    return parse(lines)


def q_parser_logfeller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logfeller parser: line splitter fans one transport message out
    into several records (good JSON + a malformed line every 10th
    supplier); malformed records carry the _unparsed_raw marker and are
    excluded from the clean table (→ <table>_unparsed routing)."""
    from transferia_spark.parsers import build_parser

    s = _t(spark, sf_dir, "supplier")
    line1 = F.to_json(F.struct(F.col("s_suppkey"), F.col("s_name")))
    line2 = F.when(
        F.pmod(F.col("s_suppkey"), F.lit(10)) == 0, F.lit("{malformed")
    ).otherwise(
        F.to_json(
            F.struct(
                F.col("s_suppkey"),
                F.concat(F.col("s_name"), F.lit("-2")).alias("s_name"),
            )
        )
    )
    msgs = s.select(F.concat_ws("\n", line1, line2).alias("value"))
    parse = build_parser(
        "logfeller",
        parser_name="json",
        schema="s_suppkey BIGINT, s_name STRING",
        splitter="line",
        add_system_cols=False,
    )
    out = parse(msgs)
    return out.filter(F.col("_unparsed_raw").isNull()).select(
        "s_suppkey", "s_name", F.col("_idx").cast("long").alias("idx")
    )


def q_debezium_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serializer → parser round-trip: ChangeItems → Debezium envelope
    JSON → ChangeItems (≈ pkg/debezium emitter + receiver pair)."""
    from transferia_spark.parsers import build_parser
    from transferia_spark.serializers import debezium_serializer

    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev)
    wire = debezium_serializer(
        log, source_db="db", source_table="events", key_cols=["user_id"]
    )
    parse = build_parser(
        "debezium", row_schema="user_id BIGINT, value DOUBLE", add_system_cols=False
    )
    return parse(wire).select("user_id", "value", "_op", "_lsn")


def q_serializer_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.serializers import json_serializer

    r = _t(spark, sf_dir, "region")
    return json_serializer(r, key_cols=["r_regionkey"])


def q_serializer_confluent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-side Confluent SR framing (serializers.confluent_sr_serializer
    ≈ pkg/serializer/queue SR framing) round-tripped through the
    confluent_schema_registry parser: magic+id framing must be lossless,
    the recovered id and JSON body are the oracle-checked output."""
    from transferia_spark.parsers import build_parser
    from transferia_spark.serializers import confluent_sr_serializer

    n = _t(spark, sf_dir, "nation")
    wire = confluent_sr_serializer(
        n.select("n_nationkey", "n_name"), schema_id=731
    )
    framed = build_parser("confluent_schema_registry")(wire)
    return framed.select(
        F.col("_schema_id"), F.col("value").cast("string").alias("body")
    )


def q_serializer_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.serializers import csv_serializer

    n = _t(spark, sf_dir, "nation")
    return csv_serializer(n)


def q_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor-based delta snapshot (IncrementalStorage): rows past the
    committed cursor only."""
    import tempfile

    from transferia_spark.sources.incremental import IncrementalState, incremental_read

    ev = _t(spark, sf_dir, "events")
    state = IncrementalState(
        os.path.join(tempfile.mkdtemp(prefix="incr_"), "state.json")
    )
    state.set("events", str(INCR_CURSOR))
    delta, new_cursor = incremental_read(ev, "event_id", state, "events")
    assert new_cursor is not None
    return delta.select("event_id", "user_id", "event_type")


def q_parser_blank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.parsers import build_parser

    n = _t(spark, sf_dir, "nation")
    kafka_ish = n.select(
        F.to_json(F.struct("n_nationkey", "n_name")).alias("value"),
        F.lit(0).alias("partition"),
        F.col("n_nationkey").alias("offset"),
    )
    blank = build_parser("blank")(kafka_ish)
    # c_time/w_time default to wall-clock when the feed has no
    # timestamp column — excluded from the deterministic compare
    return blank.select("partition", "offset", "seq_no", "source_id", "lb_raw_message")


def q_parser_raw_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.parsers import build_parser

    r = _t(spark, sf_dir, "region")
    kafka_ish = r.select(
        F.col("r_name").alias("value"), F.col("r_regionkey").alias("offset")
    )
    return build_parser("raw_to_table")(kafka_ish).select("raw", "_offset")


def q_parser_cloudevents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.parsers import build_parser

    o = _t(spark, sf_dir, "orders")
    wire = o.select(
        F.to_json(
            F.struct(
                F.col("o_orderkey").cast("string").alias("id"),
                F.lit("/orders").alias("source"),
                F.lit("order.created").alias("type"),
                F.col("o_orderpriority").alias("subject"),
                F.col("o_orderdate").cast("string").alias("time"),
                F.col("o_orderstatus").alias("data"),
            )
        ).alias("value")
    )
    return build_parser("cloudevents")(wire).select(
        "id", "source", "type", "subject", "time", "payload"
    )


def q_parser_cloudlogging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.parsers import build_parser

    ev = _t(spark, sf_dir, "events")
    wire = ev.select(
        F.to_json(
            F.struct(
                F.col("ts").cast("string").alias("timestamp"),
                F.col("event_id").cast("string").alias("uid"),
                F.col("event_type").alias("level"),
                F.col("props").alias("message"),
                F.lit("default").alias("streamName"),
            )
        ).alias("value")
    )
    return build_parser("cloudlogging")(wire).select(
        "timestamp", "uid", "level", "message", "streamName"
    )


def q_parser_audittrails(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.parsers import build_parser

    o = _t(spark, sf_dir, "orders")
    wire = o.select(
        F.to_json(
            F.struct(
                F.col("o_orderkey").cast("string").alias("event_id"),
                F.lit("orders").alias("event_source"),
                F.col("o_orderstatus").alias("event_type"),
                F.col("o_orderdate").cast("string").alias("event_time"),
                F.lit("DONE").alias("event_status"),
                F.col("o_orderpriority").alias("priority"),
            )
        ).alias("value")
    )
    parsed = build_parser("audittrailsv1")(wire)
    return parsed.select(
        "event_id",
        "event_source",
        "event_type",
        "event_time",
        "event_status",
        F.element_at("details", "priority").alias("priority"),
    )


def q_parser_protobuf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format round-trip without the spark-protobuf jar:
    supplier rows wire-encode in one mapInPandas pass (varint ids,
    length-delimited UTF-8 names, fixed64 doubles — the public encoding
    spec) and decode back through the parser's pure-Python engine
    (parsers/protowire.py; ≈ ``pkg/parsers/registry/protobuf``). int64 /
    string / double round-trip bit-exactly, so the oracle is the plain
    projection."""
    from transferia_spark.parsers import build_parser
    from transferia_spark.parsers.protowire import encode_message

    spec = {
        1: ("s_suppkey", "int64"),
        2: ("s_name", "string"),
        3: ("s_acctbal", "double"),
    }
    sup = _t(spark, sf_dir, "supplier")

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "value": [
                        encode_message(
                            spec,
                            {"s_suppkey": int(k), "s_name": n, "s_acctbal": float(b)},
                        )
                        for k, n, b in zip(
                            pdf["s_suppkey"], pdf["s_name"], pdf["s_acctbal"]
                        )
                    ]
                }
            )

    wire = sup.select("s_suppkey", "s_name", "s_acctbal").mapInPandas(
        enc, "value binary"
    )
    parser = build_parser(
        "protobuf",
        engine="python",
        field_spec=spec,
        schema="s_suppkey long, s_name string, s_acctbal double",
    )
    return parser(wire)


def q_parser_confluent_sr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transferia_spark.parsers import build_parser

    s = _t(spark, sf_dir, "supplier")
    body = F.to_json(F.struct("s_suppkey", "s_name")).cast("binary")
    framed = s.select(
        F.concat(F.lit(bytes([0, 0, 0, 0, 7])), body).alias("value")
    )
    parse = build_parser(
        "confluent_schema_registry",
        body_parser="json",
        schema="s_suppkey BIGINT, s_name STRING",
        add_rest=False,
        add_system_cols=False,
    )
    framing = build_parser("confluent_schema_registry")
    ids = framing(framed).select("_schema_id")
    assert ids.limit(1).collect()[0][0] == 7
    return parse(framed).select("s_suppkey", "s_name")


def q_replace_primary_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    t = build("replace_primary_key", keys=["c_name"])
    out = t.apply_df(c).select("c_custkey", "c_name")
    pk_cols = [
        f.name
        for f in out.schema.fields
        if f.metadata.get("primaryKey", False)
    ]
    assert pk_cols == ["c_name"], pk_cols
    return out


def q_sharder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PartID assignment (hash(cols) % N). The hash itself is
    engine-native (xxhash64) so the oracle checks the invariants:
    range, determinism, and that equal keys land on equal shards."""
    o = _t(spark, sf_dir, "orders")
    t = build("sharder_transformer", columns=["o_custkey"], shards=8)
    out = t.apply_df(o)
    per_key = out.groupBy("o_custkey").agg(
        F.count_distinct("_part_id").alias("shards_per_key"),
        F.min("_part_id").alias("shard"),
    )
    return per_key.select(
        "o_custkey",
        "shards_per_key",
        ((F.col("shard") >= 0) & (F.col("shard") < 8)).alias("shard_in_range"),
    )


def q_raw_cdc_doc_grouper(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev)
    t = build("raw_cdc_doc_grouper", keys=["user_id"])
    out = t.apply_df(log)
    cols = [c for c in out.columns if c != "etl_updated_at"]
    return out.select(*cols)


def q_problem_item_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    t = build("problem_item_detector", healthy_when="l_quantity <= 49")
    healthy = t.apply_df(li).select("l_orderkey", "l_linenumber", "l_quantity")
    assert t.dead_letter is not None  # poison rows sidelined, not dropped silently
    return healthy


def q_middleware_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logger (observe metrics) + batch_splitter (partition bound) are
    plan-shape middlewares: data must pass through unchanged."""
    n = _t(spark, sf_dir, "nation")
    chain = Transformation().add(build("logger", name="mw")).add(
        build("batch_splitter", max_rows_per_partition=10)
    )
    routed = chain.apply(TableID("", "nation"), n)
    return routed[0][1].select("n_nationkey", "n_name", "n_regionkey")


def q_typesystem_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uint64 / decimal / any edge matrix (typesystem.py vs the
    reference's YT scalar set, pkg/abstract/typesystem/schema.go:48):
    uint64 maps to Decimal(20,0) and must survive values above
    int64.max through a string round-trip (strictify); ``any`` is a
    JSON container whose fields stay queryable after the round-trip."""
    from pyspark.sql import types as T
    from transferia_spark.schema.typesystem import strictify, yt_to_spark

    o = _t(spark, sf_dir, "orders")
    assert yt_to_spark("uint64").simpleString() == "decimal(20,0)"
    raw = o.select(
        # beyond int64: orderkey + 2^63, exact in decimal(20,0)
        (
            F.col("o_orderkey").cast("decimal(20,0)")
            + F.lit("9223372036854775808").cast("decimal(20,0)")
        ).alias("u64"),
        F.to_json(F.struct("o_orderkey", "o_orderstatus")).alias("any_doc"),
    )
    # weakly-typed wire form (strings) → strictify back into the matrix
    wire = raw.select(
        F.col("u64").cast("string").alias("u64"),
        F.col("any_doc"),
    )
    st = T.StructType(
        [
            T.StructField("u64", yt_to_spark("uint64")),
            T.StructField("any_doc", yt_to_spark("any")),
        ]
    )
    typed = strictify(wire, st)
    # u64 leaves as STRING: 2^63-range integers are exact in
    # decimal(20,0) internally but exceed float64's 2^53 mantissa, so a
    # decimal output column would hash-diverge under any float-based
    # normalization. The string form is exact in both engines.
    return typed.select(
        F.col("u64").cast("string").alias("u64"),
        F.get_json_object("any_doc", "$.o_orderstatus").alias("status"),
        (F.col("u64") - F.lit("9223372036854775808").cast("decimal(20,0)"))
        .cast("long")
        .alias("back_to_int"),
    )


def q_mysql_cdc_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL binlog CDC end-to-end: canal-shaped row events (binlog
    file/pos → LSN per utils.go:204, (old,new) row-pair contract of
    source.go:141) → ChangeItem frame → collapse. The events table
    stands in for the binlog feed."""
    from transferia_spark.cdc.envelopes import mysql_binlog_to_changeitems

    ev = _t(spark, sf_dir, "events")
    binlog = ev.select(
        F.expr(
            "CASE WHEN event_type = 'signup' THEN 'insert' "
            "WHEN event_type = 'error' THEN 'delete' ELSE 'update' END"
        ).alias("action"),
        F.format_string(
            "binlog.%06d", (F.lit(1) + F.col("event_id") / F.lit(1_000_000)).cast("int")
        ).alias("log_file"),
        F.pmod(F.col("event_id"), F.lit(1_000_000)).alias("log_pos"),
        (F.lit(1_700_000_000) + F.pmod(F.col("event_id"), F.lit(86400))).alias("ts_sec"),
        F.format_string("3E11FA47-71CA-11E1-9E33-C80AA9429562:1-%d", F.col("event_id")).alias("gtid"),
        F.lit(0).alias("row_idx"),
        F.when(
            F.expr("event_type != 'signup'"),
            F.struct(F.col("user_id"), F.col("value")),
        ).alias("before"),
        F.when(
            F.expr("event_type != 'error'"),
            F.struct(F.col("user_id"), F.col("value")),
        ).alias("after"),
    )
    items = mysql_binlog_to_changeitems(binlog, keys=["user_id"])
    return collapse(items, keys=["user_id"]).select("user_id", "value", "_op", "_lsn")


def q_mongo_change_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo change-stream CDC end-to-end: change-stream events
    (operationType/documentKey/fullDocument/updateDescription,
    change_stream_watcher.go:38) → ChangeItem frame → collapse.
    Updates on every third value arrive as PARTIAL updateDescription
    events (no fullDocument), exercising the _present carried-columns
    contract through collapse."""
    from transferia_spark.cdc.envelopes import mongo_change_stream_to_changeitems

    ev = _t(spark, sf_dir, "events")
    partial = F.expr("event_type NOT IN ('signup','error') AND event_id % 3 = 0")
    stream = ev.select(
        F.expr(
            "CASE WHEN event_type = 'signup' THEN 'insert' "
            "WHEN event_type = 'error' THEN 'delete' "
            "WHEN event_type = 'purchase' THEN 'replace' ELSE 'update' END"
        ).alias("op_type"),
        F.col("event_id").alias("cluster_time"),
        F.lit(0).alias("order"),
        F.struct(F.col("user_id").alias("_id")).alias("doc_key"),
        F.when(
            F.expr("event_type != 'error'") & ~partial,
            F.struct(F.col("user_id").alias("_id"), F.col("value")),
        ).alias("full_doc"),
        F.when(partial, F.create_map(F.lit("value"), F.col("value").cast("string"))).alias(
            "updated_fields"
        ),
        F.lit(None).cast("array<string>").alias("removed_fields"),
    )
    items = mongo_change_stream_to_changeitems(stream)
    return collapse(items, keys=["_id"]).select("_id", "value", "_op", "_lsn")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (batch form of the applyInPandasWithState
    streaming operator, streaming/sessionize.py): per-user sessions
    close after a 10-minute silence; emits start/end/count/sum."""
    from transferia_spark.streaming.sessionize import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    return sessionize_batch(
        ev, "user_id", "ts", "value", gap_seconds=600, exact_sum=True
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with synthesized contact strings
    (the corpus text itself carries no PII, so the query plants a
    deterministic email/IP/phone per doc and proves masking + counts)."""
    d = _t(spark, sf_dir, "documents")
    with_pii = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 or +1 555-000-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("text"),
    )
    t = build("pii_scrub", text_col="text")
    return t.apply_df(with_pii).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "text"
    )


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = build("quality_gopher", text_col="text")
    return t.apply_df(d).select(
        "doc_id",
        "dup_line_bp",
        "dup_word_bp",
        "bullet_line_bp",
        "ellipsis_line_bp",
        "max_word_len",
        "mean_word_len_x100",
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified downsampling: keep 25% of 'en' docs, 100%
    of everything else — the corpus-rebalancing shape, deterministic
    (hash-bucket, not rand) so retries and oracles agree."""
    d = _t(spark, sf_dir, "documents")
    t = build(
        "sample_stratified",
        id_col="doc_id",
        stratum_col="lang",
        rates_bp={"en": 2500},
    )
    return t.apply_df(d).select("doc_id", "lang")


def q_ydb_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YDB changefeed CDC end-to-end: changefeed JSON records
    (key/update/newImage/erase contract of cdc_converter.go:356-380,
    virtual-timestamp ts pairs) → ChangeItem frame → collapse. Signups
    arrive as NEW_IMAGE records, other non-deletes as UPDATES-mode
    partials (changed columns only, exercising _present), errors as
    erase records. The events table stands in for the topic."""
    from pyspark.sql import types as T

    from transferia_spark.cdc.envelopes import ydb_changefeed_to_changeitems

    ev = _t(spark, sf_dir, "events")
    is_del = F.col("event_type") == "error"
    is_img = F.col("event_type") == "signup"
    rec = F.to_json(
        F.struct(
            F.array(F.col("user_id")).alias("key"),
            F.when(is_del, F.create_map().cast("map<string,double>")).alias("erase"),
            F.when(
                ~is_del & ~is_img,
                F.create_map(F.lit("value"), F.col("value")),
            )
            .when(is_img, F.create_map().cast("map<string,double>"))
            .alias("update"),
            F.when(is_img, F.struct(F.col("value"))).alias("newImage"),
            F.array(F.col("event_id"), F.col("event_id")).alias("ts"),
        )
    )
    feed = ev.select(rec.alias("json"), F.lit(0).alias("part_id"), F.col("event_id").alias("offset"))
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    items = ydb_changefeed_to_changeitems(feed, ["user_id"], schema)
    return collapse(items, keys=["user_id"]).select("user_id", "value", "_op", "_lsn")


def q_airbyte_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Airbyte protocol end-to-end: AirbyteMessage RECORD lines
    (messages.go) decoded against the stream's JSON Schema into typed
    rows with the synthetic ``__dt_record_index`` PK
    (record_batch.go:13). The events table stands in for a connector's
    stdout capture; LOG lines are interleaved to prove filtering."""
    from transferia_spark.sources.airbyte import AirbyteStreamSpec, decode_records

    ev = _t(spark, sf_dir, "events")
    record = F.to_json(
        F.struct(
            F.lit("RECORD").alias("type"),
            F.struct(
                F.lit("events").alias("stream"),
                F.struct("user_id", "value", "event_type").alias("data"),
                F.col("event_id").alias("emitted_at"),
            ).alias("record"),
        )
    )
    log_line = F.lit('{"type":"LOG","log":{"level":"INFO","message":"tick"}}')
    lines = ev.select(F.explode(F.array(record, log_line)).alias("value"))
    spec = AirbyteStreamSpec(
        {
            "name": "events",
            "supported_sync_modes": ["full_refresh"],
            "json_schema": {
                "type": "object",
                "properties": {
                    "user_id": {"type": "integer"},
                    "value": {"type": "number"},
                    "event_type": {"type": "string"},
                },
            },
        }
    )
    return decode_records(lines, spec, "events")


def q_dbt_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt post-load ELT on Spark (operators/dbt.py run_spark): a
    three-model project — staging filter, ref()-joined aggregate,
    threshold mart — authored to dbt's public layout and executed in
    ref-DAG order over the loaded orders/customer tables. The oracle is
    the equivalent nested SQL."""
    import tempfile
    from pathlib import Path

    from transferia_spark.operators.dbt import DbtTransformer

    proj = Path(tempfile.mkdtemp(prefix="dbt_proj_"))
    models = proj / "models"
    models.mkdir()
    (proj / "dbt_project.yml").write_text(
        "name: transfer_marts\nversion: '1.0'\nmodel-paths: ['models']\n"
    )
    (models / "stg_orders.sql").write_text(
        "{{ config(materialized='view') }}\n"
        "SELECT o_orderkey, o_custkey,\n"
        "       CAST(o_totalprice AS DECIMAL(18,2)) AS price\n"
        "FROM {{ source('raw', 'orders') }}\n"
        "WHERE o_orderstatus = 'F'"
    )
    (models / "customer_revenue.sql").write_text(
        "SELECT c.c_custkey, c.c_name,\n"
        "       CAST(SUM(o.price) AS DOUBLE) AS revenue,\n"
        "       COUNT(*) AS n_orders\n"
        "FROM {{ ref('stg_orders') }} o\n"
        "JOIN {{ source('raw', 'customer') }} c\n"
        "  ON c.c_custkey = o.o_custkey\n"
        "GROUP BY c.c_custkey, c.c_name"
    )
    (models / "big_spenders.sql").write_text(
        "SELECT c_custkey, c_name, revenue, n_orders\n"
        "FROM {{ ref('customer_revenue') }}\n"
        "WHERE revenue > 300000"
    )
    t = DbtTransformer(project_dir=str(proj))
    out = t.run_spark(
        spark,
        {
            ("raw", "orders"): _t(spark, sf_dir, "orders"),
            ("raw", "customer"): _t(spark, sf_dir, "customer"),
        },
    )
    return out["big_spenders"]


def q_delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake snapshot read through the pure-Python transaction-log
    replay (sources/delta_log.py; ≈ the reference's own Go log reader,
    ``pkg/providers/delta/``): a table is authored to the public
    protocol from nation rows — v0 adds two files, v1 removes one and
    adds another — and the source resolves the active file set without
    delta-spark. The oracle selects the surviving key ranges."""
    import json as _json
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from transferia_spark.sources.delta import DeltaSource

    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    rows = sorted(
        ((r["n_nationkey"], r["n_name"], r["n_regionkey"]) for r in nat.collect())
    )

    root = tempfile.mkdtemp(prefix="delta_scan_")

    def write_file(name, subset):
        pq.write_table(
            pa.table(
                {
                    "n_nationkey": pa.array([r[0] for r in subset], pa.int32()),
                    "n_name": pa.array([r[1] for r in subset], pa.string()),
                    "n_regionkey": pa.array([r[2] for r in subset], pa.int32()),
                }
            ),
            os.path.join(root, name),
        )

    os.makedirs(os.path.join(root, "_delta_log"))
    write_file("lo.parquet", [r for r in rows if r[0] < 13])
    write_file("hi.parquet", [r for r in rows if r[0] >= 13])
    write_file("tail.parquet", [r for r in rows if r[0] >= 20])
    schema_string = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "n_nationkey", "type": "integer", "nullable": True, "metadata": {}},
                {"name": "n_name", "type": "string", "nullable": True, "metadata": {}},
                {"name": "n_regionkey", "type": "integer", "nullable": True, "metadata": {}},
            ],
        }
    )
    commits = {
        0: [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "nation-dt", "schemaString": schema_string,
                          "partitionColumns": [], "configuration": {},
                          "format": {"provider": "parquet", "options": {}}}},
            {"add": {"path": "lo.parquet", "dataChange": True, "partitionValues": {}}},
            {"add": {"path": "hi.parquet", "dataChange": True, "partitionValues": {}}},
        ],
        1: [
            {"remove": {"path": "hi.parquet", "dataChange": True}},
            {"add": {"path": "tail.parquet", "dataChange": True, "partitionValues": {}}},
        ],
    }
    for v, actions in commits.items():
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    return DeltaSource(path=root).load_table(spark, TableID("", "nation"))


def q_ydb_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YDB sharded storage scan: shard key bounds (DescribeTable
    ``WithShardKeyBounds``) split the PK space into half-open ranges and
    one Spark task reads each range (sources/ydb.py ``key_range_units``
    + mapInPandas fan-out; ≈ ``pkg/providers/ydb/storage.go:240-252``
    ReadKeyRange + ``storage_sharded.go``). The injected reader stands
    in for the SDK's ReadTable, serving the customer table restricted to
    [lo, hi) on the key — the schema travels through the YQL type
    mapping (``schema.go:17-66``)."""
    from transferia_spark.sources.ydb import YdbStorageSource, from_ydb_schema

    path = f"{sf_dir}/customer.parquet"

    def reader(table_path, lo, hi, columns):
        import pyarrow.parquet as pq

        pdf = pq.read_table(path, columns=columns).to_pandas()
        if lo is not None:
            pdf = pdf[pdf["c_custkey"] >= lo]
        if hi is not None:
            pdf = pdf[pdf["c_custkey"] < hi]
        return pdf.to_dict("records")

    src = YdbStorageSource(database="/db", tables=["customer"], reader=reader)
    schema = from_ydb_schema(
        [
            ("c_custkey", "Int64"),
            ("c_name", "Optional<Utf8>"),
            ("c_acctbal", "Optional<Double>"),
        ],
        ["c_custkey"],
    )
    return src.load_table(
        spark, TableID("", "customer"), schema, key_bounds=[400, 800, 1200]
    )


def q_clickhouse_insert_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse sink batch planning: ChangeItem stream → the
    append-only ReplacingMergeTree version rows (collapse, then
    commit/delete-time system columns; ≈ sink_table.go
    buildChangeItemArgs:421 + doOperation:622). The plan is pure
    Column expressions — the oracle replays it in SQL."""
    from transferia_spark.sinks.clickhouse import plan_insert_batch

    ev = _t(spark, sf_dir, "events")
    log = events_changelog(ev)
    return plan_insert_batch(log, keys=["user_id"]).select(
        "user_id",
        "value",
        F.col("__data_transfer_commit_time").alias("commit_time"),
        F.col("__data_transfer_delete_time").alias("delete_time"),
    )


def q_filter_access_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-transformer example over synthesized combined-log lines."""
    s = _t(spark, sf_dir, "supplier")
    lines = s.select(
        F.format_string(
            '10.0.0.%d - u%d [01/Jan/2024:00:00:00 +0000] "GET %s HTTP/1.1" %d %d',
            F.pmod(F.col("s_suppkey"), F.lit(256)).cast("int"),
            F.col("s_suppkey").cast("int"),
            F.when(F.pmod(F.col("s_suppkey"), F.lit(5)) == 0, F.lit("/health"))
            .otherwise(F.format_string("/api/v1/item/%d", F.col("s_suppkey").cast("int"))),
            (F.lit(200) + F.pmod(F.col("s_suppkey"), F.lit(3)) * 100).cast("int"),
            (F.col("s_suppkey") * 10).cast("int"),
        ).alias("value")
    )
    t = build("filter_access_log", min_status=200, max_status=299)
    return t.apply_df(lines).select("ip", "user", "method", "path", "status", "bytes")


def q_transfer_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full trcli-style lifecycle: transfer.yaml → TransferSpec →
    activate() (scan → transformer chain → sink write), result read
    back from the sink (≈ cmd/trcli/activate + worker/tasks flow)."""
    import tempfile

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.plans.transfer import activate

    out = tempfile.mkdtemp(prefix="transfer_out_")
    spec = transfer_from_yaml(
        f"""
type: SNAPSHOT_ONLY
src:
  type: file
  params: {{path: {sf_dir}/customer.parquet, format: parquet}}
dst:
  type: file
  params: {{path: {out}, format: parquet}}
filters:
  customer: "c_acctbal > 0"
transformation:
  transformers:
    - filter_columns: {{include: [c_custkey, c_name, c_nationkey, c_acctbal]}}
    - rename_tables: {{mapping: {{customer: customer_out}}}}
"""
    )
    activate(spark, spec)
    import os as _os

    return spark.read.parquet(_os.path.join(out, "customer_out")).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )


def q_replicate_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `trcli replicate` verb end-to-end (tasks/replicate.py ≈
    cmd/trcli/replicate/replicate.go:24 + runtime/local/replication.go):
    transfer.yaml with a replication endpoint → first supervised pass
    activates (snapshot seed into the bucketed target + source-position
    record), then a recorded binlog (derived from the events table)
    arrives and a second pass catches up through the Spark checkpoint —
    final table state must equal snapshot + net changelog."""
    import json as _json
    import os as _os
    import tempfile

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.tasks.replicate import run_replication

    tmp = tempfile.mkdtemp(prefix="replicate_yaml_")
    snap_dir = _os.path.join(tmp, "customer.parquet")
    binlog = _os.path.join(tmp, "binlog")
    target = _os.path.join(tmp, "target")
    state = _os.path.join(tmp, "state")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    cust.write.parquet(snap_dir)
    _os.makedirs(binlog, exist_ok=True)

    spec = transfer_from_yaml(
        f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: file
  params: {{path: {snap_dir}, format: parquet}}
dst:
  type: file
  params: {{path: {tmp}/unused, format: parquet}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "c_custkey long, c_name string, c_acctbal double"
  target:
    kind: bucketed
    root: {target}
    keys: [c_custkey]
    n_buckets: 16
"""
    )
    # pass 1: activation — snapshot seed + source position (empty log)
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    # the binlog "arrives": the events table recorded as canal-style row
    # events (signup→insert, error→delete, else update; event_id is the
    # in-file position so the LSN order matches the oracle's)
    evs = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value", "event_type")
        .collect()
    )
    with open(_os.path.join(binlog, "000.jsonl"), "w") as fh:
        for r in sorted(evs, key=lambda r: r.event_id):
            action = {"signup": "insert", "error": "delete"}.get(
                r.event_type, "update"
            )
            row = {
                "c_custkey": r.user_id,
                "c_name": f"u{r.user_id}",
                "c_acctbal": r.value,
            }
            ev = {
                "action": action,
                "log_file": "binlog.000001",
                "log_pos": int(r.event_id),
                "row_idx": 0,
            }
            if action != "insert":
                ev["before"] = row
            if action != "delete":
                ev["after"] = row
            fh.write(_json.dumps(ev) + "\n")

    # pass 2: catch-up from the checkpoint applies the whole log
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["c_custkey"], n_buckets=16)
    return table.read().select("c_custkey", "c_name", "c_acctbal")


def q_replicate_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table replicate (tasks/replicate.py MultiTableCdcSink —
    the reference's whole-database transfer mode): customer AND nation
    seed from a two-table file source into their own bucketed targets,
    then one shared recorded binlog (events with even ids → customer
    changes, odd ids → nation changes) routes through the _table column
    with per-table column selection. Output = union of both final
    states; oracle = two net-changelog CTEs."""
    import json as _json
    import os as _os
    import tempfile

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.tasks.replicate import run_replication

    tmp = tempfile.mkdtemp(prefix="replicate_multi_")
    db = _os.path.join(tmp, "db")
    binlog = _os.path.join(tmp, "binlog")
    state = _os.path.join(tmp, "state")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust.write.parquet(_os.path.join(db, "customer.parquet"))
    nat.write.parquet(_os.path.join(db, "nation.parquet"))
    _os.makedirs(binlog, exist_ok=True)

    spec = transfer_from_yaml(
        f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: file
  params: {{path: {db}, format: parquet, tables: [customer, nation]}}
dst:
  type: file
  params: {{path: {tmp}/unused, format: parquet}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "c_custkey long, c_name string, c_acctbal double, n_nationkey long, n_name string"
  target:
    tables:
      customer:
        {{root: {tmp}/t_customer, keys: [c_custkey],
          columns: [c_custkey, c_name, c_acctbal], n_buckets: 16}}
      nation:
        {{root: {tmp}/t_nation, keys: [n_nationkey],
          columns: [n_nationkey, n_name], n_buckets: 4}}
"""
    )
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    evs = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value", "event_type")
        .collect()
    )
    with open(_os.path.join(binlog, "000.jsonl"), "w") as fh:
        for r in sorted(evs, key=lambda r: r.event_id):
            action = {"signup": "insert", "error": "delete"}.get(
                r.event_type, "update"
            )
            if r.event_id % 2 == 0:
                table = "customer"
                row = {
                    "c_custkey": r.user_id,
                    "c_name": f"u{r.user_id}",
                    "c_acctbal": r.value,
                }
            else:
                table = "nation"
                row = {
                    "n_nationkey": r.user_id % 25,
                    "n_name": f"x{r.user_id % 25}",
                }
            ev = {
                "action": action,
                "log_file": "binlog.000001",
                "log_pos": int(r.event_id),
                "row_idx": 0,
                "table": table,
            }
            if action != "insert":
                ev["before"] = row
            if action != "delete":
                ev["after"] = row
            fh.write(_json.dumps(ev) + "\n")

    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    tc = BucketedParquetTable(
        spark, _os.path.join(tmp, "t_customer"), keys=["c_custkey"], n_buckets=16
    )
    tn = BucketedParquetTable(
        spark, _os.path.join(tmp, "t_nation"), keys=["n_nationkey"], n_buckets=4
    )
    return tc.read().select(
        F.lit("customer").alias("tbl"),
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("sval"),
        F.col("c_acctbal").alias("dval"),
    ).unionByName(
        tn.read().select(
            F.lit("nation").alias("tbl"),
            F.col("n_nationkey").alias("k"),
            F.col("n_name").alias("sval"),
            F.lit(None).cast("double").alias("dval"),
        )
    )


def q_replicate_controls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control-event routing through the replicate verb on a WALJSON
    stream (streaming/controls.py ControlRouter + the format-routed
    schema probe, r5 verdict items 1+6 ≈ nonrow_separator.go +
    publisher_replication.go:202): snapshot seed, then ONE recorded
    wal2json log carrying (wave 1) the events table as full-row
    inserts/deletes at lsn=2*event_id, a TRUNCATE 'T' at the largest
    odd lsn ≤ max wave-1 position, a DDL 'M' message, and (wave 2)
    post-DDL re-inserts of every third event carrying a NEW column
    c_flag. The first attempt applies up to the DDL and aborts, the
    supervisor re-probes the schema_file from the wal2json `columns`
    arrays, and the restarted query replays the batch idempotently.
    Oracle = the net state of rows surviving the truncate cut."""
    import json as _json
    import os as _os
    import tempfile

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.tasks.replicate import run_replication

    tmp = tempfile.mkdtemp(prefix="replicate_controls_")
    snap_dir = _os.path.join(tmp, "customer.parquet")
    wal = _os.path.join(tmp, "wal")
    target = _os.path.join(tmp, "target")
    state = _os.path.join(tmp, "state")
    schema_file = _os.path.join(tmp, "schema.ddl")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    cust.write.parquet(snap_dir)
    _os.makedirs(wal, exist_ok=True)
    with open(schema_file, "w") as f:
        f.write("c_custkey long, c_name string, c_acctbal double")

    spec = transfer_from_yaml(
        f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: file
  params: {{path: {snap_dir}, format: parquet}}
dst:
  type: file
  params: {{path: {tmp}/unused, format: parquet}}
replication:
  source:
    format: waljson
    path: {wal}
    schema_file: {schema_file}
  target:
    kind: bucketed
    root: {target}
    keys: [c_custkey]
    n_buckets: 16
  controls: {{enabled: true}}
"""
    )
    # pass 1: activation (snapshot seed, source position over empty log)
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    evs = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value", "event_type")
        .collect()
    )
    mx = max(r.event_id for r in evs)
    trunc_lsn = mx + 1 - mx % 2  # odd: never collides with 2*event_id
    ddl_lsn = 4 * mx + 1

    def _cols(uid, bal, flag=None):
        cols = [
            {"name": "c_custkey", "value": uid},
            {"name": "c_name", "value": f"u{uid}"},
            {"name": "c_acctbal", "value": bal},
        ]
        if flag is not None:
            cols.append({"name": "c_flag", "value": flag})
        return cols

    with open(_os.path.join(wal, "000.jsonl"), "w") as fh:
        for r in sorted(evs, key=lambda r: r.event_id):  # wave 1
            if r.event_type == "error":
                ev = {
                    "action": "D",
                    "lsn": 2 * r.event_id,
                    "table": "customer",
                    "identity": [{"name": "c_custkey", "value": r.user_id}],
                }
            else:
                ev = {
                    "action": "I",
                    "lsn": 2 * r.event_id,
                    "table": "customer",
                    "columns": _cols(r.user_id, r.value),
                }
            fh.write(_json.dumps(ev) + "\n")
        fh.write(_json.dumps(
            {"action": "T", "lsn": trunc_lsn, "table": "customer"}
        ) + "\n")
        fh.write(_json.dumps(
            {"action": "M", "lsn": ddl_lsn, "prefix": "ddl",
             "transactional": True,
             "content": "ALTER TABLE customer ADD COLUMN c_flag text"}
        ) + "\n")
        for r in sorted(evs, key=lambda r: r.event_id):  # wave 2
            if r.event_id % 3 != 0:
                continue
            fh.write(_json.dumps({
                "action": "I",
                "lsn": 4 * mx + 2 + 2 * r.event_id,
                "table": "customer",
                "columns": _cols(r.user_id, r.value + 1, f"f{r.user_id}"),
            }) + "\n")

    # pass 2: catch-up — aborts at the DDL, probe evolves schema_file
    # from the columns arrays, retry replays the batch idempotently
    run_replication(
        spark, spec, state_dir=state, once=True,
        retry_interval=0.0, sleep_fn=lambda s: None,
    )

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["c_custkey"], n_buckets=16)
    return table.read().select("c_custkey", "c_name", "c_acctbal", "c_flag")


def q_native_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serializer → parser round-trip in the engine's native wire form
    (≈ pkg/serializer/queue/native_serializer.go + parsers/registry/native)."""
    from transferia_spark.parsers import build_parser
    from transferia_spark.serializers import native_serializer

    ev = _t(spark, sf_dir, "events")
    wire = native_serializer(events_changelog(ev), table="events")
    parse = build_parser("native", schema="user_id BIGINT, value DOUBLE")
    out = parse(wire)
    assert out.limit(1).collect()[0]["_table"] == "events"
    return out.select("user_id", "value", "_op", "_lsn")


INCR_CURSOR = 3000


# ---- DuckDB oracle builders (share constants with the Spark side) --------

_W = pf.sql_words("text")


def _sql_docs_shingled() -> str:
    """CTE producing distinct (doc_id, s) shingle-hash rows — the
    word-hash-fold shingle definition of ``shingle_hash_rows``."""
    return f"""
docs AS (SELECT doc_id, {pf.sql_word_hashes(_W)} AS wh FROM documents),
sh AS (
  SELECT DISTINCT doc_id, unnest({pf.sql_shingle_hashes("wh", 3)}) AS s
  FROM docs WHERE len(wh) >= 3
)"""


def _sql_minhash_pairs() -> str:
    sig = pf.sql_minhash_signature("hs", MINHASH["k"])
    bands = pf.sql_band_keys("sig", MINHASH["bands"], MINHASH["k"] // MINHASH["bands"])
    return f"""
WITH docs AS (SELECT doc_id, {pf.sql_word_hashes(_W)} AS wh FROM documents),
hashed AS (
  SELECT doc_id, {pf.sql_shingle_hashes("wh", MINHASH["n"])} AS hs
  FROM docs WHERE len(wh) >= {MINHASH["n"]}
),
sigs AS (SELECT doc_id, {sig} AS sig FROM hashed),
bands AS (SELECT doc_id, unnest({bands}) AS bk FROM sigs)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
"""


def _sql_minhash_cte() -> str:
    """Shared CTE chain: documents → word hashes → shingle hashes →
    minhash signatures → band keys → candidate ``pairs``."""
    sig = pf.sql_minhash_signature("hs", MINHASH["k"])
    bands = pf.sql_band_keys("sig", MINHASH["bands"], MINHASH["k"] // MINHASH["bands"])
    return f"""
docs AS (SELECT doc_id, {pf.sql_word_hashes(_W)} AS wh FROM documents),
hashed AS (
  SELECT doc_id, {pf.sql_shingle_hashes("wh", MINHASH["n"])} AS hs
  FROM docs WHERE len(wh) >= {MINHASH["n"]}
),
sigs AS (SELECT doc_id, {sig} AS sig FROM hashed),
bands AS (SELECT doc_id, unnest({bands}) AS bk FROM sigs),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
)"""


def _sql_dedup_cluster() -> str:
    """Transitive closure of the near-dup pair graph: min reachable id
    = cluster id (the oracle face of iterative label propagation)."""
    return f"""
WITH RECURSIVE {_sql_minhash_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
lbl AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       coalesce(l.cluster_id, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id
"""


def _sql_dedup_keep_best() -> str:
    """Cluster CTE (transitive closure) + quality CTE + per-cluster
    argmax pick (score desc, id asc) — the keep-best oracle."""
    return f"""
WITH RECURSIVE {_sql_minhash_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
lbl AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
{_sql_quality_cte()},
clustered AS (
  SELECT d0.doc_id, coalesce(l.cluster_id, d0.doc_id) AS cluster_id
  FROM documents d0 LEFT JOIN lbl l ON l.doc_id = d0.doc_id
),
scored AS (
  SELECT c2.doc_id, c2.cluster_id, q.score_bp AS score_bp
  FROM clustered c2 JOIN q ON q.doc_id = c2.doc_id
)
SELECT doc_id, cluster_id, score_bp, rn = 1 AS is_keeper FROM (
  SELECT *, row_number() OVER (
    PARTITION BY cluster_id ORDER BY score_bp DESC, doc_id ASC) AS rn
  FROM scored
)
"""


def _sql_decontaminate() -> str:
    return f"""
WITH {_sql_docs_shingled()},
bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0
),
ov AS (
  SELECT sh.doc_id, count(*) AS n
  FROM sh JOIN bench USING (s)
  WHERE sh.doc_id % {DECON_BENCH_MOD} <> 0
  GROUP BY sh.doc_id
)
SELECT d.doc_id,
       coalesce(o.n, 0)::BIGINT AS overlap_ngrams,
       coalesce(o.n, 0) >= {DECON_MIN_OVERLAP} AS contaminated
FROM documents d LEFT JOIN ov o ON o.doc_id = d.doc_id
WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
"""


def _sql_pack_sequences() -> str:
    w = pf.sql_words("text")
    h = pf.sql_pt_ihash("doc_id", 1)
    return f"""
WITH base AS (
  SELECT doc_id, len({w})::INT AS n_tok, {h} AS h, ({h}) % 8 AS shard
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tok,
         sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM base
)
SELECT doc_id, shard, n_tok,
       floor((cum - n_tok) / 512)::BIGINT AS bin,
       ((cum - n_tok) % 512)::BIGINT AS bin_offset
FROM c
"""


def _sql_ann_multiprobe() -> str:
    bucket = pf.sql_hyperplane_bucket("e", LSH_PLANES, EMB_DIM)
    dots = pf.sql_plane_dots("e", LSH_PLANES, EMB_DIM)
    sim = pf.sql_qcosine(pf.sql_qdot("p.e", "c.e"), "p.n2", "c.n2")
    return f"""
WITH qv AS (
  SELECT vec_id, {pf.sql_quantize("embedding")} AS e FROM embeddings
),
base AS (
  SELECT vec_id, e, {pf.sql_qdot("e", "e")} AS n2, {bucket} AS bucket
  FROM qv
),
qd AS (
  SELECT vec_id AS query_id, e, n2, bucket, {dots} AS dots
  FROM base WHERE vec_id < 8
),
probe AS (
  SELECT query_id, e, n2, bucket FROM qd
  UNION ALL
  SELECT query_id, e, n2, xor(bucket, (1::BIGINT << plane)) AS bucket FROM (
    SELECT q.query_id, q.e, q.n2, q.bucket, t.range AS plane,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY abs(q.dots[t.range + 1]) ASC, t.range ASC) AS rn
    FROM qd q, range(0, {LSH_PLANES}) t
  ) WHERE rn <= 2
),
pairs AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, {pf.sql_floor_bp(sim)} AS sim_bp
  FROM probe p JOIN base c
    ON p.bucket = c.bucket AND p.query_id != c.vec_id
)
SELECT query_id, neighbor_id, rank, sim_bp FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim_bp DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {ANN_K}
"""


def _sql_ann_sq8(rerank: int = 4) -> str:
    """SQ8 oracle: per-dim min/max stats → int8 codes (identical double
    expression tree to AnnScalarQuant.encode, then exact integer
    candidate cosine) → top rerank*k by code-sim → exact re-rank."""
    code = (
        f"list_transform(range(1, {EMB_DIM} + 1), i -> "
        "CASE WHEN s.mxs[i] > s.mns[i] THEN "
        "floor((embedding[i]::DOUBLE - s.mns[i]) * 255.0 "
        "/ (s.mxs[i] - s.mns[i]))::BIGINT ELSE 0 END)"
    )
    csim = pf.sql_qcosine(pf.sql_qdot("q.c", "c.c"), "q.n2c", "c.n2c")
    esim = pf.sql_qcosine(pf.sql_qdot("q.e", "c.e"), "q.n2e", "c.n2e")
    return f"""
WITH dims AS (
  SELECT pos, min(x::DOUBLE) AS mn, max(x::DOUBLE) AS mx
  FROM (SELECT generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS x
        FROM embeddings)
  GROUP BY pos
),
stats AS (
  SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
  FROM dims
),
base AS (
  SELECT vec_id, {code} AS c, {pf.sql_quantize("embedding")} AS e
  FROM embeddings, stats s
),
norms AS (
  SELECT vec_id, c, {pf.sql_qdot("c", "c")} AS n2c,
         e, {pf.sql_qdot("e", "e")} AS n2e
  FROM base
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {pf.sql_floor_bp(csim)} AS csim,
         {pf.sql_floor_bp(esim)} AS sim_bp
  FROM norms q JOIN norms c ON q.vec_id < 8 AND q.vec_id != c.vec_id
),
topr AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY csim DESC, neighbor_id) AS rr
  FROM cand
)
SELECT query_id, neighbor_id, rank, sim_bp FROM (
  SELECT query_id, neighbor_id, sim_bp, row_number() OVER (
    PARTITION BY query_id ORDER BY sim_bp DESC, neighbor_id) AS rank
  FROM topr WHERE rr <= {rerank * ANN_K}
) WHERE rank <= {ANN_K}
"""


def _sql_ann_ivf(src: str = "embeddings", prefix_cte: str = "") -> str:
    """IVF oracle; ``src`` swaps the vector relation (the
    embed_ann_pipeline composition feeds it the hash-embedded
    documents via ``prefix_cte``)."""
    csim = pf.sql_qcosine(pf.sql_qdot("b.e", "ct.ce"), "b.n2", "ct.cn2")
    return f"""
WITH {prefix_cte}qv AS (
  SELECT vec_id, {pf.sql_quantize("embedding")} AS e FROM {src}
),
base AS (SELECT vec_id, e, {pf.sql_qdot("e", "e")} AS n2 FROM qv),
cents AS (
  SELECT vec_id AS cid, e AS ce, n2 AS cn2 FROM base
  WHERE vec_id % {IVF_STRIDE} = 0
),
asim AS (
  SELECT b.vec_id, ct.cid, {pf.sql_floor_bp(csim)} AS bp
  FROM base b CROSS JOIN cents ct
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY bp DESC, cid) AS rn
    FROM asim
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY bp DESC, cid) AS rn
    FROM asim WHERE vec_id < 8
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, q.e, q.n2, a.vec_id AS neighbor_id, c.e AS ce, c.n2 AS cn2
  FROM probe p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN base q ON q.vec_id = p.query_id
  JOIN base c ON c.vec_id = a.vec_id
),
pairs AS (
  SELECT query_id, neighbor_id,
         {pf.sql_floor_bp(pf.sql_qcosine(pf.sql_qdot("e", "ce"), "n2", "cn2"))} AS sim_bp
  FROM cand
)
SELECT query_id, neighbor_id, rank, sim_bp FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim_bp DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {ANN_K}
"""


def _sql_corpus_pipeline() -> str:
    """The whole assembly chain as one statement: cluster closure →
    keepers → decontamination over keepers → per-source caps → pack."""
    h = pf.sql_pt_ihash("doc_id", 1)
    w = pf.sql_words("text")
    return f"""
WITH RECURSIVE {_sql_minhash_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
lbl AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
keepers AS (
  SELECT d.doc_id, d.text, d.source FROM documents d
  LEFT JOIN lbl l ON l.doc_id = d.doc_id
  WHERE coalesce(l.cluster_id, d.doc_id) = d.doc_id
),
kdocs AS (SELECT doc_id, {pf.sql_word_hashes(w)} AS wh FROM keepers),
ksh AS (
  SELECT DISTINCT doc_id, unnest({pf.sql_shingle_hashes("wh", 3)}) AS s
  FROM kdocs WHERE len(wh) >= 3
),
bench AS (
  SELECT DISTINCT s FROM ksh WHERE doc_id % {DECON_BENCH_MOD} = 0
),
ov AS (
  SELECT ksh.doc_id, count(*) AS n
  FROM ksh JOIN bench USING (s)
  WHERE ksh.doc_id % {DECON_BENCH_MOD} <> 0
  GROUP BY ksh.doc_id
),
clean AS (
  SELECT k.doc_id, k.text, k.source FROM keepers k
  LEFT JOIN ov ON ov.doc_id = k.doc_id
  WHERE k.doc_id % {DECON_BENCH_MOD} <> 0
    AND coalesce(ov.n, 0) < {DECON_MIN_OVERLAP}
),
capped AS (
  SELECT doc_id, text, source FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source
      ORDER BY {pf.sql_pt_ihash("doc_id", 7)} ASC, doc_id ASC) AS rn
    FROM clean
  ) WHERE rn <= 30
),
pk_base AS (
  SELECT doc_id, source, len({w})::INT AS n_tok,
         {h} AS h, ({h}) % 8 AS shard
  FROM capped
),
pk_cum AS (
  SELECT doc_id, source, shard, n_tok,
         sum(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pk_base
)
SELECT doc_id, source, shard, n_tok,
       floor((cum - n_tok) / 512)::BIGINT AS bin,
       ((cum - n_tok) % 512)::BIGINT AS bin_offset
FROM pk_cum
"""


def _sql_simhash() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(32)
    )
    fp = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
    return f"""
WITH w AS (SELECT doc_id, unnest({_W}) AS word FROM documents),
h AS (SELECT doc_id, {pf.sql_pt_hash("word")} AS h FROM w),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
SELECT doc_id, ({fp})::BIGINT AS simhash FROM bits
"""


def _sql_jaccard() -> str:
    return f"""
WITH {_sql_docs_shingled()},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT id_a, id_b,
         floor(i * 10000 / (sa.sz + sb.sz - i))::BIGINT AS jaccard_bp
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
) WHERE jaccard_bp >= {JACCARD_MIN_BP}
"""


def _sql_cosine_pairs() -> str:
    sim = pf.sql_qcosine(pf.sql_qdot("a.e", "b.e"), "a.n2", "b.n2")
    return f"""
WITH qv AS (
  SELECT vec_id, {pf.sql_quantize("embedding")} AS e FROM embeddings
),
base AS (SELECT vec_id, e, {pf.sql_qdot("e", "e")} AS n2 FROM qv)
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {pf.sql_floor_bp(sim)} AS sim_bp
  FROM base a JOIN base b ON a.vec_id < b.vec_id
) WHERE sim_bp >= {COSINE_MIN_BP}
"""


def _sql_ann(bucketed: bool) -> str:
    sim = pf.sql_qcosine(pf.sql_qdot("q.e", "c.e"), "q.n2", "c.n2")
    bucket = pf.sql_hyperplane_bucket("e", LSH_PLANES, EMB_DIM)
    extra_col = f", {bucket} AS bucket" if bucketed else ""
    join_cond = "q.bucket = c.bucket AND " if bucketed else ""
    return f"""
WITH qv AS (
  SELECT vec_id, {pf.sql_quantize("embedding")} AS e FROM embeddings
),
base AS (
  SELECT vec_id, e, {pf.sql_qdot("e", "e")} AS n2{extra_col}
  FROM qv
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {pf.sql_floor_bp(sim)} AS sim_bp
  FROM base q JOIN base c
    ON {join_cond}q.vec_id < 8 AND q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, rank, sim_bp FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim_bp DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {ANN_K}
"""


def _sql_lang_id() -> str:
    hits = {
        lang: f"len(list_filter(w, x -> x IN ({', '.join(repr(t) for t in lex)})))"
        for lang, lex in LEXICONS.items()
    }
    cjk = (
        "CASE WHEN length(text) > 0 THEN "
        "floor(len(list_filter(split(text, ''), c -> ord(c) BETWEEN 19968 AND 40959))"
        " * 10000 / length(text)) ELSE 0 END"
    )
    return f"""
WITH d AS (SELECT doc_id, text, {_W} AS w FROM documents),
h AS (
  SELECT doc_id, {cjk} AS cjk,
         {hits["en"]} AS h_en, {hits["de"]} AS h_de,
         {hits["es"]} AS h_es, {hits["fr"]} AS h_fr
  FROM d
)
SELECT doc_id,
  CASE WHEN cjk >= 3000 THEN 'zh'
       WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
       WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
       WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
       WHEN h_fr > 0 THEN 'fr'
       ELSE 'und' END AS lang_pred
FROM h
"""


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_quality_cte() -> str:
    """CTE chain d→c→m→q ending in q(doc_id, …, score_bp) — shared by
    the quality_score oracle and dedup_keep_best's pick oracle."""
    en = ", ".join(_sql_str(t) for t in LEXICONS["en"])
    punct = ", ".join(_sql_str(c) for c in ".,;:!?'\"()-")
    return f"""
d AS (SELECT doc_id, text, {_W} AS w FROM documents),
c AS (
  SELECT doc_id,
    len(w) AS n_words,
    list_sum(list_transform(w, x -> length(x))) AS char_total,
    len(list_filter(w, x -> x IN ({en}))) AS stop_hits,
    len(list_filter(split(text, ''), c -> c IN ({punct}))) AS punct_n,
    length(text) AS n_chars
  FROM d
),
m AS (
  SELECT doc_id,
    n_words::BIGINT AS n_words,
    (CASE WHEN n_words > 0 THEN floor(char_total * 10000 / n_words) ELSE 0 END)::BIGINT AS mean_wlen_bp,
    (CASE WHEN n_words > 0 THEN floor(stop_hits * 10000 / n_words) ELSE 0 END)::BIGINT AS stopword_bp,
    (CASE WHEN n_chars > 0 THEN floor(punct_n * 10000 / n_chars) ELSE 0 END)::BIGINT AS punct_bp
  FROM c
),
q AS (
  SELECT *,
    ((CASE WHEN n_words BETWEEN 10 AND 1000 THEN 4000 ELSE 0 END)
   + (CASE WHEN stopword_bp BETWEEN 200 AND 6000 THEN 3000 ELSE 0 END)
   + (CASE WHEN punct_bp <= 1500 THEN 2000 ELSE 0 END)
   + (CASE WHEN mean_wlen_bp BETWEEN 30000 AND 120000 THEN 1000 ELSE 0 END))::BIGINT AS score_bp
  FROM m
)
"""


def _sql_quality() -> str:
    return f"WITH {_sql_quality_cte()} SELECT * FROM q"


def _sql_fingerprint() -> str:
    norm = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
    win_hash = pf.sql_pt_hash("substr(norm, i, 8)")
    return f"""
WITH n AS (SELECT doc_id, {norm} AS norm FROM documents)
SELECT doc_id,
  {pf.sql_pt_hash("norm")} AS full_hash,
  (CASE WHEN length(norm) >= 8 THEN
     list_min(list_transform(range(1, length(norm) - 6), i -> {win_hash}))
   ELSE {pf.sql_pt_hash("norm")} END)::BIGINT AS min_window_hash
FROM n
"""


def _sql_media_decode() -> str:
    checksum = "list_sum(list_transform(split(text, ''), c -> ord(c))) % 65521"
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         octet_length(encode(text))::BIGINT AS n_bytes,
         ({checksum})::BIGINT AS checksum
  FROM documents
)
SELECT doc_id, kind, n_bytes, checksum,
       (64 + checksum % 512)::BIGINT AS width,
       (64 + (checksum // 7) % 512)::BIGINT AS height
FROM m
"""


def _sql_frame_sample() -> str:
    return """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         octet_length(encode(text)) AS nb
  FROM documents
),
f AS (
  SELECT doc_id, kind,
         greatest(1, CASE WHEN kind = 'image' THEN 0 ELSE nb // 32 END) AS n_frames
  FROM m
)
SELECT doc_id, kind, unnest(range(0, n_frames::BIGINT, 4))::BIGINT AS frame_idx
FROM f
"""


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_tpch_q1(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Declaration order is deliberate: the driver scores the FIRST 50
    entries in dict order. Round-8 window: (a) the 6 queries new this
    round (elastic_scroll_plan, gpfdist_plan — the last two plan-only
    storages upgraded to driver rows — plus cdc_rebucket,
    pg_copy_plan, pg_copy_decode and mysql_select_plan: the online
    re-layout and the two wire-direct snapshot paths landed late in
    the round), (b) the 9 queries whose
    implementation paths changed in rounds 7-8 (the merge-on-read
    delta layer + per-bucket incremental compaction under
    cdc_merge_delta / cdc_merge_bucketed / the replicate family, the
    mysql keyword-less-DDL scope fix, the incremental loud-retype
    schema probes, and the band-index watermark seeding) — including
    cdc_merge_delta, which r7 shipped unscored (r7 verdict item 2),
    and (c) the 35 oldest-green r04/r05 rows rotating back into the
    official record. 6+9+35 = 50 exactly. The tail holds r07-green and
    younger rows and stays verified by ``python scripts/driver_sim.py``
    over ALL entries.

    ROUND-14 rotation (the `_R14_WINDOW` reorder at the end of this
    function, standing contract): (a) the 2 queries NEW in r14
    (commit-point decode of prepared/multi-entry oplog transactions;
    the `$unset`/upsert partial-update sink plan), (b) the 8 rows
    whose implementation paths changed in r14 (the mongo sink's
    removal-marker planning + upsert + BSON-safe fetched-key
    normalization + shard-key TTL + shared wire adapter under
    mongo_shard_key_plan; the applyOps decode refactor under the two
    oplog rows; the SRV resolver's wall-clock DNS deadline under
    mongo_seedlist_plan; the change-stream reader's `_removed` emission
    under mongo_change_stream; collapse's removed-net tracking under
    cdc_collapse/cdc_merge; the wal plane's `_removed` meta column
    under replicate_yaml), (c) the 40 oldest-green rows — all 8 last
    scored in r09 plus the 32 alphabetically first of the 37 last
    scored in r10. 2+8+40 = 50.

    ROUND-13 rotation (historical): (a) the 3 queries NEW in r13 (the
    oplog fallback's applyOps transaction expansion, the
    shard-key-aware Mongo sink's op planner, the seedlist/topology
    kernels), (b) the 6 rows whose implementation paths changed in
    r13 (the mongo wire plane under seedlist failover + SDAM
    discovery + hardened DNS + drain dedupe; parse_mongo_uri's
    topology options under tls_trust_ladder; the mongowire drain
    formats under replicate_yaml), (c) the 41 oldest-green rows —
    all 16 last scored in r08 plus the 25 alphabetically first of
    the 33 last scored in r09. 3+6+41 = 50.

    ROUND-12 rotation (historical): (a) the 5 queries NEW in r12
    (registry-driven drift classification, the live parser's
    on_invalid='unparsed' dead-letter routing, the shared TLS trust
    ladder across the Kafka/Mongo/SR planes, the lib-free produce
    codec matrix, the Mongo oplog-fallback decode plane), (b) the 19
    rows whose implementation paths changed in round 12 (see the
    window's inline comments), (c) the 26 oldest-green rows — the 8
    last scored in r07 plus the 18 alphabetically-first of the 34
    last scored in r08. 5+19+26 = 50.

    ROUND-11 rotation (historical): (a) the 4 queries NEW that round
    (the Kafka SASL/SCRAM + gzip wire security surface, the live
    Confluent Schema Registry + Avro binary codec, the Mongo BSON
    codec behind the new wire plane, and ClickHouse system.clusters
    topology discovery), (b) the 20 queries whose implementation paths
    changed in round 11 (the single-scan collapse + fused one-exchange
    clustered merge + expression cache under the
    cdc_collapse/cdc_merge/cdc_rebucket families; the idle-slot fence
    guards behind snapshot_handoff and the mysql_select rows; the
    kafkawire _lsn policy + mongowire format under the replicate rows;
    the multi-host/leader-failover Kafka codecs under kafka_fetch_plan
    / queue_adapters; the version-aware ClickHouse write default +
    explicit-schema reads under the clickhouse rows; the
    registry-backed parser/serializer under parser_confluent_sr /
    serializer_confluent; the wire client factory under the mongo
    rows), and (c) the 26 oldest-green r07 rows rotating back into the
    official record. 4+20+26 = 50 exactly.
    """
    q = {
        # -- (a) NEW in round 9: wire-source schema discovery +
        # the vectorized MySQL decode ----------------------------
        "pg_schema_discovery": q_pg_schema_discovery,
        "mysql_schema_discovery": q_mysql_schema_discovery,
        "mysql_select_decode": q_mysql_select_decode,
        "clickhouse_decode": q_clickhouse_decode,
        "gpfdist_frames": q_gpfdist_frames,
        # -- r8-new rows -----------------------------------------
        "elastic_scroll_plan": q_elastic_scroll_plan,
        "gpfdist_plan": q_gpfdist_plan,
        "gp_control_plane": q_gp_control_plane,
        "kafka_fetch_plan": q_kafka_fetch_plan,
        "yt_schema_map": q_yt_schema_map,
        "yt_read_plan": q_yt_read_plan,
        "queue_adapters": q_queue_adapters,
        "cdc_rebucket": q_cdc_rebucket,
        "pg_copy_plan": q_pg_copy_plan,
        "pg_copy_decode": q_pg_copy_decode,
        "mysql_select_plan": q_mysql_select_plan,
        # -- (b) r7/r8-changed paths: merge-on-read delta apply +
        # incremental compaction (bucketed table), the mysql DDL
        # fallback scope fix, format-routed probes, the live
        # session wiring in the replicate verb, and the band-index
        # watermark seeding — re-score ---------------------------
        "cdc_merge_delta": q_cdc_merge_delta,
        "cdc_merge_bucketed": q_cdc_merge_bucketed,
        "mysql_cdc_envelope": q_mysql_cdc_envelope,
        "mongo_change_stream": q_mongo_change_stream,
        "replicate_yaml": q_replicate_yaml,
        "replicate_controls": q_replicate_controls,
        "replicate_multi_table": q_replicate_multi_table,
        "dedup_stream_ingest": q_dedup_stream_ingest,
        "dedup_incremental_store": q_dedup_incremental_store,
        # -- (c) the 39 oldest-green (r04/r05) rows rotate back
        # into the official record -------------------------------
        "sharder": q_sharder,
        "problem_item_detector": q_problem_item_detector,
        "filter_access_log": q_filter_access_log,
        "ann_ivf": q_ann_ivf,
        "dblog_snapshot": q_dblog_snapshot,
        "serializer_confluent": q_serializer_confluent,
        "jdbc_pushdown": q_jdbc_pushdown,
        "jdbc_shard_ranges": q_jdbc_shard_ranges,
        "mongo_id_ranges": q_mongo_id_ranges,
        "partition_expansion": q_partition_expansion,
        "split_leakage_safe": q_split_leakage_safe,
        "embed_documents": q_embed_documents,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_blocks": q_dedup_blocks,
        "dedup_cluster": q_dedup_cluster,
        "dedup_keep_best": q_dedup_keep_best,
        "corpus_pipeline": q_corpus_pipeline,
        "sessionize": q_sessionize,
        "transfer_yaml": q_transfer_yaml,
        "serializer_json": q_serializer_json,
        "parser_confluent_sr": q_parser_confluent_sr,
        "incremental_read": q_incremental_read,
        "parser_logfeller": q_parser_logfeller,
        "debezium_roundtrip": q_debezium_roundtrip,
        "ann_lsh_bucketed": q_ann_lsh_bucketed,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "media_decode": q_media_decode,
        "frame_sample": q_frame_sample,
        "parser_cloudevents": q_parser_cloudevents,
        "parser_cloudlogging": q_parser_cloudlogging,
        "parser_audittrails": q_parser_audittrails,
        "filter_rows_by_ids": q_filter_rows_by_ids,
        # -- tail: fresh r07 green rows and younger; verified
        # every round by scripts/driver_sim.py over ALL entries --
        "number_to_float": q_number_to_float,
        "raw_doc_grouper": q_raw_doc_grouper,
        "rename_tables": q_rename_tables,
        "mongo_pk_extender": q_mongo_pk_extender,
        "embed_ann_pipeline": q_embed_ann_pipeline,
        "oracle_rowid_plan": q_oracle_rowid_plan,
        "clickhouse_read_plan": q_clickhouse_read_plan,
        "clickhouse_topology": q_clickhouse_topology,
        "schema_registry_avro": q_schema_registry_avro,
        "schema_registry_protojson": q_schema_registry_protojson,
        "cloudevents_proto": q_cloudevents_proto,
        "kafka_sasl_plan": q_kafka_sasl_plan,
        "registry_drift_classify": q_registry_drift_classify,
        "mongo_oplog_decode": q_mongo_oplog_decode,
        "oplog_applyops_decode": q_oplog_applyops_decode,
        "oplog_txn_commit": q_oplog_txn_commit,
        "mongo_shard_key_plan": q_mongo_shard_key_plan,
        "mongo_partial_unset": q_mongo_partial_unset,
        "mongo_seedlist_plan": q_mongo_seedlist_plan,
        "parser_unparsed_routing": q_parser_unparsed_routing,
        "tls_trust_ladder": q_tls_trust_ladder,
        "kafka_codec_matrix": q_kafka_codec_matrix,
        "mongo_bson_codec": q_mongo_bson_codec,
        "shard_fallback_plans": q_shard_fallback_plans,
        "delta_scan": q_delta_scan,
        "dedup_incremental": q_dedup_incremental,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "middleware_chain": q_middleware_chain,
        "mask_field": q_mask_field,
        "filter_columns": q_filter_columns,
        "regex_replace": q_regex_replace,
        "tpch_q5ish": q_tpch_q5ish,
        "tpch_q4ish": q_tpch_q4ish,
        "tpch_q14ish": q_tpch_q14ish,
        "tpch_q16ish": q_tpch_q16ish,
        "tpch_q7ish": q_tpch_q7ish,
        "tpch_q10ish": q_tpch_q10ish,
        "tpch_q22ish": q_tpch_q22ish,
        "tpch_q12ish": q_tpch_q12ish,
        "tpch_q15ish": q_tpch_q15ish,
        "tpch_q19ish": q_tpch_q19ish,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q6": q_tpch_q6,
        "tpch_q18ish": q_tpch_q18ish,
        "window_topk": q_window_topk,
        "events_sliding_rollup": q_events_sliding_rollup,
        "asof_join": q_asof_join,
        "salted_join": q_salted_join,
        "interval_join": q_interval_join,
        "percentile_stats": q_percentile_stats,
        "two_phase_agg": q_two_phase_agg,
        "events_hourly_rollup": q_events_hourly_rollup,
        "range_join": q_range_join,
        "rollup_agg": q_rollup_agg,
        "set_ops": q_set_ops,
        "scalar_funcs": q_scalar_funcs,
        "mix_sources": q_mix_sources,
        "audio_energy": q_audio_energy,
        "image_resize": q_image_resize,
        "convert_to_string": q_convert_to_string,
        "convert_to_datetime": q_convert_to_datetime,
        "replace_primary_key": q_replace_primary_key,
        "jsonparser": q_jsonparser,
        "lambda": q_lambda,
        "yt_dict": q_yt_dict,
        "parser_tskv": q_parser_tskv,
        "parser_blank": q_parser_blank,
        "parser_raw_to_table": q_parser_raw_to_table,
        "serializer_csv": q_serializer_csv,
        "skip_events": q_skip_events,
        "transform_chain": q_transform_chain,
        "filter_rows": q_filter_rows,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "decontaminate": q_decontaminate,
        "quota_cap": q_quota_cap,
        "global_shuffle": q_global_shuffle,
        "pack_sequences": q_pack_sequences,
        "pii_scrub": q_pii_scrub,
        "quality_gopher": q_quality_gopher,
        "sample_stratified": q_sample_stratified,
        "clickhouse_insert_plan": q_clickhouse_insert_plan,
        "raw_cdc_doc_grouper": q_raw_cdc_doc_grouper,
        "native_roundtrip": q_native_roundtrip,
        "typesystem_edges": q_typesystem_edges,
        "ydb_changefeed": q_ydb_changefeed,
        "airbyte_records": q_airbyte_records,
        "ydb_scan": q_ydb_scan,
        "dbt_models": q_dbt_models,
        "cdc_collapse": q_cdc_collapse,
        "cdc_merge": q_cdc_merge,
        "snapshot_handoff": q_snapshot_handoff,
        "tpch_q2ish": q_tpch_q2ish,
        "tpch_q8": q_tpch_q8,
        "tpch_q9ish": q_tpch_q9ish,
        "tpch_q11ish": q_tpch_q11ish,
        "tpch_q13ish": q_tpch_q13ish,
        "tpch_q17ish": q_tpch_q17ish,
        "tpch_q20ish": q_tpch_q20ish,
        "tpch_q21ish": q_tpch_q21ish,
        "repetition_score": q_repetition_score,
        "chunk_documents": q_chunk_documents,
        "dedup_exact": q_dedup_exact,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "ann_brute_force": q_ann_brute_force,
        "ann_sq8": q_ann_sq8,
        "bm25_rank": q_bm25_rank,
        "lm_familiarity": q_lm_familiarity,
        "token_count": q_token_count,
        "table_splitter": q_table_splitter,
        "parser_json": q_parser_json,
        "parser_protobuf": q_parser_protobuf,
    }
    _R14_WINDOW = [
        # (a) NEW in round 14: commit-point decode of prepared /
        # multi-entry oplog transactions (TxnBuffer), and the
        # `$unset`-for-removed-fields + upserting-UpdateOne
        # partial-update sink plan
        "oplog_txn_commit",
        "mongo_partial_unset",
        # (b) the 8 rows whose implementation paths changed in r14:
        # the mongo sink's removal-marker planning, upsert parity,
        # BSON-safe fetched-key normalization, shard-key TTL and
        # shared wire adapter (mongo_shard_key_plan); the applyOps
        # decode refactor feeding TxnBuffer (the two oplog rows); the
        # SRV resolver's wall-clock DNS deadline + single-resolve
        # anti-spoof (mongo_seedlist_plan); the change-stream
        # reader's `_removed` emission (mongo_change_stream);
        # collapse's removed-net tracking (cdc_collapse/cdc_merge);
        # the wal plane's `_removed` meta column (replicate_yaml)
        "mongo_shard_key_plan",
        "oplog_applyops_decode",
        "mongo_oplog_decode",
        "mongo_seedlist_plan",
        "mongo_change_stream",
        "cdc_collapse",
        "cdc_merge",
        "replicate_yaml",
        # (c) the 40 oldest-green rows rotating back into the official
        # record: all 8 last scored in r09 plus the 32 alphabetically
        # first of the 37 last scored in r10
        "tpch_q20ish",
        "tpch_q21ish",
        "tpch_q2ish",
        "tpch_q8",
        "tpch_q9ish",
        "typesystem_edges",
        "ydb_changefeed",
        "ydb_scan",
        "ann_sq8",
        "asof_join",
        "audio_energy",
        "bm25_rank",
        "convert_to_datetime",
        "convert_to_string",
        "dedup_incremental",
        "dedup_minhash_lsh",
        "delta_scan",
        "embed_ann_pipeline",
        "events_hourly_rollup",
        "events_sliding_rollup",
        "filter_rows",
        "gp_control_plane",
        "gpfdist_frames",
        "gpfdist_plan",
        "jsonparser",
        "lambda",
        "lm_familiarity",
        "mongo_pk_extender",
        "number_to_float",
        "parser_blank",
        "parser_json",
        "parser_protobuf",
        "parser_raw_to_table",
        "parser_tskv",
        "pg_schema_discovery",
        "raw_doc_grouper",
        "rename_tables",
        "serializer_csv",
        "skip_events",
        "table_splitter",
    ]
    assert len(_R14_WINDOW) == 50 and len(set(_R14_WINDOW)) == 50
    missing = [n for n in _R14_WINDOW if n not in q]
    assert not missing, f"window names drifted: {missing}"
    return {
        **{n: q[n] for n in _R14_WINDOW},
        **{n: f for n, f in q.items() if n not in set(_R14_WINDOW)},
    }


def _changelog_cte(key: str = "user_id", value: str = "value") -> str:
    """DuckDB CTE reproducing events_changelog + collapse — the oracle
    for the CDC surface."""
    return f"""
WITH changelog AS (
  SELECT user_id AS {key}, value AS {value}, event_id AS lsn,
         {OP_CASE_SQL} AS op
  FROM events
),
net AS (
  SELECT {key},
         arg_max(op, lsn)      AS last_op,
         arg_min(op, lsn)      AS first_op,
         max(lsn)              AS max_lsn,
         arg_max({value}, lsn) AS last_value
  FROM changelog GROUP BY {key}
),
collapsed AS (
  SELECT {key},
         CASE WHEN last_op = 'd' THEN NULL ELSE last_value END AS {value},
         CASE WHEN last_op = 'd' THEN 'd'
              WHEN first_op = 'i' THEN 'i' ELSE 'u' END AS _op,
         max_lsn AS _lsn
  FROM net
)
"""


def _sql_oracle_rowid_plan() -> str:
    """DuckDB face of the extended-ROWID plan: re-derives extent
    chunking and the base-64 OOOOOOFFFBBBBBBRRR encoding in SQL."""
    alpha = (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    )

    def b64(expr: str, width: int) -> str:
        return " || ".join(
            f"substr('{alpha}', ((CAST(({expr}) AS BIGINT) >> {6 * i}) "
            f"& 63) + 1, 1)"
            for i in range(width - 1, -1, -1)
        )

    def b64_const(value: int, width: int) -> str:
        out = []
        for i in range(width - 1, -1, -1):
            out.append(alpha[(value >> (6 * i)) & 63])
        return "".join(out)

    obj = b64_const(77, 6)  # data_object_id constant
    row_lo = b64_const(0, 3)
    row_hi = b64_const((1 << 16) - 1, 3)  # MAX_ROW_SLOT
    return f"""
WITH ext AS (
  SELECT n_nationkey, n_nationkey % 4 + 1 AS rel_file,
         n_nationkey * 16 AS block_id, 8 AS blocks
  FROM nation
),
chunks AS (
  SELECT n_nationkey, rel_file,
         block_id + c.k * 5 AS lo,
         least(block_id + (c.k + 1) * 5, block_id + blocks) - 1 AS hi
  FROM ext, (SELECT 0 AS k UNION ALL SELECT 1) c
  WHERE c.k * 5 < blocks
)
SELECT n_nationkey, lo AS block_lo, hi AS block_hi,
       'ROWID BETWEEN CHARTOROWID(''' || '{obj}' || {b64("rel_file", 3)}
       || {b64("lo", 6)} || '{row_lo}' || ''') AND CHARTOROWID('''
       || '{obj}' || {b64("rel_file", 3)} || {b64("hi", 6)} || '{row_hi}'
       || ''')' AS predicate
FROM chunks
"""


def oracle_sql() -> dict[str, str]:
    from transferia_spark.operators.embed import sql_hash_embedding_component
    from transferia_spark.sources.jdbc import pushdown_subquery

    # the jdbc_pushdown oracle EXECUTES the exact SQL the source would
    # ship to PostgreSQL (DuckDB standing in for the database)
    _jdbc_sub = pushdown_subquery(
        TableID("", "customer"), where=JDBC_PUSH_WHERE, columns=JDBC_PUSH_COLS
    )
    return {
        "jdbc_pushdown": f"SELECT * FROM {_jdbc_sub}",
        "jdbc_shard_ranges": """
            WITH b AS (SELECT min(c_custkey) AS lo, max(c_custkey) AS hi
                       FROM customer),
            p AS (SELECT lo, hi, greatest(1, (hi - lo + 1) // 4) AS step
                  FROM b),
            tagged AS (
              SELECT CAST(least(3, (c.c_custkey - p.lo) // p.step) AS INTEGER)
                       AS shard,
                     c.c_custkey
              FROM customer c, p
            )
            SELECT shard, count(*) AS n, min(c_custkey) AS lo_key,
                   max(c_custkey) AS hi_key
            FROM tagged GROUP BY shard
        """,
        "mongo_id_ranges": """
            SELECT CAST(least(6, c_custkey // 200) AS INTEGER) AS unit,
                   count(*) AS n, max(c_custkey) AS hi_key
            FROM customer GROUP BY unit
        """,
        "oracle_rowid_plan": _sql_oracle_rowid_plan(),
        "elastic_scroll_plan": """
WITH s AS (SELECT unnest(range(8)) AS i)
SELECT 'search' AS kind, CAST(i AS INTEGER) AS idx,
       '/documents/_search?scroll=60m {"size": 500, "slice": {"id": '
       || CAST(i AS VARCHAR) || ', "max": 8}}' AS val
FROM s
UNION ALL
SELECT 'search_single', 0, '{"size": 500}'
UNION ALL
SELECT 'type', t.i, t.v FROM (VALUES
  (0, 'a_long=bigint'), (1, 'b_int=int'), (2, 'c_double=double'),
  (3, 'd_keyword=string'), (4, 'e_text=string'), (5, 'f_bool=boolean'),
  (6, 'g_date=timestamp'), (7, 'h_ip=string'), (8, 'i_bin=binary'),
  (9, 'j_obj=string'), (10, 'k_geo=string'),
  (11, 'l_uns=decimal(20,0)')) t(i, v)
""",
        "yt_read_plan": """
SELECT t.i AS idx, t.s AS "start", t.e AS "end", t.y AS ypath
FROM (VALUES
  (0, 0, 5, '//home/users[#0:#5]'),
  (1, 5, 10, '//home/users[#5:#10]'),
  (2, 10, 15, '//home/users[#10:#15]'),
  (3, 15, 20, '//home/users[#15:#20]'),
  (4, 20, 23, '//home/users[#20:#23]'),
  (100, 0, 0, '//t[#0:#0]')
) t(i, s, e, y)
""",
        "yt_schema_map": """
WITH m(name, out) AS (
  SELECT name, CASE
    WHEN name LIKE 'decimal(%' THEN name
    WHEN name = 'int8' THEN 'tinyint'
    WHEN name = 'int16' THEN 'smallint'
    WHEN name = 'int32' THEN 'int'
    WHEN name = 'int64' THEN 'bigint'
    WHEN name = 'uint8' THEN 'smallint'
    WHEN name = 'uint16' THEN 'int'
    WHEN name = 'uint32' THEN 'bigint'
    WHEN name = 'uint64' THEN 'decimal(20,0)'
    WHEN name = 'float' THEN 'float'
    WHEN name IN ('double', 'big_float') THEN 'double'
    WHEN name = 'string' THEN 'binary'
    WHEN name IN ('utf8', 'any', 'json', 'composite') THEN 'string'
    WHEN name = 'boolean' THEN 'boolean'
    WHEN name = 'date' THEN 'date'
    WHEN name IN ('datetime', 'timestamp', 'timestamp_tz')
      THEN 'timestamp'
    WHEN name = 'interval' THEN 'interval day to second'
  END
  FROM (VALUES ('int8'), ('int16'), ('int32'), ('int64'), ('uint8'),
    ('uint16'), ('uint32'), ('uint64'), ('float'), ('double'),
    ('string'), ('utf8'), ('boolean'), ('date'), ('datetime'),
    ('timestamp'), ('interval'), ('any'), ('json'), ('timestamp_tz'),
    ('big_float'), ('composite'), ('decimal(12,3)')) t(name)
)
SELECT 'type' AS kind, name, out FROM m
UNION ALL
SELECT 'field', t.n, t.o FROM (VALUES
  ('k1', 'bigint:req:pk'), ('k2', 'string:null:pk'),
  ('v', 'double:null:-'), ('blob', 'binary:req:-')) t(n, o)
UNION ALL
SELECT 'keys', 'k1,k2', ''
""",
        "queue_adapters": """
SELECT 'eventhub' AS kind, 'tr1_0' AS topic, 0 AS "partition",
       42 AS "offset", 'a1' AS val,
       TIMESTAMP '2024-01-01 08:00:00' AS "timestamp"
UNION ALL SELECT 'eventhub', 'tr1_0', 0, 12, 'a2',
       TIMESTAMP '2024-01-01 08:00:01'
UNION ALL SELECT 'eventhub', 'tr1_3', 3, 13, 'a3',
       TIMESTAMP '2024-01-01 08:00:02'
UNION ALL SELECT 'yds', 'stream-x', 0, 5, 'y1',
       TIMESTAMP '2024-02-02 09:00:00'
UNION ALL SELECT 'yds', 'stream-x', 2, 6, 'y2',
       TIMESTAMP '2024-02-02 09:00:01'
""",
        "kafka_fetch_plan": """
SELECT t.kind, t.idx, t.val FROM (VALUES
  ('fetch_frame', 0, '0000005b000100040000000900107472616e7366657269612d737061726bffffffff000001f40000000100800000000000000100066f72646572730000000200000000000000000000002a0010000000000001000000000000000700100000'),
  ('list_offsets_frame', 0, '00000046000200010000000300107472616e7366657269612d737061726bffffffff0000000100066f72646572730000000200000000ffffffffffffffff00000001fffffffffffffffe'),
  ('record', 5, 'k1=v1@1700000000000'),
  ('record', 6, '=v2@1700000000000')
) t(kind, idx, val)
""",
        "gp_control_plane": """
SELECT t.i AS idx, t.v AS stmt FROM (VALUES
  (0, $gp$DROP EXTERNAL TABLE IF EXISTS "public"."ext_customer"$gp$),
  (1, $gp$CREATE READABLE EXTERNAL TABLE "public"."ext_customer" ("c_custkey" bigint, "c_name" text) LOCATION ('gpfdist://etl1:8080/customer/*') FORMAT 'TEXT' (DELIMITER E'\\t' NULL E'\\\\N')$gp$),
  (2, $gp$CREATE TEMPORARY TABLE "tmp_public_customer" AS SELECT * FROM "public"."customer" LIMIT 0$gp$),
  (3, $gp$INSERT INTO "tmp_public_customer"("c_custkey", "c_name") SELECT "c_custkey", "c_name" FROM "public"."ext_customer"$gp$),
  (4, 'BEGIN'),
  (5, $gp$INSERT INTO "public"."customer"("c_custkey", "c_name") SELECT "c_custkey", "c_name" FROM "tmp_public_customer"$gp$),
  (6, $gp$DROP TABLE IF EXISTS "tmp_public_customer"$gp$),
  (7, 'COMMIT'),
  (8, $gp$DROP EXTERNAL TABLE IF EXISTS "public"."ext_customer"$gp$)
) t(i, v)
""",
        "gpfdist_plan": """
SELECT 'ddl' AS kind, 0 AS idx,
  $gp$CREATE READABLE EXTERNAL TABLE "public"."ext_customer" ("c_custkey" bigint, "c_name" text, "c_acctbal" double precision) LOCATION ('gpfdist://seg1:8080/customer*', 'gpfdist://seg2:8080/customer*') FORMAT 'TEXT' (DELIMITER E'\\t' NULL E'\\\\N')$gp$ AS val
UNION ALL
SELECT 'insert', 0,
  $gp$INSERT INTO "public"."customer"("c_custkey", "c_name", "c_acctbal") SELECT "c_custkey", "c_name", "c_acctbal" FROM "public"."ext_customer"$gp$
UNION ALL
SELECT 'line', CAST(c_custkey AS INTEGER),
  c_name || chr(9) || c_mktsegment || chr(9) ||
  COALESCE(CAST(CASE WHEN c_acctbal < 0 THEN NULL
                     ELSE c_acctbal END AS VARCHAR), '\\N')
FROM customer
""",
        "pg_schema_discovery": """
WITH m(name, out) AS (
  SELECT name, CASE
    WHEN name = 'bigint' THEN 'bigint'
    WHEN name = 'integer' THEN 'int'
    WHEN name = 'smallint' THEN 'smallint'
    WHEN name IN ('numeric', 'real', 'double precision') THEN 'double'
    WHEN name IN ('bytea', 'bit varying') THEN 'binary'
    WHEN name IN ('text', 'character varying', 'uuid', 'money',
                  'interval') THEN 'string'
    WHEN name = 'boolean' THEN 'boolean'
    WHEN name = 'date' THEN 'date'
    WHEN name LIKE 'timestamp%' THEN 'timestamp'
    ELSE 'string'
  END
  FROM (VALUES ('bigint'), ('integer'), ('smallint'), ('numeric'),
    ('real'), ('double precision'), ('bytea'), ('bit varying'),
    ('text'), ('character varying'), ('uuid'), ('money'),
    ('interval'), ('boolean'), ('date'),
    ('timestamp without time zone'), ('timestamp with time zone'),
    ('character'), ('ARRAY'), ('json'), ('jsonb'), ('inet'),
    ('USER-DEFINED')) t(name)
)
SELECT 'type' AS kind, name, out FROM m
UNION ALL
SELECT 'sql', 'columns', $q$SELECT c.table_schema, c.table_name, c.column_name, c.ordinal_position, c.data_type, c.udt_name FROM information_schema.columns c JOIN information_schema.tables t ON t.table_schema = c.table_schema AND t.table_name = c.table_name WHERE t.table_type = 'BASE TABLE' AND c.table_schema = 'shop' ORDER BY c.table_schema, c.table_name, c.ordinal_position$q$
UNION ALL
SELECT 'sql', 'pkeys', $q$SELECT tc.table_schema, tc.table_name, kcu.column_name, kcu.ordinal_position FROM information_schema.table_constraints tc JOIN information_schema.key_column_usage kcu ON kcu.constraint_name = tc.constraint_name AND kcu.constraint_schema = tc.constraint_schema AND kcu.table_name = tc.table_name WHERE tc.constraint_type = 'PRIMARY KEY' AND tc.table_schema = 'shop' ORDER BY tc.table_schema, tc.table_name, kcu.ordinal_position$q$
UNION ALL
SELECT 'sql', 'replident', $q$SELECT n.nspname AS table_schema, c.relname AS table_name, a.attname AS column_name, k.ord AS ordinal_position FROM pg_index i JOIN pg_class c ON c.oid = i.indrelid JOIN pg_namespace n ON n.oid = c.relnamespace JOIN LATERAL unnest(i.indkey) WITH ORDINALITY k(attnum, ord) ON true JOIN pg_attribute a ON a.attrelid = c.oid AND a.attnum = k.attnum WHERE i.indisreplident AND i.indisunique AND n.nspname = 'shop' ORDER BY table_schema, table_name, k.ord$q$
UNION ALL
SELECT 'sql', 'parents', $q$SELECT cn.nspname AS child_schema, c.relname AS child_name, pn.nspname AS parent_schema, p.relname AS parent_name FROM pg_inherits i JOIN pg_class c ON c.oid = i.inhrelid JOIN pg_namespace cn ON cn.oid = c.relnamespace JOIN pg_class p ON p.oid = i.inhparent JOIN pg_namespace pn ON pn.oid = p.relnamespace WHERE cn.nspname = 'shop' ORDER BY child_schema, child_name$q$
UNION ALL
SELECT 'pk', tbl, string_agg(col, ',' ORDER BY pos)
FROM (
  SELECT tbl, col, pos, cname,
         first_value(cname) OVER (
           PARTITION BY tbl
           ORDER BY (cname = 'PRIMARY KEY') DESC, seq
         ) AS chosen
  FROM (VALUES ('s.t1', 'id', 1, 'PRIMARY KEY', 1),
               ('s.t1', 'region', 2, 'PRIMARY KEY', 2),
               ('s.t2', 'k', 1, 'uniq_k', 3)) v(tbl, col, pos, cname, seq)
)
WHERE cname = chosen GROUP BY tbl
UNION ALL
SELECT 'fallback', t, COALESCE(o0.k, o1.k, o2.k, '')
FROM (VALUES ('t_haspk'), ('t_both'), ('t_ident'), ('t_child'),
             ('t_gc'), ('t_keyless')) tabs(t)
LEFT JOIN (
  SELECT tbl, COALESCE(pk.k, idk.k) AS k FROM (
    SELECT tbl FROM (VALUES ('t_haspk'), ('t_both'), ('t_ident')) x(tbl)
  ) all_k
  LEFT JOIN (VALUES ('t_haspk', 'id'), ('t_both', 'id')) pk(tbl_p, k)
    ON pk.tbl_p = all_k.tbl
  LEFT JOIN (VALUES ('t_ident', 'b,a'), ('t_both', 'z')) idk(tbl_i, k)
    ON idk.tbl_i = all_k.tbl
) o0 ON o0.tbl = tabs.t
LEFT JOIN (VALUES ('t_child', 't_haspk'), ('t_gc', 't_child')) p1(c, p)
  ON p1.c = tabs.t
LEFT JOIN (VALUES ('t_haspk', 'id'), ('t_both', 'id'),
                  ('t_ident', 'b,a')) o1(tbl, k) ON o1.tbl = p1.p
LEFT JOIN (VALUES ('t_child', 't_haspk'), ('t_gc', 't_child')) p2(c, p)
  ON p2.c = p1.p
LEFT JOIN (VALUES ('t_haspk', 'id')) o2(tbl, k) ON o2.tbl = p2.p
""",
        "mysql_schema_discovery": """
WITH raw(name) AS (VALUES ('tinyint(1)'), ('tinyint(3) unsigned'),
  ('smallint(5)'), ('smallint(5) unsigned'), ('int(11)'),
  ('int(10) unsigned'), ('mediumint(9)'), ('bigint(20)'),
  ('bigint(20) unsigned'), ('decimal(10,2)'), ('double'), ('float'),
  ('date'), ('datetime(6)'), ('timestamp'), ('varchar(255)'),
  ('char(4)'), ('text'), ('longtext'), ('enum(''a'',''b'')'),
  ('set(''x'',''y'')'), ('time'), ('year(4)'), ('varbinary(16)'),
  ('blob'), ('longblob'), ('binary(8)'), ('bit(1)'), ('geometry'),
  ('json')),
p AS (SELECT name,
        split_part(split_part(name, '(', 1), ' ', 1) AS base,
        contains(name, 'unsigned') AS uns
      FROM raw)
SELECT 'type' AS kind, name, CASE
    WHEN base = 'tinyint'
      THEN CASE WHEN uns THEN 'smallint' ELSE 'tinyint' END
    WHEN base = 'smallint'
      THEN CASE WHEN uns THEN 'int' ELSE 'smallint' END
    WHEN base IN ('int', 'mediumint')
      THEN CASE WHEN uns THEN 'bigint' ELSE 'int' END
    WHEN base = 'bigint'
      THEN CASE WHEN uns THEN 'decimal(20,0)' ELSE 'bigint' END
    WHEN base IN ('decimal', 'double', 'float') THEN 'double'
    WHEN base = 'date' THEN 'date'
    WHEN base IN ('datetime', 'timestamp') THEN 'timestamp'
    WHEN base IN ('varchar', 'char', 'text', 'tinytext', 'mediumtext',
                  'longtext', 'enum', 'set', 'time', 'year')
      THEN 'string'
    WHEN base = 'json' THEN 'string'
    ELSE 'binary'
  END AS out
FROM p
UNION ALL
SELECT 'sql', 'columns', $q$SELECT c.table_schema, c.table_name, c.column_name, c.ordinal_position, c.column_type FROM information_schema.columns c INNER JOIN information_schema.tables t ON c.table_schema = t.table_schema AND c.table_name = t.table_name AND t.table_type IN ('BASE TABLE') AND c.table_schema = 'shop' WHERE c.table_schema NOT IN ('sys', 'mysql', 'information_schema', 'performance_schema') ORDER BY c.table_schema, c.table_name, c.ordinal_position$q$
UNION ALL
SELECT 'sql', 'constraints', $q$SELECT DISTINCT k.table_schema, k.table_name, k.column_name, k.ordinal_position, k.constraint_name FROM information_schema.key_column_usage k JOIN information_schema.table_constraints tc ON tc.constraint_schema = k.constraint_schema AND tc.constraint_name = k.constraint_name AND tc.table_name = k.table_name WHERE tc.constraint_type IN ('PRIMARY KEY', 'UNIQUE') AND k.table_schema NOT IN ('sys', 'mysql', 'information_schema', 'performance_schema') AND k.table_schema = 'shop' ORDER BY k.table_schema, k.table_name, k.constraint_name = 'PRIMARY' DESC, k.constraint_name, k.ordinal_position$q$
UNION ALL
SELECT 'pk', tbl, string_agg(col, ',' ORDER BY pos)
FROM (
  SELECT tbl, col, pos, cname,
         first_value(cname) OVER (
           PARTITION BY tbl ORDER BY (cname = 'PRIMARY') DESC, seq
         ) AS chosen
  FROM (VALUES ('shop.o', 'id', 1, 'PRIMARY', 1),
               ('shop.o', 'uniq_col', 1, 'by_uniq', 2)
       ) v(tbl, col, pos, cname, seq)
)
WHERE cname = chosen GROUP BY tbl
""",
        "pg_copy_plan": """
WITH idx AS (SELECT unnest(range(4)) AS i)
SELECT 'pk_hash' AS kind, CAST(i AS INTEGER) AS shard,
       'COPY (SELECT * FROM "public"."customer" WHERE '
       || 'abs(hashtext(row("c_custkey")::text)) % 4 = '
       || CAST(i AS VARCHAR)
       || ') TO STDOUT (FORMAT csv, NULL ''\\N'')' AS copy_sql
FROM idx
UNION ALL
SELECT 'range', r.i,
       'COPY (SELECT "c_custkey", "c_name" FROM "public"."customer" WHERE '
       || 'c_custkey >= ' || CAST(r.lo AS VARCHAR)
       || ' AND c_custkey <= ' || CAST(r.hi AS VARCHAR)
       || ') TO STDOUT (FORMAT csv, NULL ''\\N'')'
FROM (SELECT 0 AS i, 1 AS lo, 250 AS hi
      UNION ALL SELECT 1, 251, 500) r
""",
        "pg_copy_decode": """
SELECT CAST(id AS BIGINT) AS id, name, CAST(bal AS DOUBLE) AS bal
FROM (VALUES
  (1, 'alice', 10.5),
  (2, 'qu"ote, comma' || chr(10) || 'newline', NULL),
  (3, '\\N', 0.25),
  (4, NULL, -1.5)
) AS t(id, name, bal)
""",
        "clickhouse_decode": """
WITH rows(id, v, bal, ok) AS (VALUES
  (1, 'a', 1.5, TRUE),
  (2, NULL, NULL, FALSE),
  (NULL, 'qu"ote', -2.25, NULL)
)
SELECT CAST(id AS BIGINT) AS id, v, CAST(bal AS DOUBLE) AS bal, ok
FROM rows CROSS JOIN (SELECT 1 AS dup UNION ALL SELECT 2) d
""",
        "gpfdist_frames": """
WITH inputs(name, fname, data, fin) AS (
  SELECT 'p1', 't/p1.txt',
         '1' || chr(9) || 'a' || chr(10) || '2' || chr(9) || 'b'
             || chr(10), FALSE
  UNION ALL
  SELECT 'p2_final', 't/p2.txt', '3' || chr(9) || 'c' || chr(10), TRUE
)
SELECT 'frame' AS kind, name,
       lower(hex('F')) || lpad(to_hex(length(fname)), 8, '0')
       || lower(hex(fname))
       || lower(hex('O')) || '00000008' || repeat('0', 16)
       || lower(hex('L')) || '00000008'
       || lpad(to_hex(length(data)
                      - length(replace(data, chr(10), ''))), 16, '0')
       || lower(hex('D')) || lpad(to_hex(length(data)), 8, '0')
       || lower(hex(data))
       || CASE WHEN fin THEN lower(hex('D')) || '00000000' ELSE '' END
       AS out
FROM inputs
UNION ALL
SELECT 'split', 'seg' || CAST(s AS VARCHAR),
       string_agg('part-' || lpad(CAST(i AS VARCHAR), 5, '0'),
                  ',' ORDER BY i)
FROM (SELECT unnest(range(2)) AS s) a,
     (SELECT unnest(range(5)) AS i) b
WHERE i % 2 = s GROUP BY s
""",
        "mysql_select_decode": """
SELECT CAST(id AS BIGINT) AS id, name, CAST(bal AS DOUBLE) AS bal,
       ok, CAST(ts AS TIMESTAMP) AS ts, CAST(d AS DATE) AS d
FROM (VALUES
  (1, 'alice', 10.5, TRUE,
   TIMESTAMP '2024-01-02 03:04:05.123456', DATE '2024-01-02'),
  (2, 'qu"ote, comma', NULL, FALSE, NULL, NULL),
  (3, NULL, 0.25, NULL,
   TIMESTAMP '2024-06-30 23:59:59', DATE '2024-06-30'),
  (4, '', -1.5, TRUE,
   TIMESTAMP '2024-01-01 00:00:00', DATE '2024-01-01')
) AS t(id, name, bal, ok, ts, d)
""",
        "mysql_select_plan": """
WITH idx AS (SELECT unnest(range(4)) AS i)
SELECT CAST(i AS INTEGER) AS shard,
       'SELECT `o_orderkey`, `o_totalprice` FROM `shop`.`orders` WHERE '
       || 'crc32(concat_ws('','', `o_orderkey`)) % 4 = '
       || CAST(i AS VARCHAR) AS select_sql
FROM idx
""",
        "shard_fallback_plans": """
WITH idx AS (SELECT unnest(range(8)) AS i)
SELECT 'greenplum' AS kind, CAST(i AS INTEGER) AS idx,
       'gp_segment_id = ' || CAST(i AS VARCHAR) AS predicate FROM idx
UNION ALL
SELECT 'oracle', CAST(i AS INTEGER),
       'ORA_HASH(ROWID, 7) = ' || CAST(i AS VARCHAR) FROM idx
""",
        "clickhouse_read_plan": """
SELECT 'http://ch-' || CAST(r_regionkey AS VARCHAR) || ':8123' AS url,
       'SELECT `o_orderkey`, `o_totalprice` FROM `db`.`orders` FINAL '
       || 'WHERE 1=1 AND (o_totalprice > 0) AND (cityHash64(`o_orderkey`) '
       || '% 4 == ' || CAST(p.k AS VARCHAR)
       || ') AND __data_transfer_delete_time == 0' AS query
FROM region,
     (SELECT 0 AS k UNION ALL SELECT 1 UNION ALL SELECT 2
      UNION ALL SELECT 3) p
""",
        "mongo_oplog_decode": """
WITH ins AS (
  SELECT n_nationkey AS k, 'insert' AS op,
         1000 + n_nationkey AS ct, CAST(1 AS BIGINT) AS ord,
         n_name AS full_name, CAST(NULL AS VARCHAR) AS upd_name,
         CAST(NULL AS BIGINT) AS upd_rank,
         CAST(NULL AS VARCHAR) AS removed
  FROM nation
), upd AS (
  SELECT n_nationkey AS k, 'update' AS op,
         2000 + n_nationkey AS ct, CAST(2 AS BIGINT) AS ord,
         CAST(NULL AS VARCHAR) AS full_name,
         'u' || n_name AS upd_name,
         CAST(n_nationkey AS BIGINT) AS upd_rank,
         'tmp' AS removed
  FROM nation WHERE n_nationkey % 2 = 0
), del AS (
  SELECT n_nationkey AS k, 'delete' AS op,
         3000 + n_nationkey AS ct, CAST(3 AS BIGINT) AS ord,
         CAST(NULL AS VARCHAR) AS full_name,
         CAST(NULL AS VARCHAR) AS upd_name,
         CAST(NULL AS BIGINT) AS upd_rank,
         CAST(NULL AS VARCHAR) AS removed
  FROM nation WHERE n_nationkey % 5 = 0
)
SELECT * FROM ins UNION ALL SELECT * FROM upd UNION ALL
SELECT * FROM del
""",
        "oplog_applyops_decode": """
WITH base AS (
  SELECT n_nationkey AS nk, n_name AS name FROM nation
), i0 AS (
  SELECT CAST(nk AS BIGINT) AS k, CAST(0 AS INTEGER) AS seq,
         'insert' AS op, 'customers' AS coll,
         CAST(600 + nk AS BIGINT) AS ct, CAST(2 AS BIGINT) AS ord,
         CAST(NULL AS VARCHAR) AS upd_name
  FROM base
), i1 AS (
  SELECT CAST(10000 + nk AS BIGINT), CAST(1 AS INTEGER),
         'insert', 'audit', CAST(600 + nk AS BIGINT),
         CAST(2 AS BIGINT), CAST(NULL AS VARCHAR)
  FROM base
), u AS (
  SELECT CAST(nk AS BIGINT), CAST(2 AS INTEGER),
         'update', 'customers', CAST(600 + nk AS BIGINT),
         CAST(2 AS BIGINT), 't' || name
  FROM base WHERE nk % 2 = 0
), d AS (
  SELECT CAST(nk AS BIGINT),
         CAST(CASE WHEN nk % 2 = 0 THEN 3 ELSE 2 END AS INTEGER),
         'delete', 'customers', CAST(600 + nk AS BIGINT),
         CAST(2 AS BIGINT), CAST(NULL AS VARCHAR)
  FROM base WHERE nk % 3 = 0
)
SELECT * FROM i0 UNION ALL SELECT * FROM i1
UNION ALL SELECT * FROM u UNION ALL SELECT * FROM d
""",
        "oplog_txn_commit": """
WITH base AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation
),
committed AS (
  SELECT k, 0 AS seq, k AS doc_id, 'insert' AS op,
         'customers' AS coll, k + 800 AS ct, 3 AS ord
  FROM base WHERE k % 3 <> 0
  UNION ALL
  SELECT k, 1, k + 10000, 'delete', 'audit', k + 800, 3
  FROM base WHERE k % 3 <> 0
),
chain AS (
  SELECT k, CASE WHEN k % 3 <> 0 THEN 2 ELSE 0 END AS seq,
         k + 500 AS doc_id, 'insert' AS op, 'customers' AS coll,
         k + 850 AS ct, 2 AS ord
  FROM base WHERE k % 2 = 0
  UNION ALL
  SELECT k, CASE WHEN k % 3 <> 0 THEN 3 ELSE 1 END,
         k + 600, 'insert', 'customers', k + 850, 2
  FROM base WHERE k % 2 = 0
)
SELECT k, CAST(seq AS INTEGER) AS seq, CAST(doc_id AS BIGINT) AS doc_id,
       op, coll, CAST(ct AS BIGINT) AS ct, CAST(ord AS BIGINT) AS ord
FROM (SELECT * FROM committed UNION ALL SELECT * FROM chain)
""",
        "mongo_shard_key_plan": """
SELECT CAST(n_nationkey AS BIGINT) AS k,
       CASE WHEN n_nationkey % 7 = 0 THEN 'delete'
            ELSE 'replace' END AS op,
       CASE WHEN n_nationkey % 7 = 0 THEN NULL
            WHEN n_nationkey % 3 <> 2
                THEN 'r' || CAST(n_nationkey % 5 AS VARCHAR)
            ELSE 'r' || CAST(
                (n_nationkey + n_nationkey % 2) % 5 AS VARCHAR)
       END AS flt_region,
       (n_nationkey % 7 <> 0 AND n_nationkey % 3 <> 2
        AND n_nationkey % 2 = 1) AS isolated,
       CASE WHEN n_nationkey % 7 = 0 THEN NULL
            ELSE 'r' || CAST(
                (n_nationkey + n_nationkey % 2) % 5 AS VARCHAR)
       END AS doc_region
FROM nation
""",
        "mongo_partial_unset": """
SELECT CAST(n_nationkey AS BIGINT) AS k,
       CASE WHEN n_nationkey % 5 = 0
                 AND NOT (n_nationkey % 2 = 0 AND n_nationkey % 3 <> 0)
            THEN 'replace' ELSE 'update' END AS op,
       n_name AS val_v,
       CASE WHEN n_nationkey % 3 = 0 THEN 'back'
            WHEN n_nationkey % 5 = 0 AND n_nationkey % 2 <> 0 THEN 'W'
            ELSE NULL END AS val_w,
       (n_nationkey % 2 = 0 AND n_nationkey % 3 <> 0) AS unset_w
FROM nation
""",
        "mongo_seedlist_plan": """
WITH base AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k,
         lower(replace(n_name, ' ', '-')) AS nm,
         n_nationkey AS nk
  FROM nation
)
SELECT k, 'uri' AS kind,
       nm || '-a:' || CAST(27000 + nk AS VARCHAR) || ';'
          || nm || '-b:27017|'
          || CASE nk % 5 WHEN 0 THEN 'primary'
                 WHEN 1 THEN 'primaryPreferred'
                 WHEN 2 THEN 'secondary'
                 WHEN 3 THEN 'secondaryPreferred'
                 ELSE 'nearest' END
          || '|rs' || CAST(nk AS VARCHAR) AS val
FROM base
UNION ALL
SELECT k, 'weighted',
       nm || '-heavy:27018;' || nm || '-zero:27017;'
          || nm || '-low:27019'
FROM base
UNION ALL
SELECT k, 'domain', 'in=True out=False' FROM base
""",
        "registry_drift_classify": """
SELECT n_nationkey AS k,
       CASE n_nationkey % 3 WHEN 0 THEN 'ok'
            WHEN 1 THEN 'drift' ELSE 'retype' END AS outcome,
       CASE n_nationkey % 3 WHEN 0 THEN ''
            WHEN 1 THEN 'registry-schema-drift id=201 indexes='
            ELSE 'registry-schema-retype id=202' END AS detail
FROM nation
""",
        "parser_unparsed_routing": """
SELECT CAST(r_regionkey AS BIGINT) AS rk,
       CASE WHEN r_regionkey % 3 = 0
            THEN CAST(7 AS INTEGER) END AS sid,
       CASE WHEN r_regionkey % 3 = 0
            THEN CAST(r_regionkey AS BIGINT) END AS k,
       CASE WHEN r_regionkey % 3 = 0 THEN r_name END AS name,
       r_regionkey % 3 <> 0 AS dead,
       r_regionkey % 3 <> 0 AS has_error
FROM region
""",
        "tls_trust_ladder": """
SELECT * FROM (VALUES
  ('ladder', 'system', 'hostname=True verify=True'),
  ('ladder', 'insecure', 'hostname=False verify=False'),
  ('kafka', 'options', 'tls=True insecure=True mech=SCRAM-SHA-512'),
  ('mongo', 'uri', 'tls=True ca=/ca.pem insecure=False auth=shop'),
  ('mongo', 'uri_insecure', 'tls=True ca=None insecure=True'),
  ('mongo', 'srv', 'port_loud'),
  ('kafka', 'ipv6_bootstrap', '::1:9092;2001:db8::2:9093;h1:9094')
) AS t(plane, name, val)
""",
        "kafka_codec_matrix": """
SELECT * FROM (VALUES
  ('snappy', 'roundtrip', 'nation-rows-ride-here:'),
  ('lz4', 'roundtrip', 'nation-rows-ride-here:'),
  ('gzip_rec', '3', 'k1=v1'),
  ('gzip_rec', '4', 'k2=vvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvv'),
  ('snappy_rec', '3', 'k1=v1'),
  ('snappy_rec', '4', 'k2=vvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvv'),
  ('lz4_rec', '3', 'k1=v1'),
  ('lz4_rec', '4', 'k2=vvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvv'),
  ('zstd_rec', '3', 'k1=v1'),
  ('zstd_rec', '4', 'k2=vvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvv')
) AS t(kind, name, val)
""",
        "mongo_bson_codec": """
SELECT n_nationkey AS k,
       n_name AS name,
       CAST(n_nationkey AS DOUBLE) * 1.5 AS bal,
       n_nationkey + 1099511627776 AS big,
       CAST(n_nationkey AS VARCHAR) || ',x' AS tags,
       n_nationkey % 2 = 0 AS even,
       n_regionkey AS region,
       TRUE AS nil_is_null
FROM nation
""",
        "kafka_sasl_plan": """
SELECT * FROM (VALUES
  ('frame', 'handshake',
   '0000001a0011000100000005000174000d534352414d2d5348412d323536'),
  ('frame', 'authenticate',
   '00000012002400000000000600017400000003746f6b'),
  ('frame', 'plain_token', '00750070'),
  ('scram_sha256', 'client_first', 'n,,n=svc,r=fixednonce'),
  ('scram_sha256', 'client_final',
   'c=biws,r=fixednonceSRV,p=byAWa5T6uOC/hbtCL85BZfDMgK/uKIt3zVqXjIJbVdg='),
  ('scram_sha256', 'server_sig',
   'il+4UoTbYXrmpjBaXF4jxhWvhx/YSNE/NLWdd0hmpbE='),
  ('scram_sha512', 'client_first', 'n,,n=svc,r=fixednonce'),
  ('scram_sha512', 'client_final',
   'c=biws,r=fixednonceSRV,p=C/FdsMGsyookoEf3PQTEgf5Eaggg7wnN22O8SJz7fKSDz9YxvksvpsRJJ3iZw69KgZkVLcgdoxP1XV/44eBRlQ=='),
  ('scram_sha512', 'server_sig',
   '2CL9EADuqLLlwis4yc4Sh2nczHhgCzfnulOa8kN09iI6jJcDCY+BwpDhfP9wwdQorzV56/VsTUnGPHpubh7apQ=='),
  ('gzip', 'batch_frame',
   '000000000000000500000059ffffffff0233116f440001000000010000018bcfe568000000018bcfe56800ffffffffffffffffffffffffffff000000021f8b08000000000002031361606060c936642933641060606062642933620000f916f0d314000000'),
  ('gzip_rec', '5', 'k1=v1@1700000000000'),
  ('gzip_rec', '6', '=v2@1700000000000'),
  ('zstd', 'handbuilt_frame', '28b52ffd200710000061622b000063'),
  ('zstd', 'handbuilt_decode', 'abccccc'),
  ('zstd_rec', '9', 'zk=' || REPEAT('zv', 30) || '@1700000000000'),
  ('idem', 'init_pid_frame',
   '000000110016000000000009000174ffff0000ea60'),
  ('idem', 'stamped_batch',
   '00000000000000040000003cffffffff024b67363c0000000000000000018bcfe568000000018bcfe56800000000000000030900030000000c000000011400000004696b04697600'),
  ('idem', 'stamped_decode', 'pid=777 epoch=3 seq=12 n=1')
) AS t(kind, name, val)
""",
        "schema_registry_avro": """
SELECT CAST(100 + n_nationkey % 3 AS INTEGER) AS sid,
       n_nationkey AS k,
       n_name AS n,
       CASE WHEN n_nationkey % 2 = 0 THEN 'even' END AS tag
FROM nation
""",
        "cloudevents_proto": """
SELECT 'ev-' || CAST(n_nationkey AS VARCHAR) AS id,
       's' || CAST(n_nationkey % 3 AS VARCHAR) AS subject,
       CAST(40 + n_nationkey % 2 AS INTEGER) AS sid,
       1700000000 + n_nationkey AS at,
       n_nationkey AS k,
       n_name AS n
FROM nation
""",
        "schema_registry_protojson": """
SELECT 'proto' AS kind,
       CAST(100 + n_nationkey % 3 AS INTEGER) AS sid,
       n_nationkey AS k,
       n_name AS n,
       CASE WHEN n_nationkey % 2 = 0 THEN 'EVEN' ELSE 'ODD' END
         || ':R' || CAST(n_regionkey AS VARCHAR) AS extra
FROM nation
UNION ALL
SELECT 'json',
       CAST(200 + r_regionkey % 2 AS INTEGER),
       r_regionkey,
       r_name,
       CASE WHEN r_regionkey % 2 = 0 THEN 'even' END
FROM region
""",
        "clickhouse_topology": """
WITH q(name) AS (SELECT 'prod' UNION ALL SELECT 'o''brien'),
replicas AS (
  SELECT n_nationkey % 4 + 1 AS shard_num,
         n_nationkey // 4 + 1 AS replica_num,
         '10.0.' || CAST(n_nationkey AS VARCHAR) || '.1' AS host
  FROM nation
),
best AS (
  SELECT shard_num, host,
         ROW_NUMBER() OVER (PARTITION BY shard_num
                            ORDER BY replica_num) AS rn
  FROM replicas
)
SELECT 'sql' AS kind, name,
       'SELECT shard_num, replica_num, host_address, host_name'
       || ' FROM system.clusters WHERE cluster = '''
       || REPLACE(name, '''', '''''')
       || ''' ORDER BY shard_num, replica_num FORMAT JSONEachRow' AS val
FROM q
UNION ALL
SELECT 'shard', 'shard' || CAST(shard_num AS VARCHAR),
       'http://' || host || ':8123'
FROM best WHERE rn = 1
""",
        "partition_expansion": """
            SELECT 'nation_' || CAST(n_nationkey AS VARCHAR) AS table_name
            FROM nation WHERE n_nationkey % 2 = 1
            UNION ALL
            SELECT 'nation_' || CAST(n_nationkey AS VARCHAR) || '_a'
            FROM nation WHERE n_nationkey % 2 = 0
            UNION ALL
            SELECT 'nation_' || CAST(n_nationkey AS VARCHAR) || '_b'
            FROM nation WHERE n_nationkey % 2 = 0
        """,
        "tpch_q1": TPCH_Q1.replace("FROM table", "FROM lineitem"),
        "tpch_q2ish": TPCH_Q2ISH,
        "tpch_q8": TPCH_Q8,
        "tpch_q9ish": TPCH_Q9ISH,
        "tpch_q11ish": TPCH_Q11ISH,
        "tpch_q13ish": TPCH_Q13ISH,
        "tpch_q17ish": TPCH_Q17ISH,
        "tpch_q20ish": TPCH_Q20ISH,
        "tpch_q21ish": TPCH_Q21ISH,
        "tpch_q3": """
            SELECT o_orderkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   o_orderdate
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "tpch_q4ish": TPCH_Q4ISH,
        "tpch_q14ish": TPCH_Q14ISH,
        "tpch_q16ish": TPCH_Q16ISH,
        "tpch_q7ish": TPCH_Q7ISH,
        "tpch_q10ish": TPCH_Q10ISH,
        "tpch_q18ish": TPCH_Q18ISH,
        "tpch_q22ish": TPCH_Q22ISH,
        "tpch_q12ish": TPCH_Q12ISH,
        "tpch_q15ish": TPCH_Q15ISH,
        "tpch_q19ish": TPCH_Q19ISH,
        "tpch_q5ish": """
            SELECT n_name,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation   ON c_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "tpch_q6": """
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "window_topk": """
            SELECT o_custkey, o_orderkey, o_totalprice
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
            WHERE rn <= 3
        """,
        "events_hourly_rollup": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "events_sliding_rollup": """
            WITH e AS (
              SELECT ts, event_type, value, epoch(ts) AS sec FROM events
            ),
            w AS (
              SELECT event_type, value, (k.k * 1800)::BIGINT AS start_sec
              FROM e, unnest(range(floor(sec/1800)::BIGINT - 1,
                                   floor(sec/1800)::BIGINT + 1)) AS k(k)
              WHERE sec >= k.k * 1800 AND sec < k.k * 1800 + 3600
            )
            SELECT make_timestamp(start_sec * 1000000) AS window_start,
                   event_type, count(*)::BIGINT AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM w GROUP BY 1, 2
        """,
        "salted_join": """
            SELECT s_nationkey, count(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey
        """,
        "two_phase_agg": """
            SELECT l_returnflag,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "rollup_agg": ROLLUP_SQL,
        "set_ops": SET_OPS_SQL,
        "bm25_rank": build("bm25_rank", **BM25_CFG).oracle_sql("documents"),
        "dedup_blocks": build("dedup_blocks", **BLOCKS_CFG).oracle_sql("documents"),
        "mix_sources": build("mix_sources", **MIX_CFG).oracle_sql("documents"),
        "lm_familiarity": build(
            "lm_familiarity", text_col="text", id_col="doc_id"
        ).oracle_sql("documents"),
        "image_resize": """
            WITH m AS (
              SELECT doc_id,
                     octet_length(encode(text))::BIGINT AS len,
                     ((list_sum(list_transform(split(text, ''), c -> ord(c)))
                       % 65521))::BIGINT AS cs
              FROM documents WHERE doc_id % 2 = 0
            ),
            dims AS (
              SELECT doc_id, len,
                     (64 + cs % 512)::BIGINT AS w,
                     (64 + (cs // 7) % 512)::BIGINT AS h
              FROM m
            ),
            t AS (
              SELECT doc_id, len, w AS in_w, h AS in_h,
                     CASE WHEN greatest(w, h) <= 200 THEN w
                          WHEN w >= h THEN 200
                          ELSE greatest(1, (w * 200) // h) END AS out_w,
                     CASE WHEN greatest(w, h) <= 200 THEN h
                          WHEN w >= h THEN greatest(1, (h * 200) // w)
                          ELSE 200 END AS out_h
              FROM dims
            ),
            s AS (
              SELECT t.*, greatest(1, least(len, out_w * out_h)) AS n_out
              FROM t
            )
            SELECT doc_id, in_w, in_h, out_w, out_h,
                   least(n_out,
                         (len + greatest(1, len // n_out) - 1)
                           // greatest(1, len // n_out))::BIGINT AS out_bytes
            FROM s
        """,
        "audio_energy": """
            WITH b AS (
              SELECT doc_id,
                     list_transform(range(1, length(text) + 1),
                                    i -> ord(substr(text, i, 1))) AS s
              FROM documents WHERE doc_id % 2 = 1 AND length(text) > 0
            )
            SELECT doc_id, f.i AS frame_idx,
                   list_sum(list_transform(
                     list_slice(s, f.i * 32 + 1, f.i * 32 + 32),
                     x -> x * x))::BIGINT AS energy,
                   list_max(
                     list_slice(s, f.i * 32 + 1, f.i * 32 + 32))::BIGINT AS peak
            FROM b, unnest(range(0, greatest(1, len(s) // 32))) AS f(i)
        """,
        "scalar_funcs": SCALAR_FUNCS_SQL.replace("AS STRING", "AS VARCHAR"),
        "interval_join": """
            SELECT e.event_id AS err_id, e.user_id, e.ts,
                   b.event_id AS buy_id, b.ts AS bts
            FROM events e JOIN events b
              ON b.user_id = e.user_id
             AND b.ts >= e.ts - INTERVAL 30 MINUTE
             AND b.ts <= e.ts
             AND b.event_type = 'purchase'
            WHERE e.event_type = 'error'
        """,
        "percentile_stats": """
            SELECT event_type, count(DISTINCT user_id) AS users,
                   median(value) AS med, quantile_cont(value, 0.9) AS p90
            FROM events GROUP BY event_type
        """,
        "asof_join": """
            WITH r AS (
              SELECT o_custkey, o_orderdate, max(o_orderkey) AS matched_order
              FROM orders GROUP BY 1, 2
            )
            SELECT e.event_id, e.user_id, e.ts,
                   r.o_orderdate AS matched_date, r.matched_order
            FROM events e ASOF LEFT JOIN r
              ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        """,
        "range_join": """
            SELECT a.event_id AS anchor_id, count(*) AS n_follow
            FROM events a JOIN events b
              ON b.user_id = a.user_id
             AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
             AND b.event_id != a.event_id
            WHERE a.event_type = 'purchase'
            GROUP BY 1
        """,
        "filter_rows": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem
            WHERE (l_returnflag = 'R' AND l_quantity > 30)
               OR (l_linestatus = 'O' AND l_discount >= 0.09)
        """,
        "filter_columns": "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders",
        "filter_rows_by_ids": "SELECT * FROM customer WHERE c_custkey IN (1, 7, 42, 99, 120)",
        "mask_field": """
            SELECT c_custkey, sha256(concat('pepper', c_name)) AS c_name FROM customer
        """,
        "convert_to_string": """
            SELECT CAST(event_id AS VARCHAR) AS event_id,
                   CAST(ts AS VARCHAR) AS ts,
                   CAST(value AS VARCHAR) AS value,
                   event_type
            FROM events
        """,
        "convert_to_datetime": """
            SELECT to_timestamp(event_id)::TIMESTAMP AS event_ts, user_id FROM events
        """,
        "number_to_float": """
            SELECT CAST(c_custkey AS DOUBLE) AS c_custkey,
                   CAST(c_nationkey AS DOUBLE) AS c_nationkey,
                   c_name
            FROM customer
        """,
        "regex_replace": """
            SELECT doc_id, regexp_replace(text, '[aeiou]', '*', 'g') AS text FROM documents
        """,
        "table_splitter": """
            SELECT event_id, concat_ws('/', 'events', event_type) AS route FROM events
        """,
        "raw_doc_grouper": """
            SELECT doc_id,
                   to_json(struct_pack(doc_id := doc_id, text := text, lang := lang,
                                       source := source, n_chars := n_chars)) AS doc
            FROM documents
        """,
        "transform_chain": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   sha256(concat('s', l_returnflag)) AS l_returnflag
            FROM lineitem WHERE l_quantity >= 45
        """,
        "cdc_collapse": _changelog_cte() + "SELECT user_id, value, _op, _lsn FROM collapsed",
        "snapshot_handoff": _changelog_cte()
        + """
            SELECT user_id, value FROM collapsed WHERE _op <> 'd'
        """,
        "embed_documents": "\nUNION ALL\n".join(
            f"SELECT doc_id, {d} AS dim, "
            f"{sql_hash_embedding_component('text', d)} AS comp "
            "FROM documents"
            for d in range(EMBED_DIMS)
        ),
        "dedup_incremental": f"""
WITH {_sql_minhash_cte()}
SELECT id_a, id_b,
       (id_a % {INCR_NEW_MOD} = 0) <> (id_b % {INCR_NEW_MOD} = 0) AS is_cross
FROM pairs
WHERE id_a % {INCR_NEW_MOD} = 0 OR id_b % {INCR_NEW_MOD} = 0
""",
        "dedup_stream_ingest": f"""
WITH {_sql_minhash_cte()}
SELECT id_a, id_b FROM pairs
""",
        "dedup_incremental_store": f"""
WITH {_sql_minhash_cte()}
SELECT id_a, id_b,
       (CASE WHEN id_a % {INCR_NEW_MOD} = 3 THEN 'A'
             WHEN id_a % {INCR_NEW_MOD} = 0 THEN 'B' ELSE 'O' END)
    <> (CASE WHEN id_b % {INCR_NEW_MOD} = 3 THEN 'A'
             WHEN id_b % {INCR_NEW_MOD} = 0 THEN 'B' ELSE 'O' END) AS is_cross
FROM pairs
WHERE id_a % {INCR_NEW_MOD} IN (0, 3) OR id_b % {INCR_NEW_MOD} IN (0, 3)
""",
        "split_leakage_safe": f"""
WITH RECURSIVE {_sql_minhash_cte()},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
lbl AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
assign AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN {pf.sql_pt_ihash("cluster_id")} % 100 < 5 THEN 'val'
            WHEN {pf.sql_pt_ihash("cluster_id")} % 100 < 10 THEN 'test'
            ELSE 'train' END AS split
FROM assign
""",
        "replicate_multi_table": f"""
WITH c_changelog AS (
  SELECT user_id AS k, 'u' || CAST(user_id AS VARCHAR) AS name_v,
         value AS bal_v, event_id AS lsn, {OP_CASE_SQL} AS op
  FROM events WHERE event_id % 2 = 0
),
c_net AS (
  SELECT k, arg_max(op, lsn) AS last_op, arg_max(name_v, lsn) AS last_name,
         arg_max(bal_v, lsn) AS last_bal
  FROM c_changelog GROUP BY k
),
n_changelog AS (
  SELECT user_id % 25 AS k,
         'x' || CAST(user_id % 25 AS VARCHAR) AS name_v,
         event_id AS lsn, {OP_CASE_SQL} AS op
  FROM events WHERE event_id % 2 = 1
),
n_net AS (
  SELECT k, arg_max(op, lsn) AS last_op, arg_max(name_v, lsn) AS last_name
  FROM n_changelog GROUP BY k
)
SELECT 'customer' AS tbl, u.k, u.last_name AS sval, u.last_bal AS dval
FROM c_net u WHERE u.last_op <> 'd'
UNION ALL
SELECT 'customer', t.c_custkey, t.c_name, t.c_acctbal
FROM customer t ANTI JOIN c_net n ON t.c_custkey = n.k
UNION ALL
SELECT 'nation' AS tbl, u.k, u.last_name AS sval, CAST(NULL AS DOUBLE) AS dval
FROM n_net u WHERE u.last_op <> 'd'
UNION ALL
SELECT 'nation', t.n_nationkey, t.n_name, CAST(NULL AS DOUBLE)
FROM nation t ANTI JOIN n_net n ON t.n_nationkey = n.k
""",
        "dblog_snapshot": _changelog_cte(key="c_custkey", value="c_acctbal")
        + """
        SELECT c.c_custkey, CAST(NULL AS VARCHAR) AS c_name,
               c.c_acctbal AS c_acctbal
        FROM collapsed c WHERE c._op <> 'd'
        UNION ALL
        SELECT t.c_custkey, t.c_name, t.c_acctbal
        FROM customer t ANTI JOIN collapsed n USING (c_custkey)
        """,
        "replicate_controls": """
WITH m AS (SELECT max(event_id) AS mx FROM events),
w1 AS (
  SELECT user_id AS k, 'u' || CAST(user_id AS VARCHAR) AS name_v,
         value AS bal_v, CAST(NULL AS VARCHAR) AS flag_v,
         2*event_id AS lsn,
         CASE WHEN event_type = 'error' THEN 'd' ELSE 'i' END AS op
  FROM events
),
w2 AS (
  SELECT user_id AS k, 'u' || CAST(user_id AS VARCHAR) AS name_v,
         value + 1 AS bal_v, 'f' || CAST(user_id AS VARCHAR) AS flag_v,
         4*(SELECT mx FROM m) + 2 + 2*event_id AS lsn, 'i' AS op
  FROM events WHERE event_id % 3 = 0
),
alive AS (
  SELECT * FROM w1 WHERE lsn > (SELECT mx + 1 - mx % 2 FROM m)
  UNION ALL SELECT * FROM w2
),
net AS (
  SELECT k, arg_max(op, lsn) AS last_op, arg_max(name_v, lsn) AS last_name,
         arg_max(bal_v, lsn) AS last_bal, arg_max(flag_v, lsn) AS last_flag
  FROM alive GROUP BY k
)
SELECT k AS c_custkey, last_name AS c_name, last_bal AS c_acctbal,
       last_flag AS c_flag
FROM net WHERE last_op <> 'd'
""",
        "replicate_yaml": f"""
WITH changelog AS (
  SELECT user_id AS c_custkey,
         'u' || CAST(user_id AS VARCHAR) AS name_v,
         value AS bal_v,
         event_id AS lsn,
         {OP_CASE_SQL} AS op
  FROM events
),
net AS (
  SELECT c_custkey,
         arg_max(op, lsn)     AS last_op,
         arg_max(name_v, lsn) AS last_name,
         arg_max(bal_v, lsn)  AS last_bal
  FROM changelog GROUP BY c_custkey
),
ups AS (SELECT * FROM net WHERE last_op <> 'd')
SELECT u.c_custkey, u.last_name AS c_name, u.last_bal AS c_acctbal FROM ups u
UNION ALL
SELECT t.c_custkey, t.c_name, t.c_acctbal
FROM customer t ANTI JOIN net n USING (c_custkey)
""",
        "cdc_merge": _changelog_cte(key="c_custkey", value="val")
        + """
        , ups AS (SELECT * FROM collapsed WHERE _op <> 'd')
        SELECT t.c_custkey, t.c_name, coalesce(u.val, t.c_acctbal) AS c_acctbal
        FROM customer t JOIN ups u USING (c_custkey)
        UNION ALL
        SELECT u.c_custkey, NULL AS c_name, u.val AS c_acctbal
        FROM ups u ANTI JOIN customer t USING (c_custkey)
        UNION ALL
        SELECT t.c_custkey, t.c_name, t.c_acctbal
        FROM customer t ANTI JOIN collapsed n USING (c_custkey)
        """,
        "cdc_merge_bucketed": _changelog_cte(key="c_custkey", value="val")
        + """
        , ups AS (SELECT * FROM collapsed WHERE _op <> 'd')
        SELECT t.c_custkey, t.c_name, coalesce(u.val, t.c_acctbal) AS c_acctbal
        FROM customer t JOIN ups u USING (c_custkey)
        UNION ALL
        SELECT u.c_custkey, NULL AS c_name, u.val AS c_acctbal
        FROM ups u ANTI JOIN customer t USING (c_custkey)
        UNION ALL
        SELECT t.c_custkey, t.c_name, t.c_acctbal
        FROM customer t ANTI JOIN collapsed n USING (c_custkey)
        """,
        # TWO-STAGE sequential-merge oracle: the query applies the
        # changelog as two micro-batches with a rebucket between them,
        # and sequential apply is NOT the one-shot collapsed merge — a
        # key net-deleted in the first half physically disappears, so
        # a second-half re-insert does not resurrect its snapshot-only
        # columns (c_name). The rebucket itself must be
        # result-invisible: this oracle is exactly the two-batch apply
        # with no rebucket at all.
        "cdc_rebucket": """
WITH changelog AS (
  SELECT user_id AS c_custkey, value AS val, event_id AS lsn,
         """ + OP_CASE_SQL + """ AS op
  FROM events
),
cut AS (SELECT max(lsn) // 2 AS c FROM changelog),
h1 AS (SELECT * FROM changelog WHERE lsn <= (SELECT c FROM cut)),
h2 AS (SELECT * FROM changelog WHERE lsn >  (SELECT c FROM cut)),
net1 AS (
  SELECT c_custkey, arg_max(op, lsn) AS last_op,
         arg_max(val, lsn) AS last_val
  FROM h1 GROUP BY c_custkey
),
ups1 AS (SELECT * FROM net1 WHERE last_op <> 'd'),
state1 AS (
  SELECT t.c_custkey, t.c_name, coalesce(u.last_val, t.c_acctbal) AS c_acctbal
  FROM customer t JOIN ups1 u USING (c_custkey)
  UNION ALL
  SELECT u.c_custkey, NULL AS c_name, u.last_val AS c_acctbal
  FROM ups1 u ANTI JOIN customer t USING (c_custkey)
  UNION ALL
  SELECT t.c_custkey, t.c_name, t.c_acctbal
  FROM customer t ANTI JOIN net1 n USING (c_custkey)
),
net2 AS (
  SELECT c_custkey, arg_max(op, lsn) AS last_op,
         arg_max(val, lsn) AS last_val
  FROM h2 GROUP BY c_custkey
),
ups2 AS (SELECT * FROM net2 WHERE last_op <> 'd')
SELECT s.c_custkey, s.c_name, coalesce(u.last_val, s.c_acctbal) AS c_acctbal
FROM state1 s JOIN ups2 u USING (c_custkey)
UNION ALL
SELECT u.c_custkey, NULL AS c_name, u.last_val AS c_acctbal
FROM ups2 u ANTI JOIN state1 s USING (c_custkey)
UNION ALL
SELECT s.c_custkey, s.c_name, s.c_acctbal
FROM state1 s ANTI JOIN net2 n USING (c_custkey)
        """,
        # identical eager-merge oracle: the delta path must be
        # result-indistinguishable from the bucket-rewrite path
        "cdc_merge_delta": _changelog_cte(key="c_custkey", value="val")
        + """
        , ups AS (SELECT * FROM collapsed WHERE _op <> 'd')
        SELECT t.c_custkey, t.c_name, coalesce(u.val, t.c_acctbal) AS c_acctbal
        FROM customer t JOIN ups u USING (c_custkey)
        UNION ALL
        SELECT u.c_custkey, NULL AS c_name, u.val AS c_acctbal
        FROM ups u ANTI JOIN customer t USING (c_custkey)
        UNION ALL
        SELECT t.c_custkey, t.c_name, t.c_acctbal
        FROM customer t ANTI JOIN collapsed n USING (c_custkey)
        """,
        "skip_events": f"""
            SELECT user_id, value, {OP_CASE_SQL} AS _op, event_id AS _lsn
            FROM events
            WHERE {OP_CASE_SQL} <> 'd'
        """,
        "dedup_exact": """
            SELECT d.doc_id, d.text, d.lang
            FROM documents d
            JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) k
              ON d.doc_id = k.doc_id
        """,
        "dedup_minhash_lsh": _sql_minhash_pairs(),
        "dedup_simhash": _sql_simhash(),
        "dedup_ngram_jaccard": _sql_jaccard(),
        "dedup_embedding_cosine": _sql_cosine_pairs(),
        "ann_brute_force": _sql_ann(bucketed=False),
        "ann_sq8": _sql_ann_sq8(),
        "ann_lsh_bucketed": _sql_ann(bucketed=True),
        "ann_ivf": _sql_ann_ivf(),
        "embed_ann_pipeline": _sql_ann_ivf(
            src="emb",
            prefix_cte=(
                "emb AS (SELECT doc_id AS vec_id, ["
                + ", ".join(
                    sql_hash_embedding_component("text", d)
                    for d in range(EMBED_DIMS)
                )
                + "] AS embedding FROM documents),\n"
            ),
        ),
        "ann_lsh_multiprobe": _sql_ann_multiprobe(),
        "dedup_cluster": _sql_dedup_cluster(),
        "dedup_keep_best": _sql_dedup_keep_best(),
        "decontaminate": _sql_decontaminate(),
        "quota_cap": f"""
            SELECT doc_id, source, pick_rank FROM (
              SELECT doc_id, source, row_number() OVER (
                PARTITION BY source
                ORDER BY {pf.sql_pt_ihash("doc_id", 7)} ASC, doc_id ASC
              ) AS pick_rank
              FROM documents
            ) WHERE pick_rank <= 10
        """,
        "global_shuffle": f"""
            SELECT doc_id,
                   ({pf.sql_pt_ihash("doc_id", 42)}) % 8 AS shard,
                   row_number() OVER (
                     PARTITION BY ({pf.sql_pt_ihash("doc_id", 42)}) % 8
                     ORDER BY {pf.sql_pt_ihash("doc_id", 42)} ASC, doc_id ASC
                   ) AS pos
            FROM documents
        """,
        "pack_sequences": _sql_pack_sequences(),
        "corpus_pipeline": _sql_corpus_pipeline(),
        "lang_id": _sql_lang_id(),
        "quality_score": _sql_quality(),
        "chunk_documents": build(
            "chunk_documents", text_col="text", id_col="doc_id",
            chunk_tokens=64, overlap=16,
        ).oracle_sql("documents"),
        "repetition_score": build(
            "repetition_score", text_col="text", id_col="doc_id"
        ).oracle_sql("documents"),
        "token_count": f"""
            SELECT doc_id,
                   len({_W})::BIGINT AS ws_tokens,
                   len(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))::BIGINT AS re_tokens
            FROM documents
        """,
        "fingerprint": _sql_fingerprint(),
        "media_decode": _sql_media_decode(),
        "frame_sample": _sql_frame_sample(),
        "rename_tables": "SELECT n_nationkey, n_name FROM nation",
        "mongo_pk_extender": """
            SELECT c_custkey AS k1, c_nationkey AS k2, c_name FROM customer
        """,
        "jsonparser": "SELECT o_orderkey, o_orderstatus FROM orders",
        "lambda": """
            SELECT s_suppkey,
                   floor(s_acctbal::DOUBLE / 100.0)::BIGINT AS acct_bucket
            FROM supplier
        """,
        "yt_dict": "SELECT doc_id, lang AS lang_v, source AS source_v FROM documents",
        "parser_json": """
            SELECT event_id, user_id, event_type, event_id AS _offset FROM events
        """,
        "parser_tskv": "SELECT n_nationkey::INT AS n_nationkey, n_name FROM nation",
        "parser_logfeller": """
            SELECT s_suppkey, s_name, 0::BIGINT AS idx FROM supplier
            UNION ALL
            SELECT s_suppkey, s_name || '-2', 1::BIGINT FROM supplier
            WHERE s_suppkey % 10 != 0
        """,
        "debezium_roundtrip": f"""
            SELECT user_id, value, {OP_CASE_SQL} AS _op, event_id AS _lsn
            FROM events
        """,
        "serializer_json": """
            SELECT to_json(struct_pack(r_regionkey := r_regionkey)) AS key,
                   to_json(struct_pack(r_regionkey := r_regionkey,
                                       r_name := r_name)) AS value
            FROM region
        """,
        "serializer_confluent": """
            SELECT 731 AS _schema_id,
                   to_json(struct_pack(n_nationkey := n_nationkey,
                                       n_name := n_name)) AS body
            FROM nation
        """,
        "serializer_csv": """
            SELECT concat_ws(',', n_nationkey, n_name, n_regionkey) AS value
            FROM nation
        """,
        "incremental_read": f"""
            SELECT event_id, user_id, event_type FROM events
            WHERE event_id > {INCR_CURSOR}
        """,
        "parser_blank": """
            SELECT '0' AS partition, n_nationkey AS offset,
                   n_nationkey AS seq_no, '' AS source_id,
                   to_json(struct_pack(n_nationkey := n_nationkey,
                                       n_name := n_name)) AS lb_raw_message
            FROM nation
        """,
        "parser_raw_to_table": """
            SELECT r_name AS raw, r_regionkey AS _offset FROM region
        """,
        "parser_cloudevents": """
            SELECT o_orderkey::VARCHAR AS id, '/orders' AS source,
                   'order.created' AS type, o_orderpriority AS subject,
                   o_orderdate::TIMESTAMP AS time, o_orderstatus AS payload
            FROM orders
        """,
        "parser_cloudlogging": """
            SELECT ts AS timestamp, event_id::VARCHAR AS uid,
                   event_type AS level, props AS message,
                   'default' AS streamName
            FROM events
        """,
        "parser_audittrails": """
            SELECT o_orderkey::VARCHAR AS event_id, 'orders' AS event_source,
                   o_orderstatus AS event_type, o_orderdate::TIMESTAMP AS event_time,
                   'DONE' AS event_status, o_orderpriority AS priority
            FROM orders
        """,
        "parser_confluent_sr": "SELECT s_suppkey, s_name FROM supplier",
        "replace_primary_key": "SELECT c_custkey, c_name FROM customer",
        "sharder": """
            SELECT o_custkey, 1::BIGINT AS shards_per_key,
                   true AS shard_in_range
            FROM (SELECT DISTINCT o_custkey FROM orders)
        """,
        "raw_cdc_doc_grouper": f"""
            SELECT user_id, ({OP_CASE_SQL}) = 'd' AS deleted_flg,
                   to_json(struct_pack(user_id := user_id, value := value)) AS doc,
                   event_id AS _lsn, 0 AS _counter
            FROM events
        """,
        "problem_item_detector": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_quantity <= 49
        """,
        "middleware_chain": "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        "clickhouse_insert_plan": _changelog_cte()
        + """
            SELECT user_id, value,
                   _lsn::BIGINT AS commit_time,
                   (CASE WHEN _op = 'd' THEN _lsn ELSE 0 END)::BIGINT AS delete_time
            FROM collapsed
        """,
        "mysql_cdc_envelope": f"""
            WITH changelog AS (
              SELECT user_id, value,
                     ((1 + event_id // 1000000) * 1000000000000
                      + (event_id % 1000000))::BIGINT AS lsn,
                     {OP_CASE_SQL} AS op
              FROM events
            ),
            net AS (
              SELECT user_id,
                     arg_max(op, lsn)    AS last_op,
                     arg_min(op, lsn)    AS first_op,
                     max(lsn)            AS max_lsn,
                     arg_max(value, lsn) AS last_value
              FROM changelog GROUP BY user_id
            )
            SELECT user_id,
                   CASE WHEN last_op = 'd' THEN NULL ELSE last_value END AS value,
                   CASE WHEN last_op = 'd' THEN 'd'
                        WHEN first_op = 'i' THEN 'i' ELSE 'u' END AS _op,
                   max_lsn AS _lsn
            FROM net
        """,
        "mongo_change_stream": _changelog_cte(key="_id")
        + "SELECT _id, value, _op, _lsn FROM collapsed",
        "sessionize": """
            WITH marked AS (
              SELECT user_id AS key, ts, value,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 600
                          THEN 1 ELSE 0 END AS boundary
              FROM events
            ),
            sess AS (
              SELECT *, SUM(boundary) OVER (
                       PARTITION BY key ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM marked
            )
            SELECT key, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM sess GROUP BY key, sid
        """,
        "pii_scrub": f"""
            WITH pii AS (
              SELECT doc_id,
                     text || ' contact u' || doc_id || '@example.com at 10.0.'
                          || (doc_id % 256) || '.7 or +1 555-000-'
                          || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text, '{pf_email}'))::BIGINT AS n_email,
                   len(regexp_extract_all(text, '{pf_ipv4}'))::BIGINT AS n_ipv4,
                   len(regexp_extract_all(text, '{pf_phone}'))::BIGINT AS n_phone,
                   {_SQL_PII_SCRUB} AS text
            FROM pii
        """,
        "quality_gopher": (
            "SELECT doc_id, dup_line_bp, dup_word_bp, bullet_line_bp, "
            "ellipsis_line_bp, max_word_len, mean_word_len_x100 FROM ("
            + sql_quality_gopher("text").replace(
                "__SRC__", "(SELECT doc_id, text FROM documents)"
            )
            + ")"
        ),
        "sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE {sql_sample_bucket("doc_id")}
                  < CASE WHEN lang = 'en' THEN 2500 ELSE 10000 END
        """,
        "ydb_changefeed": """
            WITH changelog AS (
              SELECT user_id, value, event_id AS lsn,
                     CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
              FROM events
            ),
            net AS (
              SELECT user_id,
                     arg_max(op, lsn)    AS last_op,
                     max(lsn)            AS max_lsn,
                     arg_max(value, lsn) AS last_value
              FROM changelog GROUP BY user_id
            )
            SELECT user_id,
                   CASE WHEN last_op = 'd' THEN NULL ELSE last_value END AS value,
                   CASE WHEN last_op = 'd' THEN 'd' ELSE 'u' END AS _op,
                   max_lsn AS _lsn
            FROM net
        """,
        "airbyte_records": """
            SELECT row_number() OVER (ORDER BY event_id) - 1 AS __dt_record_index,
                   event_id AS _airbyte_emitted_at,
                   user_id, value, event_type
            FROM events
        """,
        "ydb_scan": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
        """,
        "dbt_models": """
            SELECT c_custkey, c_name, revenue, n_orders FROM (
              SELECT c.c_custkey, c.c_name,
                     CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue,
                     COUNT(*) AS n_orders
              FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
              WHERE o.o_orderstatus = 'F'
              GROUP BY c.c_custkey, c.c_name
            ) WHERE revenue > 300000
        """,
        "delta_scan": """
            SELECT n_nationkey, n_name, n_regionkey FROM nation
            WHERE n_nationkey < 13 OR n_nationkey >= 20
        """,
        "parser_protobuf": """
            SELECT s_suppkey, s_name, s_acctbal FROM supplier
        """,
        "typesystem_edges": """
            SELECT CAST((o_orderkey + 9223372036854775808)::DECIMAL(20,0) AS VARCHAR) AS u64,
                   o_orderstatus AS status,
                   o_orderkey::BIGINT AS back_to_int
            FROM orders
        """,
        "filter_access_log": """
            SELECT '10.0.0.' || (s_suppkey % 256) AS ip,
                   'u' || s_suppkey AS user,
                   'GET' AS method,
                   '/api/v1/item/' || s_suppkey AS path,
                   200::INT AS status,
                   (s_suppkey * 10)::BIGINT AS bytes
            FROM supplier
            WHERE s_suppkey % 5 <> 0 AND s_suppkey % 3 = 0
        """,
        "transfer_yaml": """
            SELECT c_custkey, c_name, c_nationkey, c_acctbal
            FROM customer WHERE c_acctbal > 0
        """,
        "native_roundtrip": f"""
            SELECT user_id, value, {OP_CASE_SQL} AS _op, event_id AS _lsn
            FROM events
        """,
    }
