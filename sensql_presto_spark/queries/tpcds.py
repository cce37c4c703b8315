"""Adapted TPC-DS q01-q30 over the driver's simplified star schema.

The reference ships 103 TPC-DS variants
(``presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/q01..q99.sql``)
as its second headline workload (BASELINE.md rows 4-5). The driver's
testdata has no TPC-DS tables, so — exactly like ``queries/tpch.py`` does
for missing TPC-H columns — each query here keeps the reference query's
*operator shape* (CTE structure, correlated-subquery class, channel
unions, rollups, window ratios, join graph arity) on a documented schema
mapping:

    store_sales        -> lineitem JOIN orders (the sales fact)
    web/catalog channel-> disjoint lineitem slices (l_linenumber parity)
    store_returns      -> sales rows with l_returnflag = 'R'
    date_dim           -> year()/month()/week() of o_orderdate (inline)
    item               -> part   (brand=p_brand, category=p_type,
                                  current_price=p_retailprice, size=p_size)
    store/warehouse    -> supplier (store_sk = l_suppkey)
    customer           -> customer; customer_address -> nation (c_nationkey)
    demographics       -> c_mktsegment / o_orderpriority

Money sums are quantized to exact integer cents BEFORE aggregation
(``floor(x*100+0.5)`` — identical IEEE arithmetic in both engines), so
every aggregate is order-independent and hash-stable; ratios divide the
exact integer sums and round. All ORDER BY clauses that feed a LIMIT are
total orders (explicit tiebreakers), so the surviving row set is
deterministic. Queries are dialect-shared ANSI SQL — the same text runs on
Spark and DuckDB — except where noted (day-of-week numbering).
"""

from __future__ import annotations

from sensql_presto_spark.queries.relational import _sql_query

# The sales "fact view" joined inline (Spark and DuckDB both inline CTEs;
# filters on d_year/d_moy push into the orders scan before the join).
_S = """
    sales AS (
        SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
               l.l_quantity, l.l_extendedprice, l.l_discount, l.l_returnflag,
               cast(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
               cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT) AS net_c,
               o.o_custkey, o.o_orderdate, o.o_orderpriority, o.o_totalprice,
               year(o.o_orderdate) AS d_year,
               month(o.o_orderdate) AS d_moy,
               quarter(o.o_orderdate) AS d_qoy
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
"""

# Channel slices: disjoint halves of the fact stand in for web_sales /
# catalog_sales in the cross-channel query shapes.
_CHANNELS = f"""
    {_S},
    web AS (SELECT * FROM sales WHERE l_linenumber % 2 = 0),
    cat AS (SELECT * FROM sales WHERE l_linenumber % 2 = 1),
    ret AS (SELECT * FROM sales WHERE l_returnflag = 'R')
"""


def year_growth_sql(col: str, measure: str, year: int) -> str:
    """q11's and q74's customers whose web ``measure`` grew faster than their
    store ``measure`` from ``year`` to the next: the ``year_total`` CTE (its
    channel column named ``col``) and the query over it."""
    return f"""
    year_total AS (
        SELECT o_custkey, d_year, 's' AS {col}, sum({measure}) AS year_total
        FROM sales GROUP BY o_custkey, d_year
        UNION ALL
        SELECT o_custkey, d_year, 'w' AS {col}, sum({measure}) AS year_total
        FROM web GROUP BY o_custkey, d_year
    )
    SELECT c.c_name
    FROM year_total t_s_firstyear
    JOIN year_total t_s_secyear ON t_s_firstyear.o_custkey = t_s_secyear.o_custkey
    JOIN year_total t_w_firstyear ON t_s_firstyear.o_custkey = t_w_firstyear.o_custkey
    JOIN year_total t_w_secyear ON t_s_firstyear.o_custkey = t_w_secyear.o_custkey
    JOIN customer c ON c.c_custkey = t_s_firstyear.o_custkey
    WHERE t_s_firstyear.{col} = 's' AND t_s_secyear.{col} = 's'
      AND t_w_firstyear.{col} = 'w' AND t_w_secyear.{col} = 'w'
      AND t_s_firstyear.d_year = {year} AND t_s_secyear.d_year = {year + 1}
      AND t_w_firstyear.d_year = {year} AND t_w_secyear.d_year = {year + 1}
      AND t_s_firstyear.year_total > 0 AND t_w_firstyear.year_total > 0
      AND CAST(t_w_secyear.year_total AS DOUBLE) / t_w_firstyear.year_total
          > CAST(t_s_secyear.year_total AS DOUBLE) / t_s_firstyear.year_total
    ORDER BY c.c_name
    LIMIT 100
    """


def _item_revenue_share_sql(rel: str) -> str:
    """q12's and q20's per-item revenue over ``rel`` in January-February
    1995, with its share of the item type's revenue."""
    return f"""
    SELECT p_brand, p_type, itemrevenue,CAST(round(itemrevenue * 100.0
                 / sum(itemrevenue) OVER (PARTITION BY p_type), 4) AS DOUBLE) AS revenueratio
    FROM (
        SELECT p.p_brand, p.p_type,CAST(sum(net_c) AS BIGINT) AS itemrevenue
        FROM {rel} JOIN part p ON l_partkey = p.p_partkey
        WHERE d_year = 1995 AND d_moy BETWEEN 1 AND 2
        GROUP BY p.p_brand, p.p_type
    )
    ORDER BY p_type, revenueratio, p_brand
    LIMIT 100
    """


# --------------------------------------------------------------------------
# q01 — per-customer returns vs 1.2x the per-store average (CTE + correlated
# scalar subquery on the CTE). Reference: tpcds/q01.sql.
_sql_query(
    "tpcds_q01",
    f"""
    WITH {_S},
    customer_total_return AS (
        SELECT o_custkey AS ctr_customer_sk, l_suppkey AS ctr_store_sk,
               sum(price_c) AS ctr_total_return
        FROM sales
        WHERE l_returnflag = 'R' AND d_year = 1995
        GROUP BY o_custkey, l_suppkey
    )
    SELECT c.c_name
    FROM customer_total_return ctr1
    JOIN supplier s ON s.s_suppkey = ctr1.ctr_store_sk
    JOIN customer c ON ctr1.ctr_customer_sk = c.c_custkey
    WHERE ctr1.ctr_total_return > (
            SELECT avg(ctr_total_return) * 1.2
            FROM customer_total_return ctr2
            WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
      AND s.s_nationkey = 1
    ORDER BY c.c_name
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q02 — channel union, per-week day-of-week pivot, year-over-year ratio
# self-join. Reference: tpcds/q02.sql. Day-of-week numbering differs
# (Spark 1=Sunday, DuckDB 0=Sunday) -> dialect-specific dow expression.
_Q02 = """
    WITH {CH},
    wscs AS (
        SELECT o_orderdate, d_year, {DOW} AS dow, price_c FROM web
        UNION ALL
        SELECT o_orderdate, d_year, {DOW} AS dow, price_c FROM cat
    ),
    wswscs AS (
        SELECT d_year, weekofyear(o_orderdate) AS wk,
               sum(CASE WHEN dow = 1 THEN price_c END) AS sun_sales,
               sum(CASE WHEN dow = 2 THEN price_c END) AS mon_sales,
               sum(CASE WHEN dow = 6 THEN price_c END) AS fri_sales,
               sum(CASE WHEN dow = 7 THEN price_c END) AS sat_sales
        FROM wscs GROUP BY d_year, weekofyear(o_orderdate)
    )
    SELECT y1.wk AS d_week_seq1,
           round(CAST(y1.sun_sales AS DOUBLE) / y2.sun_sales, 2) AS r_sun,
           round(CAST(y1.mon_sales AS DOUBLE) / y2.mon_sales, 2) AS r_mon,
           round(CAST(y1.fri_sales AS DOUBLE) / y2.fri_sales, 2) AS r_fri,
           round(CAST(y1.sat_sales AS DOUBLE) / y2.sat_sales, 2) AS r_sat
    FROM wswscs y1 JOIN wswscs y2 ON y1.wk = y2.wk
    WHERE y1.d_year = 1995 AND y2.d_year = 1996
    ORDER BY d_week_seq1
    """

_sql_query(
    "tpcds_q02",
    _Q02.format(CH=_CHANNELS, DOW="dayofweek(o_orderdate)"),
    oracle=_Q02.format(CH=_CHANNELS.replace("year(o.o_orderdate) AS d_year",
                                            "year(o.o_orderdate) AS d_year"),
                       DOW="dayofweek(o_orderdate) + 1"),
    tags=("tpcds",),
    doc="weekofyear is ISO in both engines; dow differs by one (oracle adds 1).",
)

# q03 — date+item dim join, brand revenue, topn. Reference: tpcds/q03.sql.
_sql_query(
    "tpcds_q03",
    f"""
    WITH {_S}
    SELECT d_year, p.p_brand AS brand,CAST(sum(net_c) AS BIGINT) AS sum_agg
    FROM sales JOIN part p ON l_partkey = p.p_partkey
    WHERE p.p_size = 28 AND d_moy = 11
    GROUP BY d_year, p.p_brand
    ORDER BY d_year, sum_agg DESC, brand
    LIMIT 100
    """,
    tags=("tpcds",),
    bench=True,
)

# q04 — year-over-year growth per customer compared ACROSS channels (the
# big multi-CTE self-join shape). Reference: tpcds/q04.sql (3 channels ->
# 2 here; the comparison/join structure is identical).
_sql_query(
    "tpcds_q04",
    f"""
    WITH {_CHANNELS},
    year_total AS (
        SELECT o_custkey, d_year, 'w' AS channel, sum(net_c) AS year_total
        FROM web GROUP BY o_custkey, d_year
        UNION ALL
        SELECT o_custkey, d_year, 'c' AS channel, sum(net_c) AS year_total
        FROM cat GROUP BY o_custkey, d_year
    )
    SELECT c.c_name
    FROM year_total t_w_firstyear
    JOIN year_total t_w_secyear ON t_w_firstyear.o_custkey = t_w_secyear.o_custkey
    JOIN year_total t_c_firstyear ON t_w_firstyear.o_custkey = t_c_firstyear.o_custkey
    JOIN year_total t_c_secyear ON t_w_firstyear.o_custkey = t_c_secyear.o_custkey
    JOIN customer c ON c.c_custkey = t_w_firstyear.o_custkey
    WHERE t_w_firstyear.channel = 'w' AND t_w_secyear.channel = 'w'
      AND t_c_firstyear.channel = 'c' AND t_c_secyear.channel = 'c'
      AND t_w_firstyear.d_year = 1995 AND t_w_secyear.d_year = 1996
      AND t_c_firstyear.d_year = 1995 AND t_c_secyear.d_year = 1996
      AND t_w_firstyear.year_total > 0 AND t_c_firstyear.year_total > 0
      AND CAST(t_c_secyear.year_total AS DOUBLE) / t_c_firstyear.year_total
          > CAST(t_w_secyear.year_total AS DOUBLE) / t_w_firstyear.year_total
    ORDER BY c.c_name
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q05 — per-channel sales/returns summary ROLLUP union. Reference: q05.sql.
_sql_query(
    "tpcds_q05",
    f"""
    WITH {_CHANNELS},
    ssr AS (
        SELECT 'store' AS channel, l_suppkey AS id,CAST(sum(price_c) AS BIGINT) AS sales,CAST(sum(CASE WHEN l_returnflag = 'R' THEN price_c ELSE 0 END) AS BIGINT) AS returns_
        FROM sales GROUP BY l_suppkey
    ),
    wsr AS (
        SELECT 'web' AS channel, l_suppkey AS id,CAST(sum(price_c) AS BIGINT) AS sales,CAST(sum(CASE WHEN l_returnflag = 'R' THEN price_c ELSE 0 END) AS BIGINT) AS returns_
        FROM web GROUP BY l_suppkey
    )
    SELECT channel, id,CAST(sum(sales) AS BIGINT) AS sales,CAST(sum(returns_) AS BIGINT) AS returns_
    FROM (SELECT * FROM ssr UNION ALL SELECT * FROM wsr)
    GROUP BY ROLLUP (channel, id)
    ORDER BY channel NULLS FIRST, id NULLS FIRST
    """,
    tags=("tpcds",),
)

# q06 — customers per state buying items priced over 1.2x their category
# average; month picked by a scalar DISTINCT subquery. Reference: q06.sql.
_sql_query(
    "tpcds_q06",
    f"""
    WITH {_S}
    SELECT n.n_name AS state, count(*) AS cnt
    FROM sales
    JOIN customer c ON sales.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN part i ON sales.l_partkey = i.p_partkey
    WHERE d_year * 100 + d_moy = (
            SELECT DISTINCT d_year * 100 + d_moy
            FROM sales WHERE d_year = 1995 AND d_moy = 1)
      AND i.p_retailprice > 1.05 * (
            SELECT avg(j.p_retailprice) FROM part j WHERE j.p_type = i.p_type)
    GROUP BY n.n_name
    HAVING count(*) >= 2
    ORDER BY cnt, state
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q07 — demographic+promotion filtered averages by item. Reference: q07.sql.
# Averages divide exact integer sums (order-independent) and round.
_sql_query(
    "tpcds_q07",
    f"""
    WITH {_S}
    SELECT p.p_brand AS i_item_id,
           CAST(CAST(floor(sum(cast(l_quantity AS BIGINT)) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS agg1,
           CAST(CAST(floor(sum(price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS agg2,
           CAST(CAST(floor(sum(cast(floor(l_discount * 10000 + 0.5) AS BIGINT)) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS agg3,
           CAST(CAST(floor(sum(net_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS agg4
    FROM sales
    JOIN customer c ON o_custkey = c.c_custkey
    JOIN part p ON l_partkey = p.p_partkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH')
      AND d_year = 1995
    GROUP BY p.p_brand
    ORDER BY i_item_id
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q08 — store sales restricted by a zip-prefix-style IN subquery over the
# customer-address dim. Reference: q08.sql (substr zip -> nation prefix).
_sql_query(
    "tpcds_q08",
    f"""
    WITH {_S}
    SELECT s.s_name,CAST(sum(net_c) AS BIGINT) AS net_profit
    FROM sales
    JOIN supplier s ON l_suppkey = s.s_suppkey
    WHERE d_qoy = 2 AND d_year = 1995
      AND s.s_nationkey IN (
            SELECT n_nationkey FROM nation
            WHERE substr(n_name, 8, 1) IN ('1', '2'))
    GROUP BY s.s_name
    ORDER BY s.s_name
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q09 — CASE over independent scalar-subquery counts, evaluated from a
# one-row dim table. Reference: q09.sql (reason table -> region row).
_sql_query(
    "tpcds_q09",
    f"""
    WITH {_S}
    SELECT CASE WHEN (SELECT count(*) FROM sales WHERE l_quantity BETWEEN 1 AND 20) > 20000
                THEN (SELECT round(CAST(sum(price_c) AS DOUBLE) / 100.0, 2) FROM sales
                      WHERE l_quantity BETWEEN 1 AND 20)
                ELSE (SELECT round(CAST(sum(net_c) AS DOUBLE) / 100.0, 2) FROM sales
                      WHERE l_quantity BETWEEN 1 AND 20) END AS bucket1,
           CASE WHEN (SELECT count(*) FROM sales WHERE l_quantity BETWEEN 21 AND 40) > 20000
                THEN (SELECT round(CAST(sum(price_c) AS DOUBLE) / 100.0, 2) FROM sales
                      WHERE l_quantity BETWEEN 21 AND 40)
                ELSE (SELECT round(CAST(sum(net_c) AS DOUBLE) / 100.0, 2) FROM sales
                      WHERE l_quantity BETWEEN 21 AND 40) END AS bucket2,
           CASE WHEN (SELECT count(*) FROM sales WHERE l_quantity BETWEEN 41 AND 50) > 20000
                THEN (SELECT round(CAST(sum(price_c) AS DOUBLE) / 100.0, 2) FROM sales
                      WHERE l_quantity BETWEEN 41 AND 50)
                ELSE (SELECT round(CAST(sum(net_c) AS DOUBLE) / 100.0, 2) FROM sales
                      WHERE l_quantity BETWEEN 41 AND 50) END AS bucket3
    FROM region WHERE r_regionkey = 1
    """,
    tags=("tpcds",),
)

# q10 — customers present in one channel AND (EXISTS in either of two
# others), counted by demographic. Reference: q10.sql.
_sql_query(
    "tpcds_q10",
    f"""
    WITH {_CHANNELS}
    SELECT c.c_mktsegment, count(*) AS cnt
    FROM customer c
    WHERE c.c_custkey IN (SELECT o_custkey FROM sales WHERE d_year = 1995)
      AND (EXISTS (SELECT 1 FROM web w
                   WHERE w.o_custkey = c.c_custkey AND w.d_year = 1995)
           OR EXISTS (SELECT 1 FROM cat t
                      WHERE t.o_custkey = c.c_custkey AND t.d_year = 1995))
    GROUP BY c.c_mktsegment
    ORDER BY cnt DESC, c.c_mktsegment
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q11 — two-channel year-over-year ratio per customer (q04's little
# sibling). Reference: q11.sql.
_sql_query(
    "tpcds_q11",
    f"WITH {_CHANNELS}," + year_growth_sql("channel", "price_c", 1995),
    tags=("tpcds",),
)

# q12 — revenue share of each item inside its category via a windowed
# ratio over the aggregate. Reference: q12.sql.
_sql_query(
    "tpcds_q12",
    f"WITH {_S}" + _item_revenue_share_sql("sales"),
    tags=("tpcds",),
)

# q13 — averages under compound OR of demographic x price-range arms.
# Reference: q13.sql.
_sql_query(
    "tpcds_q13",
    f"""
    WITH {_S}
    SELECT CAST(CAST(floor(sum(cast(l_quantity AS BIGINT)) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS avg_qty,
           CAST(CAST(floor(sum(price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS avg_price,
           round(CAST(sum(net_c) AS DOUBLE) / 100.0, 2) AS total_net
    FROM sales
    JOIN customer c ON o_custkey = c.c_custkey
    WHERE ((c.c_mktsegment = 'BUILDING' AND o_totalprice BETWEEN 1000 AND 150000)
           OR (c.c_mktsegment = 'MACHINERY' AND o_totalprice BETWEEN 50000 AND 250000)
           OR (c.c_mktsegment = 'AUTOMOBILE' AND o_totalprice BETWEEN 150000 AND 400000))
      AND d_year = 1995
    """,
    tags=("tpcds",),
)

# q14 — items sold in BOTH channels (INTERSECT CTE), then revenue ROLLUP
# per channel restricted to those items. Reference: q14.sql.
_sql_query(
    "tpcds_q14",
    f"""
    WITH {_CHANNELS},
    cross_items AS (
        SELECT l_partkey AS ss_item_sk FROM web WHERE d_year = 1995
        INTERSECT
        SELECT l_partkey FROM cat WHERE d_year = 1995
    )
    SELECT channel, p_brand,CAST(sum(sales_c) AS BIGINT) AS sales,CAST(sum(n) AS BIGINT) AS number_sales
    FROM (
        SELECT 'web' AS channel, p.p_brand, sum(net_c) AS sales_c, count(*) AS n
        FROM web JOIN part p ON l_partkey = p.p_partkey
        WHERE d_year = 1995 AND l_partkey IN (SELECT ss_item_sk FROM cross_items)
        GROUP BY p.p_brand
        UNION ALL
        SELECT 'catalog' AS channel, p.p_brand, sum(net_c) AS sales_c, count(*) AS n
        FROM cat JOIN part p ON l_partkey = p.p_partkey
        WHERE d_year = 1995 AND l_partkey IN (SELECT ss_item_sk FROM cross_items)
        GROUP BY p.p_brand
    )
    GROUP BY ROLLUP (channel, p_brand)
    ORDER BY channel NULLS FIRST, p_brand NULLS FIRST
    """,
    tags=("tpcds",),
)

# q15 — catalog sales per customer state for a quarter, with an OR of
# address/price conditions. Reference: q15.sql.
_sql_query(
    "tpcds_q15",
    f"""
    WITH {_CHANNELS}
    SELECT n.n_name AS ca_state,CAST(sum(price_c) AS BIGINT) AS total_sales
    FROM cat
    JOIN customer c ON o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE (substr(n.n_name, 8, 1) IN ('1', '3', '5')
           OR c.c_acctbal > 500
           OR price_c > 50000)
      AND d_qoy = 1 AND d_year = 1995
    GROUP BY n.n_name
    ORDER BY ca_state
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q16 — orders with EXISTS (another line from a different supplier) and
# NOT EXISTS (a returned line), count distinct + sums. Reference: q16.sql.
_sql_query(
    "tpcds_q16",
    f"""
    WITH {_S}
    SELECT count(DISTINCT s1.l_orderkey) AS order_count,
           round(CAST(sum(s1.price_c) AS DOUBLE) / 100.0, 2) AS total_shipping_cost,
           round(CAST(sum(s1.net_c) AS DOUBLE) / 100.0, 2) AS total_net_profit
    FROM sales s1
    WHERE s1.d_year = 1995 AND s1.d_moy BETWEEN 2 AND 3
      AND EXISTS (SELECT 1 FROM sales s2
                  WHERE s1.l_orderkey = s2.l_orderkey
                    AND s1.l_suppkey <> s2.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM sales s3
                      WHERE s1.l_orderkey = s3.l_orderkey
                        AND s3.l_returnflag = 'R')
    """,
    tags=("tpcds",),
)

# q17 — quantity statistics across the sold->returned->repurchased chain
# (3 fact references, 2 date windows). Reference: q17.sql.
_sql_query(
    "tpcds_q17",
    f"""
    WITH {_S}
    SELECT p.p_type, count(*) AS cnt,
           CAST(CAST(floor(sum(cast(ss.l_quantity AS BIGINT)) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS avg_sold_qty,
           CAST(CAST(floor(sum(cast(sr.l_quantity AS BIGINT)) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS avg_ret_qty
    FROM sales ss
    JOIN sales sr ON ss.o_custkey = sr.o_custkey AND ss.l_partkey = sr.l_partkey
                 AND sr.l_returnflag = 'R' AND sr.l_orderkey <> ss.l_orderkey
    JOIN part p ON ss.l_partkey = p.p_partkey
    WHERE ss.d_qoy = 1 AND ss.d_year = 1995
      AND sr.d_year = 1995
    GROUP BY p.p_type
    ORDER BY p.p_type
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q18 — averages by ROLLUP over (nation, segment). Reference: q18.sql.
_sql_query(
    "tpcds_q18",
    f"""
    WITH {_S}
    SELECT n.n_name, c.c_mktsegment,
           count(*) AS cnt,
           CAST(CAST(floor(sum(cast(l_quantity AS BIGINT)) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS agg1,
           CAST(CAST(floor(sum(price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS agg2
    FROM sales
    JOIN customer c ON o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE d_year = 1995
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    ORDER BY n.n_name NULLS FIRST, c.c_mktsegment NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q19 — brand revenue where the customer's and supplier's geographies
# DIFFER (the zip-mismatch filter). Reference: q19.sql.
_sql_query(
    "tpcds_q19",
    f"""
    WITH {_S}
    SELECT p.p_brand AS brand,CAST(sum(net_c) AS BIGINT) AS ext_price
    FROM sales
    JOIN part p ON l_partkey = p.p_partkey
    JOIN customer c ON o_custkey = c.c_custkey
    JOIN supplier s ON l_suppkey = s.s_suppkey
    WHERE d_moy = 11 AND d_year = 1995
      AND c.c_nationkey <> s.s_nationkey
    GROUP BY p.p_brand
    ORDER BY ext_price DESC, brand
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q20 — catalog-channel item revenue share (q12 on the other channel).
# Reference: q20.sql.
_sql_query(
    "tpcds_q20",
    f"WITH {_CHANNELS}" + _item_revenue_share_sql("cat"),
    tags=("tpcds",),
)

# q21 — per-warehouse inventory before/after a pivot date with a ratio
# HAVING band. Reference: q21.sql (inventory -> order volume per supplier).
_sql_query(
    "tpcds_q21",
    f"""
    WITH {_S}
    SELECT s.s_name,CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1995-03-15' THEN cast(l_quantity AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS inv_before,CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-03-15' THEN cast(l_quantity AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS inv_after
    FROM sales JOIN supplier s ON l_suppkey = s.s_suppkey
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-02-13' AND TIMESTAMP '1995-04-14'
    GROUP BY s.s_name
    HAVING sum(CASE WHEN o_orderdate < TIMESTAMP '1995-03-15' THEN cast(l_quantity AS BIGINT) ELSE 0 END) > 0
       AND CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-03-15' THEN cast(l_quantity AS BIGINT) ELSE 0 END) AS DOUBLE)
           / sum(CASE WHEN o_orderdate < TIMESTAMP '1995-03-15' THEN cast(l_quantity AS BIGINT) ELSE 0 END)
           BETWEEN 0.5 AND 2.0
    ORDER BY s.s_name
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q22 — average quantity by ROLLUP over the item hierarchy. Reference: q22.sql.
_sql_query(
    "tpcds_q22",
    f"""
    WITH {_S}
    SELECT p.p_type, p.p_brand,
           CAST(CAST(floor(sum(cast(l_quantity AS BIGINT)) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS qoh
    FROM sales JOIN part p ON l_partkey = p.p_partkey
    WHERE d_year = 1995
    GROUP BY ROLLUP (p.p_type, p.p_brand)
    ORDER BY qoh, p.p_type NULLS FIRST, p.p_brand NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q23 — frequent items CTE x best customers CTE, then cross-channel sales
# of frequent items to best customers. Reference: q23.sql.
_sql_query(
    "tpcds_q23",
    f"""
    WITH {_CHANNELS},
    frequent_ss_items AS (
        SELECT l_partkey AS item_sk
        FROM sales WHERE d_year = 1995
        GROUP BY l_partkey HAVING count(*) > 4
    ),
    best_ss_customer AS (
        SELECT o_custkey AS c_sk, sum(price_c) AS ssales
        FROM sales GROUP BY o_custkey
        HAVING sum(price_c) > 0.95 * (
            SELECT max(csales) FROM (
                SELECT sum(price_c) AS csales FROM sales GROUP BY o_custkey))
    )
    SELECT round(CAST(sum(price_c) AS DOUBLE) / 100.0, 2) AS total
    FROM (
        SELECT price_c FROM web
        WHERE d_year = 1996 AND d_moy = 3
          AND l_partkey IN (SELECT item_sk FROM frequent_ss_items)
          AND o_custkey IN (SELECT c_sk FROM best_ss_customer)
        UNION ALL
        SELECT price_c FROM cat
        WHERE d_year = 1996 AND d_moy = 3
          AND l_partkey IN (SELECT item_sk FROM frequent_ss_items)
          AND o_custkey IN (SELECT c_sk FROM best_ss_customer)
    )
    """,
    tags=("tpcds",),
)

# q24 — same-geography returns chain with HAVING over a global scalar
# average. Reference: q24.sql.
_sql_query(
    "tpcds_q24",
    f"""
    WITH {_S},
    ssales AS (
        SELECT c.c_name, s.s_name,CAST(sum(net_c) AS BIGINT) AS netpaid
        FROM sales
        JOIN customer c ON o_custkey = c.c_custkey
        JOIN supplier s ON l_suppkey = s.s_suppkey
        WHERE l_returnflag = 'R' AND c.c_nationkey = s.s_nationkey
        GROUP BY c.c_name, s.s_name
    )
    SELECT c_name, s_name, netpaid
    FROM ssales
    WHERE netpaid > (SELECT 0.05 * avg(netpaid) FROM ssales)
    ORDER BY c_name, s_name
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q25 — sold + returned + repurchased chain sums (3 fact refs, 3 date
# windows). Reference: q25.sql.
_sql_query(
    "tpcds_q25",
    f"""
    WITH {_S}
    SELECT p.p_type, s.s_name,CAST(sum(ss.net_c) AS BIGINT) AS store_sales_profit,CAST(sum(sr.price_c) AS BIGINT) AS store_returns_loss,CAST(sum(cs.net_c) AS BIGINT) AS catalog_sales_profit
    FROM sales ss
    JOIN sales sr ON ss.o_custkey = sr.o_custkey AND ss.l_partkey = sr.l_partkey
                 AND sr.l_returnflag = 'R' AND sr.l_orderkey <> ss.l_orderkey
    JOIN sales cs ON sr.o_custkey = cs.o_custkey
                 AND cs.l_linenumber % 2 = 1 AND cs.l_orderkey <> sr.l_orderkey
                 AND cs.l_orderkey <> ss.l_orderkey
    JOIN supplier s ON ss.l_suppkey = s.s_suppkey
    JOIN part p ON ss.l_partkey = p.p_partkey
    WHERE ss.d_year = 1995
      AND sr.d_year = 1995
      AND cs.d_year = 1995
    GROUP BY p.p_type, s.s_name
    ORDER BY p.p_type, s.s_name
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q26 — q07's catalog-channel variant. Reference: q26.sql.
_sql_query(
    "tpcds_q26",
    f"""
    WITH {_CHANNELS}
    SELECT p.p_brand AS i_item_id,
           CAST(CAST(floor(sum(cast(l_quantity AS BIGINT)) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS agg1,
           CAST(CAST(floor(sum(price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS agg2,
           CAST(CAST(floor(sum(net_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS agg4
    FROM cat
    JOIN customer c ON o_custkey = c.c_custkey
    JOIN part p ON l_partkey = p.p_partkey
    WHERE c.c_mktsegment = 'MACHINERY'
      AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '3%')
      AND d_year = 1995
    GROUP BY p.p_brand
    ORDER BY i_item_id
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q27 — demo-filtered aggregates ROLLUP'ed over state. Reference: q27.sql.
_sql_query(
    "tpcds_q27",
    f"""
    WITH {_S}
    SELECT p.p_brand, n.n_name,
           count(*) AS cnt,
           CAST(CAST(floor(sum(cast(l_quantity AS BIGINT)) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS agg1
    FROM sales
    JOIN customer c ON o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN part p ON l_partkey = p.p_partkey
    WHERE c.c_mktsegment = 'HOUSEHOLD' AND d_year = 1995
    GROUP BY ROLLUP (p.p_brand, n.n_name)
    ORDER BY p.p_brand NULLS FIRST, n.n_name NULLS FIRST
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q28 — six independent price-band aggregate arms cross-joined into one
# row. Reference: q28.sql (6 arms -> 4 arms, same shape).
_sql_query(
    "tpcds_q28",
    f"""
    WITH {_S}
    SELECT b1.cnt AS b1_cnt, b1.avg_p AS b1_avg,
           b2.cnt AS b2_cnt, b2.avg_p AS b2_avg,
           b3.cnt AS b3_cnt, b3.avg_p AS b3_avg,
           b4.cnt AS b4_cnt, b4.avg_p AS b4_avg
    FROM (SELECT count(*) AS cnt,
                 CAST(CAST(floor(sum(price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS avg_p
          FROM sales WHERE l_quantity BETWEEN 0 AND 5) b1,
         (SELECT count(*) AS cnt,
                 CAST(CAST(floor(sum(price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS avg_p
          FROM sales WHERE l_quantity BETWEEN 6 AND 10) b2,
         (SELECT count(*) AS cnt,
                 CAST(CAST(floor(sum(price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS avg_p
          FROM sales WHERE l_quantity BETWEEN 11 AND 15) b3,
         (SELECT count(*) AS cnt,
                 CAST(CAST(floor(sum(price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS avg_p
          FROM sales WHERE l_quantity BETWEEN 16 AND 20) b4
    """,
    tags=("tpcds",),
)

# q29 — q25 with shifted windows (sold in one month, returned within six,
# repurchased in the following year). Reference: q29.sql.
_sql_query(
    "tpcds_q29",
    f"""
    WITH {_S}
    SELECT p.p_type, s.s_name,CAST(sum(cast(ss.l_quantity AS BIGINT)) AS BIGINT) AS store_sales_quantity,CAST(sum(cast(sr.l_quantity AS BIGINT)) AS BIGINT) AS store_returns_quantity,CAST(sum(cast(cs.l_quantity AS BIGINT)) AS BIGINT) AS catalog_sales_quantity
    FROM sales ss
    JOIN sales sr ON ss.o_custkey = sr.o_custkey AND ss.l_partkey = sr.l_partkey
                 AND sr.l_returnflag = 'R' AND sr.l_orderkey <> ss.l_orderkey
    JOIN sales cs ON sr.o_custkey = cs.o_custkey
                 AND cs.d_year = 1996 AND cs.l_orderkey <> sr.l_orderkey
                 AND cs.l_orderkey <> ss.l_orderkey
    JOIN supplier s ON ss.l_suppkey = s.s_suppkey
    JOIN part p ON ss.l_partkey = p.p_partkey
    WHERE ss.d_year = 1995
      AND sr.d_year = 1995
    GROUP BY p.p_type, s.s_name
    ORDER BY p.p_type, s.s_name
    LIMIT 100
    """,
    tags=("tpcds",),
)

# q30 — per-customer channel returns vs 1.2x the per-state average,
# returning customer attributes. Reference: q30.sql.
_sql_query(
    "tpcds_q30",
    f"""
    WITH {_CHANNELS},
    customer_total_return AS (
        SELECT r.o_custkey AS ctr_customer_sk, c.c_nationkey AS ctr_state,CAST(sum(r.price_c) AS BIGINT) AS ctr_total_return
        FROM ret r JOIN customer c ON r.o_custkey = c.c_custkey
        WHERE r.d_year = 1995
        GROUP BY r.o_custkey, c.c_nationkey
    )
    SELECT c.c_name, c.c_mktsegment, ctr1.ctr_total_return
    FROM customer_total_return ctr1
    JOIN customer c ON ctr1.ctr_customer_sk = c.c_custkey
    WHERE ctr1.ctr_total_return > (
            SELECT avg(ctr_total_return) * 1.2
            FROM customer_total_return ctr2
            WHERE ctr1.ctr_state = ctr2.ctr_state)
    ORDER BY c.c_name, c.c_mktsegment, ctr1.ctr_total_return
    LIMIT 100
    """,
    tags=("tpcds",),
)
