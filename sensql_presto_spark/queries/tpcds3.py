"""Adapted TPC-DS q66-q99 over the driver's simplified star schema.

Final tranche; see ``queries/tpcds.py`` and ``queries/tpcds2.py`` for the
schema mapping and determinism discipline. Reference shapes:
``presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/q66..q99.sql``.
"""

from __future__ import annotations

from sensql_presto_spark.queries.tpcds import year_growth_sql
from sensql_presto_spark.queries.tpcds2 import away_tickets_sql, ds, inv_cov_sql, item_stock_sql

# q66 — warehouse 12-month sales pivot across two channels with
# per-square-foot ratios (sq_ft -> a deterministic per-supplier constant).
ds(
    "tpcds_q66",
    """
    , monthly AS (
        SELECT w.l_suppkey, w.d_year, 'web' AS carrier,CAST(sum(CASE WHEN w.d_moy = 1 THEN w.net_c ELSE 0 END) AS BIGINT) AS jan_sales,CAST(sum(CASE WHEN w.d_moy = 2 THEN w.net_c ELSE 0 END) AS BIGINT) AS feb_sales,CAST(sum(CASE WHEN w.d_moy = 3 THEN w.net_c ELSE 0 END) AS BIGINT) AS mar_sales,CAST(sum(CASE WHEN w.d_moy = 4 THEN w.net_c ELSE 0 END) AS BIGINT) AS apr_sales,
               CAST(sum(CASE WHEN w.d_moy = 5 THEN w.net_c ELSE 0 END) AS BIGINT) AS may_sales,CAST(sum(CASE WHEN w.d_moy = 6 THEN w.net_c ELSE 0 END) AS BIGINT) AS jun_sales
        FROM web w WHERE w.d_year = 1995
        GROUP BY w.l_suppkey, w.d_year
        UNION ALL
        SELECT c.l_suppkey, c.d_year, 'catalog' AS carrier,CAST(sum(CASE WHEN c.d_moy = 1 THEN c.net_c ELSE 0 END) AS BIGINT) AS jan_sales,CAST(sum(CASE WHEN c.d_moy = 2 THEN c.net_c ELSE 0 END) AS BIGINT) AS feb_sales,CAST(sum(CASE WHEN c.d_moy = 3 THEN c.net_c ELSE 0 END) AS BIGINT) AS mar_sales,CAST(sum(CASE WHEN c.d_moy = 4 THEN c.net_c ELSE 0 END) AS BIGINT) AS apr_sales,
               CAST(sum(CASE WHEN c.d_moy = 5 THEN c.net_c ELSE 0 END) AS BIGINT) AS may_sales,CAST(sum(CASE WHEN c.d_moy = 6 THEN c.net_c ELSE 0 END) AS BIGINT) AS jun_sales
        FROM cat c WHERE c.d_year = 1995
        GROUP BY c.l_suppkey, c.d_year
    )
    SELECT st.s_name AS w_warehouse_name, (st.s_suppkey + 1) * 100 AS w_sq_ft, m.d_year,CAST(sum(m.jan_sales) AS BIGINT) AS jan_sales,CAST(sum(m.feb_sales) AS BIGINT) AS feb_sales,CAST(sum(m.mar_sales) AS BIGINT) AS mar_sales,CAST(sum(m.apr_sales) AS BIGINT) AS apr_sales,
           CAST(sum(m.may_sales) AS BIGINT) AS may_sales,CAST(sum(m.jun_sales) AS BIGINT) AS jun_sales,
           round(CAST(sum(m.jan_sales) AS DOUBLE) / ((st.s_suppkey + 1) * 100), 4)
               AS jan_sales_per_sq_foot,
           round(CAST(sum(m.jun_sales) AS DOUBLE) / ((st.s_suppkey + 1) * 100), 4)
               AS jun_sales_per_sq_foot
    FROM monthly m JOIN supplier st ON m.l_suppkey = st.s_suppkey
    GROUP BY st.s_name, st.s_suppkey, m.d_year
    ORDER BY w_warehouse_name
    LIMIT 100
    """,
    doc="Reference: tpcds/q66.sql (6-month pivot; sq_ft -> (suppkey+1)*100).",
)

# q67 — item-hierarchy ROLLUP over time and store, ranked within category
# (rk <= 100).
ds(
    "tpcds_q67",
    """
    SELECT *
    FROM (
        SELECT i_category, i_brand, d_year, d_qoy, d_moy, s_store_id, sumsales,
               rank() OVER (
                   PARTITION BY i_category
                   ORDER BY sumsales DESC, i_brand NULLS FIRST, d_year NULLS FIRST,
                            d_qoy NULLS FIRST, d_moy NULLS FIRST, s_store_id NULLS FIRST
               ) AS rk
        FROM (
            SELECT i.p_type AS i_category, i.p_brand AS i_brand, s.d_year, s.d_qoy,
                   s.d_moy, st.s_name AS s_store_id,CAST(sum(s.price_c * s.qty) AS BIGINT) AS sumsales
            FROM sales s
            JOIN supplier st ON s.l_suppkey = st.s_suppkey
            JOIN part i ON s.l_partkey = i.p_partkey
            WHERE s.d_month_seq BETWEEN 23941 AND 23952
            GROUP BY ROLLUP (i.p_type, i.p_brand, s.d_year, s.d_qoy, s.d_moy, st.s_name)
        ) dw1
    ) dw2
    WHERE rk <= 100
    ORDER BY i_category NULLS FIRST, rk
    LIMIT 100
    """,
    doc="Reference: tpcds/q67.sql. Rank fully tiebroken over the rollup keys.",
)

# q68 — per-ticket extended price/tax/list sums for start-of-month
# purchases where bought and home geographies differ.
ds(
    "tpcds_q68",
    away_tickets_sql(
        "dn.extended_price, dn.extended_tax, dn.list_price",
        "CAST(sum(s.net_c) AS BIGINT) AS extended_price,"
        "CAST(sum(s.tax_c) AS BIGINT) AS extended_tax,"
        "CAST(sum(s.price_c) AS BIGINT) AS list_price",
        """s.d_dom BETWEEN 1 AND 2
          AND (s.hd_dep_count = 4 OR s.hd_vehicle_count = 3)
          AND s.d_year IN (1995, 1996, 1997)
          AND sn.n_regionkey IN (1, 2)""",
    ),
    doc="Reference: tpcds/q68.sql.",
)

# q69 — demographic counts for customers active in-store but absent from
# both other channels (EXISTS + two NOT EXISTS).
ds(
    "tpcds_q69",
    """
    SELECT c.c_mktsegment AS cd_gender,
           cast(floor(c.c_acctbal / 1000) AS BIGINT) AS cd_purchase_estimate,
           count(*) AS cnt1
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey IN (1, 3)
      AND EXISTS (SELECT 1 FROM sales s
                  WHERE s.o_custkey = c.c_custkey
                    AND s.d_year = 1995 AND s.d_moy BETWEEN 4 AND 6)
      AND NOT EXISTS (SELECT 1 FROM web w
                      WHERE w.o_custkey = c.c_custkey
                        AND w.d_year = 1995 AND w.d_moy BETWEEN 7 AND 9)
      AND NOT EXISTS (SELECT 1 FROM cat t
                      WHERE t.o_custkey = c.c_custkey
                        AND t.d_year = 1995 AND t.d_moy BETWEEN 7 AND 9)
    GROUP BY c.c_mktsegment, cast(floor(c.c_acctbal / 1000) AS BIGINT)
    ORDER BY cd_gender, cd_purchase_estimate
    LIMIT 100
    """,
    doc="Reference: tpcds/q69.sql (purchase estimate -> acctbal bucket; the NOT-EXISTS windows shifted a quarter because the channels here are slices of one fact, so same-window exclusion is unsatisfiable).",
)

# q70 — net-profit ROLLUP over (state, county) restricted to the top-5
# states by a windowed rank subquery.
ds(
    "tpcds_q70",
    """
    SELECT CAST(sum(s.net_c) AS BIGINT) AS total_sum, n.n_name AS s_state, st.s_name AS s_county,
           cast(grouping(n.n_name) + grouping(st.s_name) AS INT) AS lochierarchy,
           rank() OVER (
               PARTITION BY grouping(n.n_name) + grouping(st.s_name),
                            CASE WHEN grouping(st.s_name) = 0 THEN n.n_name END
               ORDER BY sum(s.net_c) DESC, n.n_name NULLS FIRST, st.s_name NULLS FIRST
           ) AS rank_within_parent
    FROM sales s
    JOIN supplier st ON s.l_suppkey = st.s_suppkey
    JOIN nation n ON st.s_nationkey = n.n_nationkey
    WHERE s.d_month_seq BETWEEN 23941 AND 23952
      AND n.n_name IN (
          SELECT s_state FROM (
              SELECT n2.n_name AS s_state,
                     rank() OVER (ORDER BY sum(s2.net_c) DESC, n2.n_name) AS ranking
              FROM sales s2
              JOIN supplier st2 ON s2.l_suppkey = st2.s_suppkey
              JOIN nation n2 ON st2.s_nationkey = n2.n_nationkey
              WHERE s2.d_month_seq BETWEEN 23941 AND 23952
              GROUP BY n2.n_name
          ) WHERE ranking <= 5)
    GROUP BY ROLLUP (n.n_name, st.s_name)
    ORDER BY lochierarchy DESC, s_state NULLS FIRST, rank_within_parent
    LIMIT 100
    """,
    doc="Reference: tpcds/q70.sql.",
)

# q71 — brand sales by pseudo time-of-day across all three channels.
ds(
    "tpcds_q71",
    """
    SELECT i.p_brand AS brand, u.t_hour,CAST(sum(u.net_c) AS BIGINT) AS ext_price
    FROM (
        SELECT l_partkey, net_c, t_hour FROM web WHERE d_moy = 11 AND d_year = 1995
        UNION ALL
        SELECT l_partkey, net_c, t_hour FROM cat WHERE d_moy = 11 AND d_year = 1995
        UNION ALL
        SELECT l_partkey, net_c, t_hour FROM sales WHERE d_moy = 11 AND d_year = 1995
    ) u
    JOIN part i ON u.l_partkey = i.p_partkey
    WHERE i.p_size = 28 AND (u.t_hour < 8 OR u.t_hour >= 19)
    GROUP BY i.p_brand, u.t_hour
    ORDER BY ext_price DESC, brand, u.t_hour
    """,
    doc="Reference: tpcds/q71.sql (AM/PM windows over the pseudo hour key).",
)

# q72 — catalog lines whose next-week inventory runs short, split by promo
# flag (inventory -> next-week fact slice on the same item).
ds(
    "tpcds_q72",
    """
    SELECT i.p_name AS i_item_desc, st.s_name AS w_warehouse_name, c.d_week_seq,CAST(sum(CASE WHEN c.o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
                    THEN 1 ELSE 0 END) AS BIGINT) AS no_promo,CAST(sum(CASE WHEN c.o_orderpriority NOT IN ('4-NOT SPECIFIED', '5-LOW')
                    THEN 1 ELSE 0 END) AS BIGINT) AS promo,
           count(*) AS total_cnt
    FROM cat c
    JOIN sales inv ON inv.l_partkey = c.l_partkey
                  AND inv.d_year = c.d_year
                  AND inv.d_week_seq = c.d_week_seq + 1
                  AND inv.qty < c.qty
    JOIN supplier st ON inv.l_suppkey = st.s_suppkey
    JOIN part i ON c.l_partkey = i.p_partkey
    WHERE c.d_year = 1995 AND c.hd_dep_count = 3
    GROUP BY i.p_name, st.s_name, c.d_week_seq
    ORDER BY total_cnt DESC, i_item_desc, w_warehouse_name, c.d_week_seq
    LIMIT 100
    """,
    doc="Reference: tpcds/q72.sql.",
)

# q73 — ticket line-count band 1..5 on start-of-month days (q34 sibling).
ds(
    "tpcds_q73",
    """
    SELECT c.c_name, c.c_mktsegment, dn.l_orderkey AS ticket_number, dn.cnt
    FROM (
        SELECT s.l_orderkey, s.o_custkey, count(*) AS cnt
        FROM sales s
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        WHERE s.d_dom BETWEEN 1 AND 2
          AND (s.o_orderpriority = '1-URGENT' OR s.o_orderpriority = '2-HIGH')
          AND s.hd_vehicle_count > 0
          AND (CASE WHEN s.hd_vehicle_count > 0
                    THEN CAST(s.hd_dep_count AS DOUBLE) / s.hd_vehicle_count
                    ELSE NULL END) > 1
          AND s.d_year IN (1995, 1996, 1997)
          AND st.s_nationkey IN (1, 2, 3, 4)
        GROUP BY s.l_orderkey, s.o_custkey
    ) dn
    JOIN customer c ON dn.o_custkey = c.c_custkey
    WHERE dn.cnt BETWEEN 1 AND 5
    ORDER BY dn.cnt DESC, c.c_name, ticket_number
    LIMIT 100
    """,
    doc="Reference: tpcds/q73.sql.",
)

# q74 — store-vs-web year-over-year growth comparison per customer
# (q11/q4 family, net-paid flavor).
ds(
    "tpcds_q74",
    ", " + year_growth_sql("sale_type", "net_c", 1996),
    doc="Reference: tpcds/q74.sql.",
)

# q75 — prior-year sales-count comparison per item dims, net of returns
# (UNION dedup across channels, self-join on year).
ds(
    "tpcds_q75",
    """
    , all_sales AS (
        SELECT d_year, i_brand_id, i_category_id,
               sum(sales_cnt) AS sales_cnt, sum(sales_amt) AS sales_amt
        FROM (
            SELECT c.d_year, i.p_brand AS i_brand_id, i.p_type AS i_category_id,
                   c.qty - CASE WHEN c.l_returnflag = 'R' THEN c.qty ELSE 0 END AS sales_cnt,
                   c.net_c - CASE WHEN c.l_returnflag = 'R' THEN c.net_c ELSE 0 END AS sales_amt
            FROM cat c JOIN part i ON c.l_partkey = i.p_partkey
            WHERE i.p_type = 'STANDARD'
            UNION
            SELECT w.d_year, i.p_brand, i.p_type,
                   w.qty - CASE WHEN w.l_returnflag = 'R' THEN w.qty ELSE 0 END,
                   w.net_c - CASE WHEN w.l_returnflag = 'R' THEN w.net_c ELSE 0 END
            FROM web w JOIN part i ON w.l_partkey = i.p_partkey
            WHERE i.p_type = 'STANDARD'
        ) sales_detail
        GROUP BY d_year, i_brand_id, i_category_id
    )
    SELECT prev_yr.d_year AS prev_year, curr_yr.d_year AS year_,
           curr_yr.i_brand_id, curr_yr.i_category_id,
           CAST(prev_yr.sales_cnt AS BIGINT) AS prev_yr_cnt, CAST(curr_yr.sales_cnt AS BIGINT) AS curr_yr_cnt,
           CAST(curr_yr.sales_cnt - prev_yr.sales_cnt AS BIGINT) AS sales_cnt_diff,
           CAST(curr_yr.sales_amt - prev_yr.sales_amt AS BIGINT) AS sales_amt_diff
    FROM all_sales curr_yr
    JOIN all_sales prev_yr ON curr_yr.i_brand_id = prev_yr.i_brand_id
                          AND curr_yr.i_category_id = prev_yr.i_category_id
    WHERE curr_yr.d_year = 1996 AND prev_yr.d_year = 1995
      AND CAST(curr_yr.sales_cnt AS DOUBLE) / prev_yr.sales_cnt < 0.9
    ORDER BY sales_cnt_diff, sales_amt_diff, curr_yr.i_brand_id, curr_yr.i_category_id
    LIMIT 100
    """,
    doc="Reference: tpcds/q75.sql.",
)

# q76 — sales rows with a NULL-ified dimension key per channel, unioned
# and counted (NULLIF keeps the IS NULL predicate shape on synthetic data).
ds(
    "tpcds_q76",
    """
    SELECT channel, col_name, d_year, d_qoy, i_category,
           count(*) AS sales_cnt,CAST(sum(ext_sales_c) AS BIGINT) AS sales_amt
    FROM (
        SELECT 'store' AS channel, 'ss_store_sk' AS col_name, s.d_year, s.d_qoy,
               i.p_type AS i_category, s.net_c AS ext_sales_c
        FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
        WHERE nullif(s.l_suppkey % 11, 0) IS NULL
        UNION ALL
        SELECT 'web' AS channel, 'ws_ship_customer_sk' AS col_name, w.d_year, w.d_qoy,
               i.p_type AS i_category, w.net_c AS ext_sales_c
        FROM web w JOIN part i ON w.l_partkey = i.p_partkey
        WHERE nullif(w.o_custkey % 13, 0) IS NULL
        UNION ALL
        SELECT 'catalog' AS channel, 'cs_ship_addr_sk' AS col_name, t.d_year, t.d_qoy,
               i.p_type AS i_category, t.net_c AS ext_sales_c
        FROM cat t JOIN part i ON t.l_partkey = i.p_partkey
        WHERE nullif(t.l_partkey % 17, 0) IS NULL
    ) foo
    GROUP BY channel, col_name, d_year, d_qoy, i_category
    ORDER BY channel, col_name, d_year, d_qoy, i_category
    LIMIT 100
    """,
    doc="Reference: tpcds/q76.sql.",
)

# q77 — per-channel sales vs returns in a 30-day window, FULL OUTER JOIN
# on the location key, ROLLUP totals.
ds(
    "tpcds_q77",
    """
    , ss AS (
        SELECT l_suppkey AS sk,CAST(sum(price_c) AS BIGINT) AS sales,CAST(sum(net_c) AS BIGINT) AS profit
        FROM sales
        WHERE o_orderdate BETWEEN TIMESTAMP '1995-08-03' AND TIMESTAMP '1995-09-02'
          AND l_returnflag <> 'R'
        GROUP BY l_suppkey
    ),
    sr AS (
        SELECT l_suppkey AS sk,CAST(sum(price_c) AS BIGINT) AS returns_, sum(net_c) AS profit_loss
        FROM ret
        WHERE o_orderdate BETWEEN TIMESTAMP '1995-08-03' AND TIMESTAMP '1995-09-02'
        GROUP BY l_suppkey
    ),
    ws AS (
        SELECT l_suppkey AS sk,CAST(sum(price_c) AS BIGINT) AS sales,CAST(sum(net_c) AS BIGINT) AS profit
        FROM web
        WHERE o_orderdate BETWEEN TIMESTAMP '1995-08-03' AND TIMESTAMP '1995-09-02'
          AND l_returnflag <> 'R'
        GROUP BY l_suppkey
    )
    SELECT channel, sk,CAST(sum(sales) AS BIGINT) AS sales,CAST(sum(returns_) AS BIGINT) AS returns_,CAST(sum(profit) AS BIGINT) AS profit
    FROM (
        SELECT 'store channel' AS channel, coalesce(ss.sk, sr.sk) AS sk,
               coalesce(ss.sales, 0) AS sales, coalesce(sr.returns_, 0) AS returns_,
               coalesce(ss.profit, 0) - coalesce(sr.profit_loss, 0) AS profit
        FROM ss FULL OUTER JOIN sr ON ss.sk = sr.sk
        UNION ALL
        SELECT 'web channel' AS channel, ws.sk, ws.sales, 0 AS returns_, ws.profit
        FROM ws
    ) x
    GROUP BY ROLLUP (channel, sk)
    ORDER BY channel NULLS FIRST, sk NULLS FIRST
    LIMIT 100
    """,
    doc="Reference: tpcds/q77.sql.",
)

# q78 — non-returned sales per (year, item, customer) across channels,
# web-to-store quantity ratio for customers active in both.
ds(
    "tpcds_q78",
    """
    , ws AS (
        SELECT d_year AS ws_sold_year, l_partkey, o_custkey,
               sum(qty) AS ws_qty, sum(net_c) AS ws_sp
        FROM web
        WHERE l_returnflag <> 'R'
        GROUP BY d_year, l_partkey, o_custkey
    ),
    ss AS (
        SELECT d_year AS ss_sold_year, l_partkey, o_custkey,CAST(sum(qty) AS BIGINT) AS ss_qty,CAST(sum(net_c) AS BIGINT) AS ss_sp
        FROM cat
        WHERE l_returnflag <> 'R'
        GROUP BY d_year, l_partkey, o_custkey
    )
    SELECT ss.ss_sold_year, ss.l_partkey, ss.o_custkey,
           round(CAST(coalesce(ws.ws_qty, 0) AS DOUBLE) / ss.ss_qty, 4) AS ratio,
           ss.ss_qty, ss.ss_sp, CAST(coalesce(ws.ws_qty, 0) AS BIGINT) AS other_chan_qty
    FROM ss
    LEFT JOIN ws ON ws.ws_sold_year = ss.ss_sold_year
                AND ws.l_partkey = ss.l_partkey AND ws.o_custkey = ss.o_custkey
    WHERE coalesce(ws.ws_qty, 0) > 0 AND ss.ss_sold_year = 1995
    ORDER BY ss.l_partkey, ss.ss_qty DESC, ss.ss_sp DESC, ss.o_custkey
    LIMIT 100
    """,
    doc="Reference: tpcds/q78.sql.",
)

# q79 — per-ticket coupon amount and profit for Monday shoppers of
# high-dependency households (q46 sibling).
ds(
    "tpcds_q79",
    """
    SELECT c.c_name, substr(dn.s_name, 1, 30) AS store, dn.l_orderkey AS ticket,
           dn.amt, dn.profit
    FROM (
        SELECT s.l_orderkey, s.o_custkey, st.s_name,CAST(sum(s.disc_c) AS BIGINT) AS amt,CAST(sum(s.net_c) AS BIGINT) AS profit
        FROM sales s
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        WHERE (s.hd_dep_count = 6 OR s.hd_vehicle_count > 2)
          AND s.d_dow = 2
          AND s.d_year IN (1995, 1996, 1997)
        GROUP BY s.l_orderkey, s.o_custkey, st.s_name
    ) dn
    JOIN customer c ON dn.o_custkey = c.c_custkey
    ORDER BY c.c_name, dn.profit DESC, ticket
    LIMIT 100
    """,
    doc="Reference: tpcds/q79.sql.",
)

# q80 — 30-day channel sales/returns/profit ROLLUP with item price and
# promo filters (returns via LEFT JOIN aggregate).
ds(
    "tpcds_q80",
    """
    , ssr AS (
        SELECT st.s_name AS store_id,CAST(sum(s.price_c) AS BIGINT) AS sales,CAST(sum(coalesce(r.ret_c, 0)) AS BIGINT) AS returns_,CAST(sum(s.net_c - coalesce(r.loss_c, 0)) AS BIGINT) AS profit
        FROM sales s
        LEFT JOIN (SELECT l_orderkey, l_partkey, sum(price_c) AS ret_c,
                          sum(net_c) AS loss_c
                   FROM ret GROUP BY l_orderkey, l_partkey) r
            ON s.l_orderkey = r.l_orderkey AND s.l_partkey = r.l_partkey
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        JOIN part i ON s.l_partkey = i.p_partkey
        WHERE s.o_orderdate BETWEEN TIMESTAMP '1995-08-03' AND TIMESTAMP '1995-09-02'
          AND i.p_retailprice > 950
          AND s.o_orderpriority <> '1-URGENT'
        GROUP BY st.s_name
    ),
    wsr AS (
        SELECT st.s_name AS store_id,CAST(sum(w.price_c) AS BIGINT) AS sales,CAST(sum(CASE WHEN w.l_returnflag = 'R' THEN w.price_c ELSE 0 END) AS BIGINT) AS returns_,CAST(sum(w.net_c) AS BIGINT) AS profit
        FROM web w
        JOIN supplier st ON w.l_suppkey = st.s_suppkey
        JOIN part i ON w.l_partkey = i.p_partkey
        WHERE w.o_orderdate BETWEEN TIMESTAMP '1995-08-03' AND TIMESTAMP '1995-09-02'
          AND i.p_retailprice > 950
          AND w.o_orderpriority <> '1-URGENT'
        GROUP BY st.s_name
    )
    SELECT channel, store_id,CAST(sum(sales) AS BIGINT) AS sales,CAST(sum(returns_) AS BIGINT) AS returns_,CAST(sum(profit) AS BIGINT) AS profit
    FROM (
        SELECT 'store channel' AS channel, * FROM ssr
        UNION ALL
        SELECT 'web channel' AS channel, * FROM wsr
    )
    GROUP BY ROLLUP (channel, store_id)
    ORDER BY channel NULLS FIRST, store_id NULLS FIRST
    LIMIT 100
    """,
    doc="Reference: tpcds/q80.sql.",
)

# q81 — catalog returners above 1.2x their state's average return total,
# with customer attributes (q30's catalog twin).
ds(
    "tpcds_q81",
    """
    , customer_total_return AS (
        SELECT r.o_custkey AS ctr_customer_sk, c.c_nationkey AS ctr_state,CAST(sum(r.price_c) AS BIGINT) AS ctr_total_return
        FROM ret r JOIN customer c ON r.o_custkey = c.c_custkey
        WHERE r.d_year = 1995 AND r.l_linenumber % 2 = 1
        GROUP BY r.o_custkey, c.c_nationkey
    )
    SELECT c.c_name, c.c_mktsegment, c.c_acctbal, n.n_name AS ca_state,
           ctr1.ctr_total_return
    FROM customer_total_return ctr1
    JOIN customer c ON ctr1.ctr_customer_sk = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE ctr1.ctr_total_return > (
            SELECT avg(ctr_total_return) * 1.2
            FROM customer_total_return ctr2
            WHERE ctr1.ctr_state = ctr2.ctr_state)
    ORDER BY c.c_name, c.c_mktsegment, c.c_acctbal, ctr1.ctr_total_return
    LIMIT 100
    """,
    doc="Reference: tpcds/q81.sql.",
)

# q82 — q37's store twin.
ds(
    "tpcds_q82",
    item_stock_sql(
        "sales",
        "ss",
        """i.p_retailprice BETWEEN 950 AND 999
      AND i.p_brand IN ('Brand#2', 'Brand#6', 'Brand#10', 'Brand#14')
      AND inv.o_orderdate BETWEEN TIMESTAMP '1995-05-25' AND TIMESTAMP '1995-07-24'""",
    ),
    doc="Reference: tpcds/q82.sql.",
)

# q83 — returned quantity per item across the three channels in matching
# ISO weeks, with share-of-total ratios.
ds(
    "tpcds_q83",
    """
    , sr_items AS (
        SELECT l_partkey AS item_id,CAST(sum(qty) AS BIGINT) AS sr_item_qty
        FROM ret
        WHERE d_week_seq IN (26, 39, 46) AND d_year = 1995
        GROUP BY l_partkey
    ),
    cr_items AS (
        SELECT l_partkey AS item_id,CAST(sum(qty) AS BIGINT) AS cr_item_qty
        FROM ret
        WHERE d_week_seq IN (26, 39, 46) AND d_year = 1995 AND l_linenumber % 2 = 1
        GROUP BY l_partkey
    ),
    wr_items AS (
        SELECT l_partkey AS item_id,CAST(sum(qty) AS BIGINT) AS wr_item_qty
        FROM ret
        WHERE d_week_seq IN (26, 39, 46) AND d_year = 1995 AND l_linenumber % 2 = 0
        GROUP BY l_partkey
    )
    SELECT s.item_id, s.sr_item_qty,
           round(CAST(s.sr_item_qty AS DOUBLE)
                 / (s.sr_item_qty + c.cr_item_qty + w.wr_item_qty) / 3.0 * 100, 4)
               AS sr_dev,
           c.cr_item_qty, w.wr_item_qty,
           round(CAST(s.sr_item_qty + c.cr_item_qty + w.wr_item_qty AS DOUBLE) / 3.0, 4)
               AS average
    FROM sr_items s
    JOIN cr_items c ON s.item_id = c.item_id
    JOIN wr_items w ON s.item_id = w.item_id
    ORDER BY s.sr_item_qty, s.item_id
    LIMIT 100
    """,
    doc="Reference: tpcds/q83.sql.",
)

# q84 — customers in a city/income band with a store return (chain of dim
# joins, concatenated display name).
ds(
    "tpcds_q84",
    """
    SELECT c.c_custkey AS customer_id,
           c.c_name || ' (' || c.c_mktsegment || ')' AS customername
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND c.c_acctbal BETWEEN 3000 AND 8000
      AND EXISTS (SELECT 1 FROM ret r WHERE r.o_custkey = c.c_custkey)
    ORDER BY customer_id
    LIMIT 100
    """,
    doc="Reference: tpcds/q84.sql (income band -> acctbal band).",
)

# q85 — web-return reason statistics under demographic x price and
# geography x profit OR-arm filters.
ds(
    "tpcds_q85",
    """
    SELECT substr(r.o_orderpriority, 1, 20) AS reason,
           CAST(CAST(floor(sum(r.qty) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS avg_quantity,
           CAST(CAST(floor(sum(r.price_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS avg_refunded,
           CAST(CAST(floor(sum(r.tax_c) * 1.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 100.0 AS avg_fee
    FROM ret r
    JOIN customer c ON r.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE r.l_linenumber % 2 = 0 AND r.d_year = 1995
      AND ((c.c_mktsegment = 'BUILDING' AND r.o_totalprice BETWEEN 50000 AND 200000)
           OR (c.c_mktsegment = 'MACHINERY' AND r.o_totalprice BETWEEN 100000 AND 300000)
           OR (c.c_mktsegment = 'FURNITURE' AND r.o_totalprice BETWEEN 150000 AND 400000))
      AND ((n.n_regionkey IN (0, 1) AND r.net_c BETWEEN 10000 AND 2000000)
           OR (n.n_regionkey IN (2, 3) AND r.net_c BETWEEN 5000 AND 3000000)
           OR (n.n_regionkey IN (4) AND r.net_c BETWEEN 2000 AND 2500000))
    GROUP BY substr(r.o_orderpriority, 1, 20)
    ORDER BY reason
    LIMIT 100
    """,
    doc="Reference: tpcds/q85.sql (reason -> order priority).",
)

# q86 — q36's web twin: ROLLUP net-paid with GROUPING() hierarchy rank.
ds(
    "tpcds_q86",
    """
    SELECT CAST(sum(w.net_c) AS BIGINT) AS total_sum, i.p_type AS i_category, i.p_brand AS i_class,
           cast(grouping(i.p_type) + grouping(i.p_brand) AS INT) AS lochierarchy,
           rank() OVER (
               PARTITION BY grouping(i.p_type) + grouping(i.p_brand),
                            CASE WHEN grouping(i.p_brand) = 0 THEN i.p_type END
               ORDER BY sum(w.net_c) DESC, i.p_type NULLS FIRST, i.p_brand NULLS FIRST
           ) AS rank_within_parent
    FROM web w JOIN part i ON w.l_partkey = i.p_partkey
    WHERE w.d_month_seq BETWEEN 23941 AND 23952
    GROUP BY ROLLUP (i.p_type, i.p_brand)
    ORDER BY lochierarchy DESC, i_category NULLS FIRST, rank_within_parent
    LIMIT 100
    """,
    doc="Reference: tpcds/q86.sql.",
)

# q87 — customers in-store but not in catalog, less web (chained EXCEPT).
ds(
    "tpcds_q87",
    """
    SELECT count(*) AS cnt
    FROM (
        (SELECT DISTINCT c.c_name, s.o_orderdate
         FROM sales s JOIN customer c ON s.o_custkey = c.c_custkey
         WHERE s.d_month_seq BETWEEN 23941 AND 23952)
        EXCEPT
        (SELECT DISTINCT c.c_name, w.o_orderdate
         FROM cat w JOIN customer c ON w.o_custkey = c.c_custkey
         WHERE w.d_month_seq BETWEEN 23941 AND 23952)
        EXCEPT
        (SELECT DISTINCT c.c_name, w.o_orderdate
         FROM web w JOIN customer c ON w.o_custkey = c.c_custkey
         WHERE w.d_month_seq BETWEEN 23941 AND 23952)
    ) cool_cust
    """,
    doc="Reference: tpcds/q87.sql.",
)

# q88 — eight pseudo-hour-band counts cross-joined into one row.
ds(
    "tpcds_q88",
    """
    SELECT h1.c AS h8_30, h2.c AS h9_00, h3.c AS h9_30, h4.c AS h10_00,
           h5.c AS h10_30, h6.c AS h11_00, h7.c AS h11_30, h8.c AS h12_00
    FROM
    (SELECT count(*) AS c FROM sales WHERE t_hour = 8 AND t_minute >= 30
       AND (hd_dep_count = 4 OR hd_vehicle_count <= 2)) h1,
    (SELECT count(*) AS c FROM sales WHERE t_hour = 9 AND t_minute < 30
       AND (hd_dep_count = 4 OR hd_vehicle_count <= 2)) h2,
    (SELECT count(*) AS c FROM sales WHERE t_hour = 9 AND t_minute >= 30
       AND (hd_dep_count = 4 OR hd_vehicle_count <= 2)) h3,
    (SELECT count(*) AS c FROM sales WHERE t_hour = 10 AND t_minute < 30
       AND (hd_dep_count = 4 OR hd_vehicle_count <= 2)) h4,
    (SELECT count(*) AS c FROM sales WHERE t_hour = 10 AND t_minute >= 30
       AND (hd_dep_count = 4 OR hd_vehicle_count <= 2)) h5,
    (SELECT count(*) AS c FROM sales WHERE t_hour = 11 AND t_minute < 30
       AND (hd_dep_count = 4 OR hd_vehicle_count <= 2)) h6,
    (SELECT count(*) AS c FROM sales WHERE t_hour = 11 AND t_minute >= 30
       AND (hd_dep_count = 4 OR hd_vehicle_count <= 2)) h7,
    (SELECT count(*) AS c FROM sales WHERE t_hour = 12 AND t_minute < 30
       AND (hd_dep_count = 4 OR hd_vehicle_count <= 2)) h8
    """,
    doc="Reference: tpcds/q88.sql.",
)

# q89 — monthly class sales vs the all-store average per class (deviation
# filter, no rank).
ds(
    "tpcds_q89",
    """
    SELECT *
    FROM (
        SELECT i.p_type AS i_category, i.p_brand AS i_brand, st.s_name, s.d_moy,CAST(sum(s.price_c) AS BIGINT) AS sum_sales,
               avg(sum(s.price_c)) OVER (
                   PARTITION BY i.p_type, i.p_brand, st.s_name
               ) AS avg_monthly_sales
        FROM sales s
        JOIN part i ON s.l_partkey = i.p_partkey
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        WHERE s.d_year = 1995
          AND ((i.p_type IN ('STANDARD', 'ECONOMY', 'PROMO') AND i.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3'))
               OR (i.p_type IN ('MEDIUM', 'LARGE', 'SMALL') AND i.p_brand IN ('Brand#4', 'Brand#5', 'Brand#6')))
        GROUP BY i.p_type, i.p_brand, st.s_name, s.d_moy
    )
    WHERE CASE WHEN avg_monthly_sales <> 0
               THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
               ELSE NULL END > 0.1
    ORDER BY sum_sales - avg_monthly_sales, s_name, i_category, i_brand, d_moy
    LIMIT 100
    """,
    doc="Reference: tpcds/q89.sql.",
)

# q90 — AM/PM order-count ratio from two scalar arms.
ds(
    "tpcds_q90",
    """
    SELECT round(CAST(amc.c AS DOUBLE) / nullif(pmc.c, 0), 6) AS am_pm_ratio
    FROM (SELECT count(*) AS c FROM web
          WHERE t_hour BETWEEN 8 AND 9 AND hd_dep_count = 6
            AND o_totalprice BETWEEN 50000 AND 300000) amc,
         (SELECT count(*) AS c FROM web
          WHERE t_hour BETWEEN 19 AND 20 AND hd_dep_count = 6
            AND o_totalprice BETWEEN 50000 AND 300000) pmc
    """,
    doc="Reference: tpcds/q90.sql (web-page char band -> order price band).",
)

# q91 — call-center return losses by manager under demographic arms.
ds(
    "tpcds_q91",
    """
    SELECT n.n_name AS call_center, r.o_orderpriority AS manager,CAST(sum(r.net_c) AS BIGINT) AS returns_loss
    FROM ret r
    JOIN supplier st ON r.l_suppkey = st.s_suppkey
    JOIN nation n ON st.s_nationkey = n.n_nationkey
    JOIN customer c ON r.o_custkey = c.c_custkey
    WHERE r.l_linenumber % 2 = 1
      AND r.d_year = 1995 AND r.d_moy = 11
      AND ((c.c_mktsegment = 'MACHINERY' AND c.c_acctbal < 5000)
           OR (c.c_mktsegment = 'HOUSEHOLD' AND c.c_acctbal >= 5000))
    GROUP BY n.n_name, r.o_orderpriority
    ORDER BY returns_loss DESC, call_center, manager
    """,
    doc="Reference: tpcds/q91.sql.",
)

# q92 — q32's web twin (excess discount with correlated 1.3x average).
ds(
    "tpcds_q92",
    """
    SELECT round(CAST(sum(w.disc_c) AS DOUBLE) / 100.0, 2) AS excess_discount_amount
    FROM web w JOIN part i ON w.l_partkey = i.p_partkey
    WHERE i.p_size = 15
      AND w.o_orderdate BETWEEN TIMESTAMP '1995-01-27' AND TIMESTAMP '1995-04-27'
      AND w.disc_c > (
            SELECT 1.3 * avg(w2.disc_c)
            FROM web w2
            WHERE w2.l_partkey = w.l_partkey
              AND w2.o_orderdate BETWEEN TIMESTAMP '1995-01-27' AND TIMESTAMP '1995-04-27')
    """,
    doc="Reference: tpcds/q92.sql.",
)

# q93 — actual sales after subtracting same-order return lines for a
# reason slice.
ds(
    "tpcds_q93",
    """
    SELECT t.o_custkey,CAST(sum(t.act_sales_c) AS BIGINT) AS sumsales
    FROM (
        SELECT s.o_custkey,
               CASE WHEN r.qty IS NOT NULL
                    THEN (s.qty - least(r.qty, s.qty)) * s.price_c / greatest(s.qty, 1)
                    ELSE s.net_c END AS act_sales_c
        FROM sales s
        LEFT JOIN (SELECT l_orderkey, l_partkey, hd_dep_count, sum(qty) AS qty
                   FROM ret GROUP BY l_orderkey, l_partkey, hd_dep_count) r
            ON r.l_orderkey = s.l_orderkey AND r.l_partkey = s.l_partkey
           AND r.hd_dep_count = 3
        WHERE s.l_returnflag <> 'R'
    ) t
    GROUP BY t.o_custkey
    ORDER BY sumsales, t.o_custkey
    LIMIT 100
    """,
    doc="Reference: tpcds/q93.sql (reason -> derived household key).",
)

# q94 — web orders shipped from multiple suppliers with no returned line
# (EXISTS + NOT EXISTS over the same fact).
ds(
    "tpcds_q94",
    """
    SELECT count(DISTINCT w1.l_orderkey) AS order_count,
           round(CAST(sum(w1.price_c) AS DOUBLE) / 100.0, 2) AS total_shipping_cost,
           round(CAST(sum(w1.net_c) AS DOUBLE) / 100.0, 2) AS total_net_profit
    FROM web w1
    JOIN customer c ON w1.o_custkey = c.c_custkey
    WHERE w1.o_orderdate BETWEEN TIMESTAMP '1995-02-01' AND TIMESTAMP '1995-04-02'
      AND c.c_nationkey = 7
      AND EXISTS (SELECT 1 FROM web w2
                  WHERE w1.l_orderkey = w2.l_orderkey
                    AND w1.l_suppkey <> w2.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM ret r
                      WHERE w1.l_orderkey = r.l_orderkey
                        AND r.l_linenumber % 2 = 0)
    """,
    doc="Reference: tpcds/q94.sql.",
)

# q95 — q94 with both sides drawn from a multi-warehouse order CTE
# (IN-subqueries against ws_wh).
ds(
    "tpcds_q95",
    """
    , ws_wh AS (
        SELECT w1.l_orderkey
        FROM web w1 JOIN web w2 ON w1.l_orderkey = w2.l_orderkey
        WHERE w1.l_suppkey <> w2.l_suppkey
    )
    SELECT count(DISTINCT w1.l_orderkey) AS order_count,
           round(CAST(sum(w1.price_c) AS DOUBLE) / 100.0, 2) AS total_shipping_cost,
           round(CAST(sum(w1.net_c) AS DOUBLE) / 100.0, 2) AS total_net_profit
    FROM web w1
    JOIN customer c ON w1.o_custkey = c.c_custkey
    WHERE w1.o_orderdate BETWEEN TIMESTAMP '1995-02-01' AND TIMESTAMP '1995-04-02'
      AND c.c_nationkey IN (5, 6, 7)
      AND w1.l_orderkey IN (SELECT l_orderkey FROM ws_wh)
      AND w1.l_orderkey IN (SELECT r.l_orderkey FROM ret r
                            WHERE r.l_orderkey IN (SELECT l_orderkey FROM ws_wh))
    """,
    doc="Reference: tpcds/q95.sql.",
)

# q96 — single filtered count ordered by itself.
ds(
    "tpcds_q96",
    """
    SELECT count(*) AS cnt
    FROM sales s JOIN supplier st ON s.l_suppkey = st.s_suppkey
    WHERE s.t_hour = 20 AND s.t_minute >= 30 AND s.hd_dep_count = 7
      AND st.s_nationkey = 1
    """,
    doc="Reference: tpcds/q96.sql.",
)

# q97 — store/catalog customer-item overlap via FULL OUTER JOIN of two
# grouped CTEs.
ds(
    "tpcds_q97",
    """
    , ssci AS (
        SELECT o_custkey AS customer_sk, l_partkey AS item_sk
        FROM sales
        WHERE d_month_seq BETWEEN 23941 AND 23952
        GROUP BY o_custkey, l_partkey
    ),
    csci AS (
        SELECT o_custkey AS customer_sk, l_partkey AS item_sk
        FROM cat
        WHERE d_month_seq BETWEEN 23941 AND 23952
        GROUP BY o_custkey, l_partkey
    )
    SELECT CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS store_only,CAST(sum(CASE WHEN ssci.customer_sk IS NULL AND csci.customer_sk IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
    FROM ssci
    FULL OUTER JOIN csci ON ssci.customer_sk = csci.customer_sk
                        AND ssci.item_sk = csci.item_sk
    """,
    doc="Reference: tpcds/q97.sql.",
)

# q98 — item revenue share within class for a 30-day window (q12's store
# twin with full item attributes).
ds(
    "tpcds_q98",
    """
    SELECT i_item_id, i_category, i_class, i_current_price, itemrevenue,CAST(round(itemrevenue * 100.0
                 / sum(itemrevenue) OVER (PARTITION BY i_class), 4) AS DOUBLE) AS revenueratio
    FROM (
        SELECT i.p_name AS i_item_id, i.p_type AS i_category, i.p_brand AS i_class,
               i.p_retailprice AS i_current_price,CAST(sum(s.net_c) AS BIGINT) AS itemrevenue
        FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
        WHERE i.p_type IN ('STANDARD', 'ECONOMY', 'PROMO')
          AND s.o_orderdate BETWEEN TIMESTAMP '1995-02-22' AND TIMESTAMP '1995-03-24'
        GROUP BY i.p_name, i.p_type, i.p_brand, i.p_retailprice
    )
    ORDER BY i_category, i_class, i_item_id, revenueratio
    """,
    doc="Reference: tpcds/q98.sql.",
)

# q99 — catalog ship-latency buckets by warehouse/ship-mode/call-center.
ds(
    "tpcds_q99",
    """
    SELECT substr(st.s_name, 1, 20) AS warehouse, c.l_linestatus AS sm_type,
           n.n_name AS cc_name,CAST(sum(CASE WHEN c.ship_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,CAST(sum(CASE WHEN c.ship_days > 30 AND c.ship_days <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,CAST(sum(CASE WHEN c.ship_days > 60 AND c.ship_days <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,CAST(sum(CASE WHEN c.ship_days > 90 AND c.ship_days <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,CAST(sum(CASE WHEN c.ship_days > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120plus
    FROM cat c
    JOIN supplier st ON c.l_suppkey = st.s_suppkey
    JOIN nation n ON st.s_nationkey = n.n_nationkey
    WHERE c.d_month_seq BETWEEN 23941 AND 23952
    GROUP BY substr(st.s_name, 1, 20), c.l_linestatus, n.n_name
    ORDER BY warehouse, sm_type, cc_name
    LIMIT 100
    """,
    doc="Reference: tpcds/q99.sql.",
)


# --- the four _2 variants (reference ships 103 files: q14_2/q23_2/q24_2/
#     q39_2 are distinct query shapes over the same CTE families) ----------

# q14_2 — items whose (brand,class)-style key appears in ALL channels
# (INTERSECT over dimension tuples), then per-channel weekly sales of
# those items. Reference: tpcds/q14_2.sql.
ds(
    "tpcds_q14b",
    """
    , key_tuples AS (
        SELECT i.p_brand, i.p_type
        FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
        WHERE s.d_year BETWEEN 1995 AND 1997
        INTERSECT
        SELECT i.p_brand, i.p_type
        FROM cat c JOIN part i ON c.l_partkey = i.p_partkey
        WHERE c.d_year BETWEEN 1995 AND 1997
        INTERSECT
        SELECT i.p_brand, i.p_type
        FROM web w JOIN part i ON w.l_partkey = i.p_partkey
        WHERE w.d_year BETWEEN 1995 AND 1997
    ),
    cross_items AS (
        SELECT p.p_partkey AS ss_item_sk
        FROM part p
        JOIN key_tuples k ON p.p_brand = k.p_brand AND p.p_type = k.p_type
    )
    SELECT s.d_week_seq,CAST(sum(s.net_c) AS BIGINT) AS sales, count(*) AS number_sales
    FROM sales s
    WHERE s.l_partkey IN (SELECT ss_item_sk FROM cross_items)
      AND s.d_year = 1996 AND s.d_moy = 6
    GROUP BY s.d_week_seq
    ORDER BY s.d_week_seq
    """,
    doc="Reference: tpcds/q14_2.sql (brand/class tuple INTERSECT across "
    "all three channels).",
)

# q23_2 — best customers' cross-channel purchases of frequent items,
# reported per customer (the _1 variant reports the global total).
ds(
    "tpcds_q23b",
    """
    , frequent_ss_items AS (
        SELECT l_partkey AS item_sk
        FROM sales WHERE d_year BETWEEN 1995 AND 1998
        GROUP BY l_partkey HAVING count(*) > 2
    ),
    best_ss_customer AS (
        SELECT o_custkey AS c_sk, sum(price_c) AS ssales
        FROM sales GROUP BY o_custkey
        HAVING sum(price_c) > 0.5 * (
            SELECT max(csales) FROM (
                SELECT sum(price_c) AS csales FROM sales GROUP BY o_custkey))
    )
    SELECT c.c_name,CAST(sum(u.price_c) AS BIGINT) AS sales
    FROM (
        SELECT o_custkey, price_c FROM web
        WHERE d_year = 1996
          AND l_partkey IN (SELECT item_sk FROM frequent_ss_items)
          AND o_custkey IN (SELECT c_sk FROM best_ss_customer)
        UNION ALL
        SELECT o_custkey, price_c FROM cat
        WHERE d_year = 1996
          AND l_partkey IN (SELECT item_sk FROM frequent_ss_items)
          AND o_custkey IN (SELECT c_sk FROM best_ss_customer)
    ) u
    JOIN customer c ON u.o_custkey = c.c_custkey
    GROUP BY c.c_name
    ORDER BY sales DESC, c.c_name
    LIMIT 100
    """,
    doc="Reference: tpcds/q23_2.sql (per-customer breakdown).",
)

# q24_2 — same-geography returns chain filtered to one item attribute
# (color -> p_type slice; the _1 variant is unfiltered).
ds(
    "tpcds_q24b",
    """
    , ssales AS (
        SELECT c.c_name, st.s_name, i.p_type,CAST(sum(s.net_c) AS BIGINT) AS netpaid
        FROM sales s
        JOIN customer c ON s.o_custkey = c.c_custkey
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        JOIN part i ON s.l_partkey = i.p_partkey
        WHERE s.l_returnflag = 'R' AND c.c_nationkey = st.s_nationkey
        GROUP BY c.c_name, st.s_name, i.p_type
    )
    SELECT c_name, s_name, netpaid
    FROM ssales
    WHERE p_type = 'ECONOMY'
      AND netpaid > (SELECT 0.05 * avg(netpaid) FROM ssales)
    ORDER BY c_name, s_name
    LIMIT 100
    """,
    doc="Reference: tpcds/q24_2.sql (color slice -> p_type slice).",
)

# q39_2 — the q39 shape with the tighter cov > 1.5 threshold on BOTH
# months (the _1 variant thresholds only the first).
ds(
    "tpcds_q39b",
    inv_cov_sql(0.3)
    + """
      AND i2.cov > 0.3
    ORDER BY w1, i1_item, moy1
    """,
    doc="Reference: tpcds/q39_2.sql (cov threshold on both months; 0.3 at "
    "this data's variance profile).",
)
