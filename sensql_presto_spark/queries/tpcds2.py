"""Adapted TPC-DS q31-q65 over the driver's simplified star schema.

Continues ``queries/tpcds.py`` (same schema mapping, same determinism
discipline: exact integer cents before aggregation, ratios dividing exact
sums then rounding, total orders before LIMIT). Reference shapes:
``presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/q31..q65.sql``.

Extra dimension mappings introduced here (all derived deterministically so
the same expression evaluates identically on Spark and DuckDB):

    d_dom / d_dow        -> day()/dayofweek() of o_orderdate (dow numbering
                            differs by one between engines -> dialect slot)
    d_week_seq           -> weekofyear(o_orderdate) (ISO in both engines)
    d_month_seq          -> d_year*12 + d_moy
    ship latency (days)  -> datediff(o_orderdate .. l_shipdate) (dialect slot)
    time_dim t_hour/min  -> l_orderkey % 24 / l_partkey % 60 (pseudo time-of-
                            day keys; the testdata has no time dimension)
    household_demo       -> hd_dep_count = l_orderkey % 10,
                            hd_vehicle_count = l_partkey % 5
    i_category           -> p_type (single-word in the testdata)
    i_manufact/manager   -> p_brand / p_size
"""

from __future__ import annotations

from sensql_presto_spark.queries.relational import _sql_query

# Fact CTE with the full derived-dimension surface. {DOW}/{SHIPDAYS} are the
# only dialect-specific expressions; everything downstream is shared text.
_FACT_T = """
    sales AS (
        SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
               l.l_quantity, l.l_extendedprice, l.l_discount, l.l_returnflag,
               l.l_linestatus,
               cast(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
               cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT) AS net_c,
               cast(floor(l.l_extendedprice * l.l_discount * 100 + 0.5) AS BIGINT) AS disc_c,
               cast(floor(l.l_extendedprice * l.l_tax * 100 + 0.5) AS BIGINT) AS tax_c,
               cast(l.l_quantity AS BIGINT) AS qty,
               o.o_custkey, o.o_orderdate, o.o_orderpriority, o.o_totalprice,
               year(o.o_orderdate) AS d_year,
               month(o.o_orderdate) AS d_moy,
               quarter(o.o_orderdate) AS d_qoy,
               day(o.o_orderdate) AS d_dom,
               weekofyear(o.o_orderdate) AS d_week_seq,
               year(o.o_orderdate) * 12 + month(o.o_orderdate) AS d_month_seq,
               {DOW} AS d_dow,
               {SHIPDAYS} AS ship_days,
               cast(l.l_orderkey % 24 AS INT) AS t_hour,
               cast(l.l_partkey % 60 AS INT) AS t_minute,
               cast(l.l_orderkey % 10 AS INT) AS hd_dep_count,
               cast(l.l_partkey % 5 AS INT) AS hd_vehicle_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    web AS (SELECT * FROM sales WHERE l_linenumber % 2 = 0),
    cat AS (SELECT * FROM sales WHERE l_linenumber % 2 = 1),
    ret AS (SELECT * FROM sales WHERE l_returnflag = 'R')
"""

FACT_SPARK = _FACT_T.format(
    DOW="dayofweek(o.o_orderdate)",
    SHIPDAYS="cast(datediff(l.l_shipdate, o.o_orderdate) AS INT)",
)
FACT_DUCK = _FACT_T.format(
    DOW="dayofweek(o.o_orderdate) + 1",
    SHIPDAYS="cast(datediff('day', o.o_orderdate, l.l_shipdate) AS INT)",
)


def ds(name: str, body: str, doc: str = "", bench: bool = False):
    """Register a TPC-DS adaptation; `body` follows the shared fact CTEs."""
    _sql_query(
        name,
        "WITH " + FACT_SPARK + body,
        oracle="WITH " + FACT_DUCK + body,
        tags=("tpcds",),
        doc=doc,
        bench=bench,
    )


def inv_cov_sql(cov: float) -> str:
    """q39's and q39b's monthly inventory coefficient of variation per
    warehouse and item, months 1 and 2 of 1995 side by side, keeping month-1
    rows whose variation exceeds ``cov``; the caller adds its ORDER BY."""
    return f"""
    , inv AS (
        SELECT n.n_name AS w_warehouse_name, i.p_brand AS item_id, s.d_moy,
               count(*) AS n, sum(s.qty) AS s1, sum(s.qty * s.qty) AS s2
        FROM sales s
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        JOIN nation n ON st.s_nationkey = n.n_nationkey
        JOIN part i ON s.l_partkey = i.p_partkey
        WHERE s.d_year = 1995
        GROUP BY n.n_name, i.p_brand, s.d_moy
        HAVING count(*) > 1
    ),
    invcov AS (
        SELECT w_warehouse_name, item_id, d_moy,
               round(CAST(s1 AS DOUBLE) / n, 4) AS mean,
               round(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                     / (CAST(s1 AS DOUBLE) / n), 4) AS cov
        FROM inv
        WHERE CAST(s1 AS DOUBLE) / n > 0
          AND sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
              / (CAST(s1 AS DOUBLE) / n) > {cov}
    )
    SELECT i1.w_warehouse_name AS w1, i1.item_id AS i1_item, i1.d_moy AS moy1,
           i1.mean AS mean1, i1.cov AS cov1,
           i2.d_moy AS moy2, i2.mean AS mean2, i2.cov AS cov2
    FROM invcov i1
    JOIN invcov i2 ON i1.item_id = i2.item_id
                  AND i1.w_warehouse_name = i2.w_warehouse_name
    WHERE i1.d_moy = 1 AND i2.d_moy = 2
    """


def item_stock_sql(channel: str, alias: str, where: str) -> str:
    """q37's and q82's items with 10-50 units in a dated slice of the fact
    (the inventory stand-in) that also sold through ``channel``; ``where``
    picks the price band, brands and dates."""
    return f"""
    SELECT i.p_name AS i_item_id, i.p_type AS i_item_desc, i.p_retailprice AS i_current_price
    FROM part i
    JOIN sales inv ON inv.l_partkey = i.p_partkey
    JOIN {channel} {alias} ON {alias}.l_partkey = i.p_partkey
    WHERE {where}
      AND inv.qty BETWEEN 10 AND 50
    GROUP BY i.p_name, i.p_type, i.p_retailprice
    -- full group-key tiebreak: the reference orders by i_item_id
    -- alone, but duplicate item ids at the LIMIT boundary make the
    -- cut engine-dependent at larger SFs (caught by the sf0.1
    -- differential sweep)
    ORDER BY i_item_id, i_item_desc, i_current_price
    LIMIT 100
    """


def away_tickets_sql(cols: str, sums: str, where: str) -> str:
    """q46's and q68's store tickets matching ``where`` bought in a city
    (the supplier's nation) other than the customer's home nation: per
    ticket the aggregates ``sums`` (the text after ``bought_city,``),
    output as ``cols``."""
    return f"""
    SELECT c.c_name, hn.n_name AS home_city, dn.bought_city, dn.l_orderkey AS ticket,
           {cols}
    FROM (
        SELECT s.l_orderkey, s.o_custkey, sn.n_name AS bought_city,{sums}
        FROM sales s
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        JOIN nation sn ON st.s_nationkey = sn.n_nationkey
        WHERE {where}
        GROUP BY s.l_orderkey, s.o_custkey, sn.n_name
    ) dn
    JOIN customer c ON dn.o_custkey = c.c_custkey
    JOIN nation hn ON c.c_nationkey = hn.n_nationkey
    WHERE dn.bought_city <> hn.n_name
    ORDER BY c.c_name, dn.bought_city, ticket
    LIMIT 100
    """


def channel_items_sql(items: str, moy: int, region: int, order: str) -> str:
    """q56's and q60's net sales of the ``items`` products in month ``moy``
    of 1995 to customers of region ``region``, summed over the store,
    catalog and web channels."""

    def leg(cte: str, rel: str, a: str) -> str:
        return f"""{cte} AS (
            SELECT i.p_name AS i_item_id,CAST(sum({a}.net_c) AS BIGINT) AS total_sales
            FROM {rel} {a}
            JOIN part i ON {a}.l_partkey = i.p_partkey
            JOIN customer c ON {a}.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE i.p_name IN (SELECT p_name FROM part WHERE {items})
              AND {a}.d_year = 1995 AND {a}.d_moy = {moy} AND n.n_regionkey = {region}
            GROUP BY i.p_name
        )"""

    return f"""
    , {leg("ss", "sales", "s")},
    {leg("cs", "cat", "w")},
    {leg("ws", "web", "w")}
    SELECT i_item_id,CAST(sum(total_sales) AS BIGINT) AS total_sales
    FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws)
    GROUP BY i_item_id
    ORDER BY {order}
    LIMIT 100
    """


# q31 — county-level quarter-over-quarter growth, store vs web channels
# (two grouped CTEs, 6-way self-join, growth-rate comparison filters).
ds(
    "tpcds_q31",
    """
    , ss AS (
        SELECT n.n_name AS ca_county, s.d_qoy, s.d_year, sum(s.net_c) AS store_sales
        FROM sales s
        JOIN customer c ON s.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, s.d_qoy, s.d_year
    ),
    ws AS (
        SELECT n.n_name AS ca_county, w.d_qoy, w.d_year, sum(w.net_c) AS web_sales
        FROM web w
        JOIN customer c ON w.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, w.d_qoy, w.d_year
    )
    SELECT ss1.ca_county, ss1.d_year,
           round(CAST(ws2.web_sales AS DOUBLE) / ws1.web_sales, 4) AS web_q1_q2_increase,
           round(CAST(ss2.store_sales AS DOUBLE) / ss1.store_sales, 4) AS store_q1_q2_increase,
           round(CAST(ws3.web_sales AS DOUBLE) / ws2.web_sales, 4) AS web_q2_q3_increase,
           round(CAST(ss3.store_sales AS DOUBLE) / ss2.store_sales, 4) AS store_q2_q3_increase
    FROM ss ss1
    JOIN ss ss2 ON ss1.ca_county = ss2.ca_county
    JOIN ss ss3 ON ss2.ca_county = ss3.ca_county
    JOIN ws ws1 ON ss1.ca_county = ws1.ca_county
    JOIN ws ws2 ON ws1.ca_county = ws2.ca_county
    JOIN ws ws3 ON ws1.ca_county = ws3.ca_county
    WHERE ss1.d_qoy = 1 AND ss1.d_year = 1995
      AND ss2.d_qoy = 2 AND ss2.d_year = 1995
      AND ss3.d_qoy = 3 AND ss3.d_year = 1995
      AND ws1.d_qoy = 1 AND ws1.d_year = 1995
      AND ws2.d_qoy = 2 AND ws2.d_year = 1995
      AND ws3.d_qoy = 3 AND ws3.d_year = 1995
      AND CAST(ws2.web_sales AS DOUBLE) / ws1.web_sales
          > CAST(ss2.store_sales AS DOUBLE) / ss1.store_sales
    ORDER BY ss1.ca_county
    """,
    doc="Reference: tpcds/q31.sql (county -> customer nation).",
)

# q32 — excess discount amount: correlated 1.3x-average subquery per item
# over a 90-day window.
ds(
    "tpcds_q32",
    """
    SELECT round(CAST(sum(s.disc_c) AS DOUBLE) / 100.0, 2) AS excess_discount_amount
    FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
    WHERE i.p_size = 28
      AND s.o_orderdate BETWEEN TIMESTAMP '1995-01-27' AND TIMESTAMP '1995-04-27'
      AND s.disc_c > (
            SELECT 1.3 * avg(s2.disc_c)
            FROM sales s2
            WHERE s2.l_partkey = s.l_partkey
              AND s2.o_orderdate BETWEEN TIMESTAMP '1995-01-27' AND TIMESTAMP '1995-04-27')
    """,
    doc="Reference: tpcds/q32.sql.",
)

# q33 — per-manufacturer sales summed across all three channels, item set
# restricted by an IN-subquery over the category dim.
ds(
    "tpcds_q33",
    """
    , ss AS (
        SELECT p.p_brand AS i_manufact_id,CAST(sum(s.net_c) AS BIGINT) AS total_sales
        FROM sales s
        JOIN part p ON s.l_partkey = p.p_partkey
        JOIN customer c ON s.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE p.p_brand IN (SELECT p_brand FROM part WHERE p_type IN ('STANDARD'))
          AND s.d_year = 1995 AND s.d_moy = 5 AND n.n_regionkey = 1
        GROUP BY p.p_brand
    ),
    cs AS (
        SELECT p.p_brand AS i_manufact_id,CAST(sum(w.net_c) AS BIGINT) AS total_sales
        FROM cat w
        JOIN part p ON w.l_partkey = p.p_partkey
        JOIN customer c ON w.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE p.p_brand IN (SELECT p_brand FROM part WHERE p_type IN ('STANDARD'))
          AND w.d_year = 1995 AND w.d_moy = 5 AND n.n_regionkey = 1
        GROUP BY p.p_brand
    ),
    ws AS (
        SELECT p.p_brand AS i_manufact_id,CAST(sum(w.net_c) AS BIGINT) AS total_sales
        FROM web w
        JOIN part p ON w.l_partkey = p.p_partkey
        JOIN customer c ON w.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE p.p_brand IN (SELECT p_brand FROM part WHERE p_type IN ('STANDARD'))
          AND w.d_year = 1995 AND w.d_moy = 5 AND n.n_regionkey = 1
        GROUP BY p.p_brand
    )
    SELECT i_manufact_id,CAST(sum(total_sales) AS BIGINT) AS total_sales
    FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws)
    GROUP BY i_manufact_id
    ORDER BY total_sales, i_manufact_id
    LIMIT 100
    """,
    doc="Reference: tpcds/q33.sql (manufact -> brand, category -> p_type).",
)

# q34 — tickets with 2..5 lines bought by high-dependency households on
# start/end-of-month days; returns customer attributes per ticket.
ds(
    "tpcds_q34",
    """
    SELECT c.c_name, c.c_mktsegment, dn.l_orderkey AS ticket_number, dn.cnt
    FROM (
        SELECT s.l_orderkey, s.o_custkey, count(*) AS cnt
        FROM sales s
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        WHERE (s.d_dom BETWEEN 1 AND 3 OR s.d_dom BETWEEN 25 AND 28)
          AND (s.o_orderpriority = '1-URGENT' OR s.o_orderpriority = '2-HIGH')
          AND s.hd_vehicle_count > 0
          AND (CASE WHEN s.hd_vehicle_count > 0
                    THEN CAST(s.hd_dep_count AS DOUBLE) / s.hd_vehicle_count
                    ELSE NULL END) > 1.2
          AND s.d_year IN (1995, 1996, 1997)
          AND st.s_nationkey IN (1, 2, 3)
        GROUP BY s.l_orderkey, s.o_custkey
    ) dn
    JOIN customer c ON dn.o_custkey = c.c_custkey
    WHERE dn.cnt BETWEEN 2 AND 5
    ORDER BY c.c_name, dn.cnt DESC, dn.l_orderkey
    """,
    doc="Reference: tpcds/q34.sql (ticket -> orderkey, hd_* -> derived).",
)

# q35 — customer demographics with EXISTS(store) AND (EXISTS(web) OR
# EXISTS(catalog)) channel-presence filters.
ds(
    "tpcds_q35",
    """
    SELECT n.n_name AS ca_state, c.c_mktsegment AS cd_gender,
           count(*) AS cnt1,
           min(c.c_acctbal) AS min_bal,
           max(c.c_acctbal) AS max_bal,
           cast(floor(CAST(sum(cast(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                      / count(*) + 0.5) AS BIGINT) AS avg_bal_c
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM sales s
                  WHERE s.o_custkey = c.c_custkey AND s.d_year = 1995 AND s.d_qoy < 4)
      AND (EXISTS (SELECT 1 FROM web w
                   WHERE w.o_custkey = c.c_custkey AND w.d_year = 1995 AND w.d_qoy < 4)
           OR EXISTS (SELECT 1 FROM cat t
                      WHERE t.o_custkey = c.c_custkey AND t.d_year = 1995 AND t.d_qoy < 4))
    GROUP BY n.n_name, c.c_mktsegment
    ORDER BY ca_state, cd_gender
    LIMIT 100
    """,
    doc="Reference: tpcds/q35.sql.",
)

# q36 — gross-margin ROLLUP over the item hierarchy with GROUPING() level
# arithmetic and rank-within-parent window.
ds(
    "tpcds_q36",
    """
    SELECT round(CAST(sum(s.net_c) AS DOUBLE) / sum(s.price_c), 6) AS gross_margin,
           p.p_type AS i_category, p.p_brand AS i_class,
           cast(grouping(p.p_type) + grouping(p.p_brand) AS INT) AS lochierarchy,
           rank() OVER (
               PARTITION BY grouping(p.p_type) + grouping(p.p_brand),
                            CASE WHEN grouping(p.p_brand) = 0 THEN p.p_type END
               ORDER BY CAST(sum(s.net_c) AS DOUBLE) / sum(s.price_c),
                        p.p_type, p.p_brand
           ) AS rank_within_parent
    FROM sales s
    JOIN part p ON s.l_partkey = p.p_partkey
    JOIN supplier st ON s.l_suppkey = st.s_suppkey
    WHERE s.d_year = 1995 AND st.s_nationkey IN (1, 2, 3)
    GROUP BY ROLLUP (p.p_type, p.p_brand)
    ORDER BY lochierarchy DESC,
             CASE WHEN grouping(p.p_type) + grouping(p.p_brand) = 0 THEN p.p_type END
                 NULLS FIRST,
             rank_within_parent, i_category NULLS FIRST, i_class NULLS FIRST
    LIMIT 100
    """,
    doc="Reference: tpcds/q36.sql. Rank tiebroken on the group keys so the "
    "window is a total order.",
)

# q37 — items with on-hand inventory in a quantity band that also sold in
# the catalog channel (inventory -> fact quantity slice).
ds(
    "tpcds_q37",
    item_stock_sql(
        "cat",
        "cs",
        """i.p_retailprice BETWEEN 900 AND 950
      AND i.p_brand IN ('Brand#1', 'Brand#5', 'Brand#9', 'Brand#13')
      AND inv.o_orderdate BETWEEN TIMESTAMP '1995-02-01' AND TIMESTAMP '1995-04-02'""",
    ),
    doc="Reference: tpcds/q37.sql (inventory -> dated fact slice).",
)

# q38 — customers active in ALL three channels in a year window (3-way
# INTERSECT of distinct name/date pairs, counted).
ds(
    "tpcds_q38",
    """
    SELECT count(*) AS cnt
    FROM (
        SELECT DISTINCT c.c_name, s.o_orderdate
        FROM sales s JOIN customer c ON s.o_custkey = c.c_custkey
        WHERE s.d_month_seq BETWEEN 23941 AND 23952
        INTERSECT
        SELECT DISTINCT c.c_name, w.o_orderdate
        FROM cat w JOIN customer c ON w.o_custkey = c.c_custkey
        WHERE w.d_month_seq BETWEEN 23941 AND 23952
        INTERSECT
        SELECT DISTINCT c.c_name, w.o_orderdate
        FROM web w JOIN customer c ON w.o_custkey = c.c_custkey
        WHERE w.d_month_seq BETWEEN 23941 AND 23952
    ) hot_cust
    """,
    doc="Reference: tpcds/q38.sql. month_seq 23941 = 1995*12+1.",
)

# q39 — inventory coefficient-of-variation across consecutive months,
# self-joined (warehouse -> supplier). Variance from exact integer sums so
# both engines compute identical IEEE expressions.
ds(
    "tpcds_q39",
    inv_cov_sql(0.2)
    + """
    ORDER BY w1, i1_item, moy1
    """,
    doc="Reference: tpcds/q39_1.sql. stddev rebuilt from sum/sum-of-squares "
    "(exact integers) for cross-engine hash stability.",
)

# q40 — catalog sales net of refunds before/after a pivot date, by
# warehouse geography and item (LEFT JOIN against the returns aggregate).
ds(
    "tpcds_q40",
    """
    SELECT n.n_name AS w_state, i.p_brand AS i_item_id,
           round(CAST(sum(CASE WHEN c.o_orderdate < TIMESTAMP '1995-03-11'
                               THEN c.net_c - coalesce(r.refund_c, 0) ELSE 0 END) AS DOUBLE)
                 / 100.0, 2) AS sales_before,
           round(CAST(sum(CASE WHEN c.o_orderdate >= TIMESTAMP '1995-03-11'
                               THEN c.net_c - coalesce(r.refund_c, 0) ELSE 0 END) AS DOUBLE)
                 / 100.0, 2) AS sales_after
    FROM cat c
    LEFT JOIN (SELECT l_orderkey, l_partkey, sum(price_c) AS refund_c
               FROM ret GROUP BY l_orderkey, l_partkey) r
        ON c.l_orderkey = r.l_orderkey AND c.l_partkey = r.l_partkey
    JOIN supplier st ON c.l_suppkey = st.s_suppkey
    JOIN nation n ON st.s_nationkey = n.n_nationkey
    JOIN part i ON c.l_partkey = i.p_partkey
    WHERE i.p_retailprice BETWEEN 900 AND 1500
      AND c.o_orderdate BETWEEN TIMESTAMP '1995-02-09' AND TIMESTAMP '1995-04-10'
    GROUP BY n.n_name, i.p_brand
    ORDER BY w_state, i_item_id
    LIMIT 100
    """,
    doc="Reference: tpcds/q40.sql.",
)

# q41 — distinct product names whose manufacturer has items matching a
# deep OR-of-ANDs attribute combination (correlated count subquery).
ds(
    "tpcds_q41",
    """
    SELECT DISTINCT i1.p_name AS i_product_name
    FROM part i1
    WHERE i1.p_size BETWEEN 10 AND 50
      AND (SELECT count(*) FROM part i2
           WHERE i2.p_brand = i1.p_brand
             AND ((i2.p_type = 'STANDARD' AND i2.p_size BETWEEN 1 AND 10)
                  OR (i2.p_type = 'ECONOMY' AND i2.p_size BETWEEN 20 AND 30)
                  OR (i2.p_type = 'PROMO' AND i2.p_size BETWEEN 30 AND 40))) > 0
    ORDER BY i_product_name
    LIMIT 100
    """,
    doc="Reference: tpcds/q41.sql.",
)

# q42 — category revenue for a month (dim join + group + ordered topn).
ds(
    "tpcds_q42",
    """
    SELECT s.d_year, i.p_type AS i_category,CAST(sum(s.net_c) AS BIGINT) AS total_sales
    FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
    WHERE i.p_size < 25 AND s.d_moy = 11 AND s.d_year = 1995
    GROUP BY s.d_year, i.p_type
    ORDER BY total_sales DESC, s.d_year, i_category
    LIMIT 100
    """,
    doc="Reference: tpcds/q42.sql.",
)

# q43 — store sales pivoted across the days of the week.
ds(
    "tpcds_q43",
    """
    SELECT st.s_name,CAST(sum(CASE WHEN s.d_dow = 1 THEN s.price_c ELSE NULL END) AS BIGINT) AS sun_sales,CAST(sum(CASE WHEN s.d_dow = 2 THEN s.price_c ELSE NULL END) AS BIGINT) AS mon_sales,
           CAST(sum(CASE WHEN s.d_dow = 3 THEN s.price_c ELSE NULL END) AS BIGINT) AS tue_sales,
           CAST(sum(CASE WHEN s.d_dow = 4 THEN s.price_c ELSE NULL END) AS BIGINT) AS wed_sales,CAST(sum(CASE WHEN s.d_dow = 5 THEN s.price_c ELSE NULL END) AS BIGINT) AS thu_sales,CAST(sum(CASE WHEN s.d_dow = 6 THEN s.price_c ELSE NULL END) AS BIGINT) AS fri_sales,CAST(sum(CASE WHEN s.d_dow = 7 THEN s.price_c ELSE NULL END) AS BIGINT) AS sat_sales
    FROM sales s JOIN supplier st ON s.l_suppkey = st.s_suppkey
    WHERE st.s_nationkey IN (1, 2, 3, 4, 5) AND s.d_year = 1995
    GROUP BY st.s_name
    ORDER BY st.s_name
    LIMIT 100
    """,
    doc="Reference: tpcds/q43.sql.",
)

# q44 — best vs worst performing items by average profit, paired by rank
# (two windowed subqueries joined on rnk, HAVING vs a 0.9x scalar average).
ds(
    "tpcds_q44",
    """
    , profits AS (
        SELECT l_partkey AS item_sk,
               CAST(CAST(floor(sum(net_c) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 AS rank_col
        FROM sales WHERE l_suppkey = 4
        GROUP BY l_partkey
        HAVING CAST(CAST(floor(sum(net_c) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0 > 0.9 * (
            SELECT CAST(CAST(floor(sum(net_c) * 10000.0 / count(*) + 0.5) AS BIGINT) AS DOUBLE) / 10000.0
            FROM sales WHERE l_suppkey = 4 AND l_returnflag = 'R')
    ),
    asceding AS (
        SELECT item_sk, rank() OVER (ORDER BY rank_col, item_sk) AS rnk FROM profits
    ),
    descending AS (
        SELECT item_sk, rank() OVER (ORDER BY rank_col DESC, item_sk) AS rnk FROM profits
    )
    SELECT a.rnk, i1.p_name AS best_performing, i2.p_name AS worst_performing
    FROM asceding a
    JOIN descending d ON a.rnk = d.rnk
    JOIN part i1 ON i1.p_partkey = a.item_sk
    JOIN part i2 ON i2.p_partkey = d.item_sk
    WHERE a.rnk < 11
    ORDER BY a.rnk
    """,
    doc="Reference: tpcds/q44.sql. Ranks tiebroken on item_sk (total order).",
)

# q45 — web sales by customer geography, OR of a zip-list filter and an
# item IN-subquery.
ds(
    "tpcds_q45",
    """
    SELECT n.n_name AS ca_zip, c.c_mktsegment AS ca_city,
           round(CAST(sum(w.price_c) AS DOUBLE) / 100.0, 2) AS total_sales
    FROM web w
    JOIN customer c ON w.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN part i ON w.l_partkey = i.p_partkey
    WHERE (n.n_name IN ('NATION_5', 'NATION_6', 'NATION_7', 'NATION_8', 'NATION_9')
           OR i.p_partkey IN (SELECT p_partkey FROM part
                              WHERE p_partkey IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
      AND w.d_qoy = 2 AND w.d_year = 1995
    GROUP BY n.n_name, c.c_mktsegment
    ORDER BY ca_zip, ca_city
    LIMIT 100
    """,
    doc="Reference: tpcds/q45.sql.",
)

# q46 — per-ticket coupon/profit totals for weekend high-dependency
# shoppers where the bought geography differs from the home geography.
ds(
    "tpcds_q46",
    away_tickets_sql(
        "dn.amt, dn.profit",
        """
               round(CAST(sum(s.disc_c) AS DOUBLE) / 100.0, 2) AS amt,
               round(CAST(sum(s.net_c) AS DOUBLE) / 100.0, 2) AS profit""",
        """(s.hd_dep_count = 4 OR s.hd_vehicle_count = 3)
          AND s.d_dow IN (1, 7)
          AND s.d_year IN (1995, 1996, 1997)""",
    ),
    doc="Reference: tpcds/q46.sql (city -> nation).",
)

# q47 — monthly brand sales vs the yearly average, joined to the lagging
# and leading months (windowed CTE self-joined on rn +/- 1).
ds(
    "tpcds_q47",
    """
    , v1 AS (
        SELECT i.p_type AS i_category, i.p_brand AS i_brand, st.s_name,
               s.d_year, s.d_moy,CAST(sum(s.price_c) AS BIGINT) AS sum_sales,
               avg(sum(s.price_c)) OVER (
                   PARTITION BY i.p_type, i.p_brand, st.s_name, s.d_year
               ) AS avg_monthly_sales,
               rank() OVER (
                   PARTITION BY i.p_type, i.p_brand, st.s_name
                   ORDER BY s.d_year, s.d_moy
               ) AS rn
        FROM sales s
        JOIN part i ON s.l_partkey = i.p_partkey
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        WHERE s.d_year = 1996
           OR (s.d_year = 1995 AND s.d_moy = 12)
           OR (s.d_year = 1997 AND s.d_moy = 1)
        GROUP BY i.p_type, i.p_brand, st.s_name, s.d_year, s.d_moy
    )
    SELECT v1.i_category, v1.i_brand, v1.s_name, v1.d_year, v1.d_moy,
           cast(floor(v1.avg_monthly_sales + 0.5) AS BIGINT) AS avg_monthly_c,
           v1.sum_sales, v1_lag.sum_sales AS psum, v1_lead.sum_sales AS nsum
    FROM v1
    JOIN v1 v1_lag ON v1.i_category = v1_lag.i_category
                  AND v1.i_brand = v1_lag.i_brand
                  AND v1.s_name = v1_lag.s_name AND v1.rn = v1_lag.rn + 1
    JOIN v1 v1_lead ON v1.i_category = v1_lead.i_category
                   AND v1.i_brand = v1_lead.i_brand
                   AND v1.s_name = v1_lead.s_name AND v1.rn = v1_lead.rn - 1
    WHERE v1.d_year = 1996 AND v1.avg_monthly_sales > 0
      AND abs(v1.sum_sales - v1.avg_monthly_sales) / v1.avg_monthly_sales > 0.1
    ORDER BY v1.sum_sales - v1.avg_monthly_sales, v1.i_category, v1.i_brand,
             v1.s_name, v1.d_moy
    LIMIT 100
    """,
    doc="Reference: tpcds/q47.sql. avg() over exact integer sums.",
)

# q48 — quantity sum under an OR of (segment x order-price band) arms
# crossed with (geography x profit band) arms.
ds(
    "tpcds_q48",
    """
    SELECT CAST(sum(s.qty) AS BIGINT) AS total_qty
    FROM sales s
    JOIN customer c ON s.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE s.d_year = 1995
      AND ((c.c_mktsegment = 'BUILDING' AND s.o_totalprice BETWEEN 50000 AND 150000)
           OR (c.c_mktsegment = 'MACHINERY' AND s.o_totalprice BETWEEN 100000 AND 250000)
           OR (c.c_mktsegment = 'HOUSEHOLD' AND s.o_totalprice BETWEEN 150000 AND 300000))
      AND ((n.n_regionkey IN (0, 1) AND s.net_c BETWEEN 0 AND 200000)
           OR (n.n_regionkey IN (2, 3) AND s.net_c BETWEEN 10000 AND 300000)
           OR (n.n_regionkey IN (4) AND s.net_c BETWEEN 5000 AND 250000))
    """,
    doc="Reference: tpcds/q48.sql.",
)

# q49 — worst return ratios per channel: quantity and currency return
# ratios double-ranked, channels unioned, rank <= 10.
ds(
    "tpcds_q49",
    """
    , by_item AS (
        SELECT 'web' AS channel, w.l_partkey AS item,
               round(CAST(sum(CASE WHEN w.l_returnflag = 'R' THEN w.qty ELSE 0 END) AS DOUBLE)
                     / sum(w.qty), 6) AS return_ratio,
               round(CAST(sum(CASE WHEN w.l_returnflag = 'R' THEN w.net_c ELSE 0 END) AS DOUBLE)
                     / sum(w.net_c), 6) AS currency_ratio
        FROM web w
        WHERE w.d_year = 1995 AND w.d_moy = 12 AND w.net_c > 0
        GROUP BY w.l_partkey
        HAVING sum(w.qty) > 0 AND sum(w.net_c) > 0
        UNION ALL
        SELECT 'catalog' AS channel, w.l_partkey AS item,
               round(CAST(sum(CASE WHEN w.l_returnflag = 'R' THEN w.qty ELSE 0 END) AS DOUBLE)
                     / sum(w.qty), 6) AS return_ratio,
               round(CAST(sum(CASE WHEN w.l_returnflag = 'R' THEN w.net_c ELSE 0 END) AS DOUBLE)
                     / sum(w.net_c), 6) AS currency_ratio
        FROM cat w
        WHERE w.d_year = 1995 AND w.d_moy = 12 AND w.net_c > 0
        GROUP BY w.l_partkey
        HAVING sum(w.qty) > 0 AND sum(w.net_c) > 0
    ),
    ranked AS (
        SELECT channel, item, return_ratio,
               rank() OVER (PARTITION BY channel ORDER BY return_ratio DESC, item)
                   AS return_rank,
               rank() OVER (PARTITION BY channel ORDER BY currency_ratio DESC, item)
                   AS currency_rank
        FROM by_item
    )
    SELECT channel, item, return_ratio, return_rank, currency_rank
    FROM ranked
    WHERE return_rank <= 10 OR currency_rank <= 10
    ORDER BY channel, return_rank, currency_rank, item
    """,
    doc="Reference: tpcds/q49.sql. Ranks tiebroken on item.",
)

# q50 — return-latency buckets (ship_days stands in for returned-sold) per
# store for returns in a target month.
ds(
    "tpcds_q50",
    """
    SELECT st.s_name,CAST(sum(CASE WHEN r.ship_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,CAST(sum(CASE WHEN r.ship_days > 30 AND r.ship_days <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,CAST(sum(CASE WHEN r.ship_days > 60 AND r.ship_days <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,CAST(sum(CASE WHEN r.ship_days > 90 AND r.ship_days <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,CAST(sum(CASE WHEN r.ship_days > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120plus
    FROM ret r JOIN supplier st ON r.l_suppkey = st.s_suppkey
    WHERE r.d_year = 1995 AND r.d_moy = 8
    GROUP BY st.s_name
    ORDER BY st.s_name
    LIMIT 100
    """,
    doc="Reference: tpcds/q50.sql.",
)

# q51 — cumulative per-item sales in two channels compared via FULL OUTER
# JOIN where the web cume overtakes the store cume.
ds(
    "tpcds_q51",
    """
    , web_v1 AS (
        SELECT l_partkey AS item_sk, o_orderdate,
               sum(sum(price_c)) OVER (
                   PARTITION BY l_partkey ORDER BY o_orderdate
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cume_sales
        FROM web
        WHERE d_month_seq BETWEEN 23941 AND 23946
        GROUP BY l_partkey, o_orderdate
    ),
    store_v1 AS (
        SELECT l_partkey AS item_sk, o_orderdate,
               sum(sum(price_c)) OVER (
                   PARTITION BY l_partkey ORDER BY o_orderdate
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cume_sales
        FROM cat
        WHERE d_month_seq BETWEEN 23941 AND 23946
        GROUP BY l_partkey, o_orderdate
    )
    SELECT item_sk, o_orderdate, web_sales, store_sales
    FROM (
        SELECT coalesce(w.item_sk, s.item_sk) AS item_sk,
               coalesce(w.o_orderdate, s.o_orderdate) AS o_orderdate,
               CAST(w.cume_sales AS BIGINT) AS web_sales, CAST(s.cume_sales AS BIGINT) AS store_sales
        FROM web_v1 w
        FULL OUTER JOIN store_v1 s
            ON w.item_sk = s.item_sk AND w.o_orderdate = s.o_orderdate
    )
    WHERE web_sales > store_sales
    ORDER BY item_sk, o_orderdate
    LIMIT 100
    """,
    doc="Reference: tpcds/q51.sql.",
)

# q52 — brand revenue for a month (q42 on brand).
ds(
    "tpcds_q52",
    """
    SELECT s.d_year, i.p_brand AS brand,CAST(sum(s.net_c) AS BIGINT) AS ext_price
    FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
    WHERE i.p_size = 1 AND s.d_moy = 11 AND s.d_year = 1995
    GROUP BY s.d_year, i.p_brand
    ORDER BY s.d_year, ext_price DESC, brand
    LIMIT 100
    """,
    doc="Reference: tpcds/q52.sql.",
)

# q53 — quarterly manufacturer sales vs the all-period average per
# manufacturer (windowed deviation filter).
ds(
    "tpcds_q53",
    """
    SELECT *
    FROM (
        SELECT i.p_brand AS i_manufact_id, s.d_qoy,CAST(sum(s.price_c) AS BIGINT) AS sum_sales,
               avg(sum(s.price_c)) OVER (PARTITION BY i.p_brand) AS avg_quarterly_sales
        FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
        WHERE s.d_month_seq BETWEEN 23941 AND 23952
          AND ((i.p_type IN ('STANDARD', 'ECONOMY') AND i.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3'))
               OR (i.p_type IN ('PROMO', 'LARGE') AND i.p_brand IN ('Brand#4', 'Brand#5', 'Brand#6')))
        GROUP BY i.p_brand, s.d_qoy
    )
    WHERE CASE WHEN avg_quarterly_sales > 0
               THEN abs(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
               ELSE NULL END > 0.1
    ORDER BY avg_quarterly_sales, sum_sales, i_manufact_id, d_qoy
    LIMIT 100
    """,
    doc="Reference: tpcds/q53.sql.",
)

# q54 — customers acquired via a category/month campaign in other
# channels, bucketed by their subsequent store revenue.
ds(
    "tpcds_q54",
    """
    , my_customers AS (
        SELECT DISTINCT o_custkey
        FROM (
            SELECT o_custkey, l_partkey, d_moy, d_year FROM cat
            UNION ALL
            SELECT o_custkey, l_partkey, d_moy, d_year FROM web
        ) cs_or_ws
        JOIN part i ON cs_or_ws.l_partkey = i.p_partkey
        WHERE i.p_type = 'PROMO' AND d_moy = 12 AND d_year = 1995
    ),
    my_revenue AS (
        SELECT s.o_custkey, sum(s.price_c) AS revenue
        FROM sales s
        JOIN my_customers mc ON s.o_custkey = mc.o_custkey
        WHERE s.d_month_seq BETWEEN 23953 AND 23955
        GROUP BY s.o_custkey
    )
    SELECT cast(floor(revenue / 5000000.0) AS BIGINT) AS segment,
           count(*) AS num_customers
    FROM my_revenue
    GROUP BY cast(floor(revenue / 5000000.0) AS BIGINT)
    ORDER BY segment, num_customers
    LIMIT 100
    """,
    doc="Reference: tpcds/q54.sql (revenue segments of 50000 dollars in cents).",
)

# q55 — brand revenue for a manager band (q52 sibling).
ds(
    "tpcds_q55",
    """
    SELECT i.p_brand AS brand,CAST(sum(s.net_c) AS BIGINT) AS ext_price
    FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
    WHERE i.p_size = 28 AND s.d_moy = 11 AND s.d_year = 1996
    GROUP BY i.p_brand
    ORDER BY ext_price DESC, brand
    LIMIT 100
    """,
    doc="Reference: tpcds/q55.sql.",
)

# q56 — three-channel item sales for a color-list item set (IN-subquery),
# summed across channels (q33 family).
ds(
    "tpcds_q56",
    channel_items_sql("p_size IN (1, 2, 3)", 2, 2, "total_sales, i_item_id"),
    doc="Reference: tpcds/q56.sql (color list -> size list).",
)

# q57 — q47's catalog twin with the call-center dimension (-> nation).
ds(
    "tpcds_q57",
    """
    , v1 AS (
        SELECT i.p_type AS i_category, i.p_brand AS i_brand, n.n_name AS cc_name,
               w.d_year, w.d_moy,CAST(sum(w.price_c) AS BIGINT) AS sum_sales,
               avg(sum(w.price_c)) OVER (
                   PARTITION BY i.p_type, i.p_brand, n.n_name, w.d_year
               ) AS avg_monthly_sales,
               rank() OVER (
                   PARTITION BY i.p_type, i.p_brand, n.n_name
                   ORDER BY w.d_year, w.d_moy
               ) AS rn
        FROM cat w
        JOIN part i ON w.l_partkey = i.p_partkey
        JOIN supplier st ON w.l_suppkey = st.s_suppkey
        JOIN nation n ON st.s_nationkey = n.n_nationkey
        WHERE w.d_year = 1996
           OR (w.d_year = 1995 AND w.d_moy = 12)
           OR (w.d_year = 1997 AND w.d_moy = 1)
        GROUP BY i.p_type, i.p_brand, n.n_name, w.d_year, w.d_moy
    )
    SELECT v1.i_category, v1.i_brand, v1.cc_name, v1.d_year, v1.d_moy,
           cast(floor(v1.avg_monthly_sales + 0.5) AS BIGINT) AS avg_monthly_c,
           v1.sum_sales, v1_lag.sum_sales AS psum, v1_lead.sum_sales AS nsum
    FROM v1
    JOIN v1 v1_lag ON v1.i_category = v1_lag.i_category
                  AND v1.i_brand = v1_lag.i_brand
                  AND v1.cc_name = v1_lag.cc_name AND v1.rn = v1_lag.rn + 1
    JOIN v1 v1_lead ON v1.i_category = v1_lead.i_category
                   AND v1.i_brand = v1_lead.i_brand
                   AND v1.cc_name = v1_lead.cc_name AND v1.rn = v1_lead.rn - 1
    WHERE v1.d_year = 1996 AND v1.avg_monthly_sales > 0
      AND abs(v1.sum_sales - v1.avg_monthly_sales) / v1.avg_monthly_sales > 0.1
    ORDER BY v1.sum_sales - v1.avg_monthly_sales, v1.i_category, v1.i_brand,
             v1.cc_name, v1.d_moy
    LIMIT 100
    """,
    doc="Reference: tpcds/q57.sql.",
)

# q58 — item revenue in the same ISO week across three channels, kept when
# each channel is within 10% of the three-channel average.
ds(
    "tpcds_q58",
    """
    , ss_items AS (
        SELECT l_partkey AS item_id,CAST(sum(net_c) AS BIGINT) AS ss_item_rev
        FROM sales
        WHERE d_moy = 6 AND d_year = 1995
        GROUP BY l_partkey
    ),
    cs_items AS (
        SELECT l_partkey AS item_id,CAST(sum(net_c) AS BIGINT) AS cs_item_rev
        FROM cat
        WHERE d_moy = 6 AND d_year = 1995
        GROUP BY l_partkey
    ),
    ws_items AS (
        SELECT l_partkey AS item_id,CAST(sum(net_c) AS BIGINT) AS ws_item_rev
        FROM web
        WHERE d_moy = 6 AND d_year = 1995
        GROUP BY l_partkey
    )
    SELECT s.item_id, s.ss_item_rev, c.cs_item_rev, w.ws_item_rev,
           round(CAST(s.ss_item_rev + c.cs_item_rev + w.ws_item_rev AS DOUBLE) / 300.0, 2)
               AS average
    FROM ss_items s
    JOIN cs_items c ON s.item_id = c.item_id
    JOIN ws_items w ON s.item_id = w.item_id
    WHERE s.ss_item_rev BETWEEN 0.5 * c.cs_item_rev AND 2.0 * c.cs_item_rev
      AND c.cs_item_rev BETWEEN 0.5 * s.ss_item_rev AND 2.0 * s.ss_item_rev
    ORDER BY s.item_id
    LIMIT 100
    """,
    doc="Reference: tpcds/q58.sql.",
)

# q59 — store week-over-week day-of-week sales ratios (year self-join on
# the same ISO week).
ds(
    "tpcds_q59",
    """
    , wss AS (
        SELECT d_week_seq, d_year, l_suppkey,CAST(sum(CASE WHEN d_dow = 1 THEN price_c ELSE 0 END) AS BIGINT) AS sun_sales,CAST(sum(CASE WHEN d_dow = 2 THEN price_c ELSE 0 END) AS BIGINT) AS mon_sales,CAST(sum(CASE WHEN d_dow = 6 THEN price_c ELSE 0 END) AS BIGINT) AS fri_sales,CAST(sum(CASE WHEN d_dow = 7 THEN price_c ELSE 0 END) AS BIGINT) AS sat_sales
        FROM sales
        GROUP BY d_week_seq, d_year, l_suppkey
    )
    SELECT st.s_name, y1.d_week_seq,
           round(CAST(y1.sun_sales AS DOUBLE) / nullif(y2.sun_sales, 0), 4) AS r_sun,
           round(CAST(y1.mon_sales AS DOUBLE) / nullif(y2.mon_sales, 0), 4) AS r_mon,
           round(CAST(y1.fri_sales AS DOUBLE) / nullif(y2.fri_sales, 0), 4) AS r_fri,
           round(CAST(y1.sat_sales AS DOUBLE) / nullif(y2.sat_sales, 0), 4) AS r_sat
    FROM wss y1
    JOIN wss y2 ON y1.l_suppkey = y2.l_suppkey AND y1.d_week_seq = y2.d_week_seq
    JOIN supplier st ON y1.l_suppkey = st.s_suppkey
    WHERE y1.d_year = 1995 AND y2.d_year = 1996
    ORDER BY st.s_name, y1.d_week_seq
    LIMIT 100
    """,
    doc="Reference: tpcds/q59.sql.",
)

# q60 — q56's category variant.
ds(
    "tpcds_q60",
    channel_items_sql("p_type IN ('MEDIUM')", 9, 3, "i_item_id, total_sales"),
    doc="Reference: tpcds/q60.sql.",
)

# q61 — promotional-sales share: two single-row aggregate arms cross
# joined into a ratio.
ds(
    "tpcds_q61",
    """
    SELECT p.promotions, t.total,
           round(CAST(p.promotions AS DOUBLE) / nullif(t.total, 0) * 100, 4) AS share
    FROM (
        SELECT CAST(sum(s.net_c) AS BIGINT) AS promotions
        FROM sales s
        JOIN part i ON s.l_partkey = i.p_partkey
        JOIN customer c ON s.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE s.o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND i.p_type = 'PROMO' AND n.n_regionkey = 1
          AND s.d_year = 1995 AND s.d_moy = 11
    ) p, (
        SELECT CAST(sum(s.net_c) AS BIGINT) AS total
        FROM sales s
        JOIN part i ON s.l_partkey = i.p_partkey
        JOIN customer c ON s.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE i.p_type = 'PROMO' AND n.n_regionkey = 1
          AND s.d_year = 1995 AND s.d_moy = 11
    ) t
    """,
    doc="Reference: tpcds/q61.sql (promotion channels -> order priority).",
)

# q62 — web ship-latency buckets by warehouse/ship-mode/site.
ds(
    "tpcds_q62",
    """
    SELECT substr(st.s_name, 1, 20) AS warehouse, w.l_linestatus AS sm_type,
           w.o_orderpriority AS web_name,CAST(sum(CASE WHEN w.ship_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,CAST(sum(CASE WHEN w.ship_days > 30 AND w.ship_days <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,CAST(sum(CASE WHEN w.ship_days > 60 AND w.ship_days <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,CAST(sum(CASE WHEN w.ship_days > 90 AND w.ship_days <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,CAST(sum(CASE WHEN w.ship_days > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120plus
    FROM web w JOIN supplier st ON w.l_suppkey = st.s_suppkey
    WHERE w.d_month_seq BETWEEN 23941 AND 23952
    GROUP BY substr(st.s_name, 1, 20), w.l_linestatus, w.o_orderpriority
    ORDER BY warehouse, sm_type, web_name
    LIMIT 100
    """,
    doc="Reference: tpcds/q62.sql (ship mode -> linestatus, site -> priority).",
)

# q63 — manager monthly sales vs their average (q53 sibling on p_size).
ds(
    "tpcds_q63",
    """
    SELECT *
    FROM (
        SELECT i.p_size AS i_manager_id, s.d_moy,CAST(sum(s.price_c) AS BIGINT) AS sum_sales,
               avg(sum(s.price_c)) OVER (PARTITION BY i.p_size) AS avg_monthly_sales
        FROM sales s JOIN part i ON s.l_partkey = i.p_partkey
        WHERE s.d_month_seq BETWEEN 23941 AND 23952
          AND ((i.p_type IN ('STANDARD', 'ECONOMY') AND i.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3'))
               OR (i.p_type IN ('PROMO', 'LARGE') AND i.p_brand IN ('Brand#4', 'Brand#5', 'Brand#6')))
        GROUP BY i.p_size, s.d_moy
    )
    WHERE CASE WHEN avg_monthly_sales > 0
               THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
               ELSE NULL END > 0.1
    ORDER BY i_manager_id, avg_monthly_sales, sum_sales, d_moy
    LIMIT 100
    """,
    doc="Reference: tpcds/q63.sql (manager -> p_size).",
)

# q64 — items sold in consecutive years with refund-heavy catalog history:
# cs_ui HAVING filter, per-item/store/year sums self-joined across years.
ds(
    "tpcds_q64",
    """
    , cs_ui AS (
        SELECT l_partkey,
               sum(price_c) AS sale,
               sum(CASE WHEN l_returnflag = 'R' THEN net_c ELSE 0 END) AS refund
        FROM cat
        GROUP BY l_partkey
        HAVING sum(price_c) > 2 * sum(CASE WHEN l_returnflag = 'R' THEN net_c ELSE 0 END)
    ),
    cross_sales AS (
        SELECT i.p_name AS product_name, s.l_partkey, st.s_name AS store_name,
               s.d_year, count(*) AS cnt, sum(s.net_c) AS sales_c
        FROM sales s
        JOIN supplier st ON s.l_suppkey = st.s_suppkey
        JOIN part i ON s.l_partkey = i.p_partkey
        JOIN cs_ui ON s.l_partkey = cs_ui.l_partkey
        WHERE i.p_size BETWEEN 1 AND 20
        GROUP BY i.p_name, s.l_partkey, st.s_name, s.d_year
    )
    SELECT cs1.product_name, cs1.store_name, cs1.d_year AS syear,
           cs1.cnt AS cnt1, cs2.cnt AS cnt2, CAST(cs1.sales_c AS BIGINT) AS s1, CAST(cs2.sales_c AS BIGINT) AS s2
    FROM cross_sales cs1
    JOIN cross_sales cs2 ON cs1.l_partkey = cs2.l_partkey
                        AND cs1.store_name = cs2.store_name
    WHERE cs1.d_year = 1995 AND cs2.d_year = 1996
      AND cs2.cnt <= cs1.cnt
    ORDER BY cs1.product_name, cs1.store_name, cs2.cnt, cs1.l_partkey
    LIMIT 100
    """,
    doc="Reference: tpcds/q64.sql (compressed: the address/demographic limbs "
    "of the mega-join are covered by q34/q46; the year self-join core is kept).",
)

# q65 — stores' weakest items: per-(store,item) revenue at or below 10% of
# the store's average item revenue.
ds(
    "tpcds_q65",
    """
    , sa AS (
        SELECT l_suppkey, l_partkey,CAST(sum(price_c) AS BIGINT) AS revenue
        FROM sales
        WHERE d_month_seq BETWEEN 23941 AND 23952
        GROUP BY l_suppkey, l_partkey
    ),
    sb AS (
        SELECT l_suppkey, avg(revenue) AS ave FROM sa GROUP BY l_suppkey
    )
    SELECT st.s_name, i.p_name, sc.revenue, i.p_retailprice, i.p_brand
    FROM sa sc
    JOIN sb ON sb.l_suppkey = sc.l_suppkey
    JOIN supplier st ON sc.l_suppkey = st.s_suppkey
    JOIN part i ON sc.l_partkey = i.p_partkey
    WHERE sc.revenue <= 0.1 * sb.ave
    ORDER BY st.s_name, i.p_name, sc.revenue
    LIMIT 100
    """,
    doc="Reference: tpcds/q65.sql. avg() over exact integer revenues.",
)
