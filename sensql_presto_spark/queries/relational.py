"""Relational-operator coverage beyond TPC-H (SURVEY.md §2.5-2.9).

One registry query per operator family from the reference's inventory:
window functions (WindowOperator / TopNRowNumberOperator), grouping sets
(GroupIdOperator), set operations (UnionNode/IntersectNode/ExceptNode),
UNNEST (UnnestOperator), DISTINCT+LIMIT (DistinctLimitOperator),
OFFSET (OffsetNode), VALUES (ValuesOperator), sampling (SampleNode),
quantified comparisons, LATERAL (LateralJoinNode), scalar subqueries
(EnforceSingleRowOperator), null-safe comparison semantics.

Most are written in Spark SQL: Catalyst plans them onto the same physical
shapes the reference uses (Expand for grouping sets, WindowGroupLimit for
rank pushdown, semi/anti joins for set ops), which is the point — declare
the plan, let the optimizer pick the strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensql_presto_spark import catalog
from sensql_presto_spark.queries.registry import register


_SAME = "__same_as_spark__"


def _sql_query(name: str, spark_sql: str, oracle: str | None = _SAME, tags=(), doc: str = "", bench: bool = False):
    """Register a query expressed as Spark SQL.

    ``oracle`` defaults to the same SQL text (dialect-shared queries);
    pass ``None`` explicitly for rows-only checks (no DuckDB equivalent).
    """

    @register(name, oracle=spark_sql if oracle is _SAME else oracle, tags=tags, doc=doc, bench=bench)
    def _q(spark: SparkSession, sf_dir: str, _text=spark_sql) -> DataFrame:
        return catalog.sql(spark, sf_dir, _text)

    return _q


def _epoch_dialects(template: str, div: str = "div") -> tuple[str, str]:
    """``template`` as Spark SQL and as its DuckDB oracle: ``{us}`` becomes
    each engine's epoch-microseconds function and ``{div}`` its integer
    division (``div`` names Spark's spelling)."""
    return (
        template.format(us="unix_micros", div=div),
        template.format(us="epoch_us", div="//"),
    )


# --- §2.5 window functions -------------------------------------------------

# Reference: RowNumberFunction..NTileFunction (operator/window/), WindowOperator.java
_sql_query(
    "window_ranking",
    """
    SELECT o_orderkey, o_custkey,
           row_number() OVER w AS rn,
           rank() OVER w2 AS rnk,
           dense_rank() OVER w2 AS drnk,
           ntile(4) OVER w AS tile,
           percent_rank() OVER w2 AS pct_rank,
           cume_dist() OVER w2 AS cdist
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderpriority)
    ORDER BY o_custkey, rn
    """,
    tags=("window", "ranking"),
)

# Reference: FirstValueFunction..LeadFunction (+ IGNORE NULLS, SqlBase.g4:411-414)
_WINDOW_VALUE_SQL = """
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice, 2) OVER w AS next2_price,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
           nth_value(o_orderkey, 3) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_ok,
           {last_nonp} OVER w AS last_nonp_status
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """

_sql_query(
    "window_value",
    _WINDOW_VALUE_SQL.format(last_nonp="last_value(nullif(o_orderstatus, 'P')) IGNORE NULLS"),
    oracle=_WINDOW_VALUE_SQL.format(last_nonp="last_value(nullif(o_orderstatus, 'P') IGNORE NULLS)"),
    tags=("window", "value"),
    doc="IGNORE NULLS syntax differs: Spark `f(x) IGNORE NULLS`, DuckDB `f(x IGNORE NULLS)`.",
)

# Reference: WindowFrame.java — ROWS and RANGE frames, all bound kinds.
_sql_query(
    "window_frames",
    """
    SELECT l_orderkey, l_linenumber,
           sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
           avg(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3_price,
           sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_quantity
               RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS qty_band_sum,
           count(*) OVER (PARTITION BY l_orderkey) AS n_lines
    FROM lineitem
    WHERE l_orderkey < 500
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("window", "frames"),
)

# Reference: TopNRowNumberOperator + WindowFilterPushDown rule → Spark 3.5+
# plans this as WindowGroupLimit (rank pushdown before full sort).
_sql_query(
    "window_topn_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) ranked
    WHERE rn <= 3
    ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
    tags=("window", "topn"),
    bench=True,
)

# Aggregates as window functions (AggregateWindowFunction.java).
_sql_query(
    "window_aggregates",
    """
    SELECT c_custkey, c_acctbal,
           CAST(sum(cast(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                OVER (PARTITION BY c_nationkey) AS DOUBLE) / 100.0 AS nation_bal,
           CAST(sum(cast(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                OVER (PARTITION BY c_nationkey) AS DOUBLE) / 100.0
               / count(*) OVER (PARTITION BY c_nationkey) AS nation_avg_bal,
           min(c_acctbal) OVER (PARTITION BY c_nationkey) AS nation_min,
           max(c_acctbal) OVER (PARTITION BY c_nationkey) AS nation_max,
           count(*) OVER (PARTITION BY c_nationkey) AS nation_n
    FROM customer
    WHERE c_custkey < 300
    ORDER BY c_custkey
    """,
    tags=("window", "aggregation"),
)


# --- §2.4 grouping sets / rollup / cube (GroupIdOperator) -------------------

_sql_query(
    "grouping_sets",
    """
    SELECT r_name, n_name,
           CAST(grouping(r_name) AS INT) AS g_r,
           CAST(grouping(n_name) AS INT) AS g_n,
           count(*) AS n_customers,
           CAST(sum(cast(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    ORDER BY g_r, g_n, r_name, n_name
    """,
    tags=("aggregation", "grouping-sets"),
)

_sql_query(
    "rollup_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
    """,
    tags=("aggregation", "rollup"),
)

_sql_query(
    "cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INT) AS g_st,
           CAST(grouping(o_orderpriority) AS INT) AS g_pr,
           count(*) AS n, sum(o_totalprice) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority
    """,
    tags=("aggregation", "cube"),
)


# --- §2.7 set operations ----------------------------------------------------

_sql_query(
    "setop_union",
    """
    SELECT c_nationkey AS k, 'cust' AS src FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_nationkey AS k, 'supp' AS src FROM supplier WHERE s_acctbal > 9000
    ORDER BY k, src
    """,
    tags=("setop",),
)

_sql_query(
    "setop_union_distinct",
    """
    SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT s_nationkey AS k FROM supplier
    ORDER BY k
    """,
    tags=("setop",),
)

# Reference rewrites INTERSECT/EXCEPT to joins (ImplementIntersectAndExceptAsUnion);
# Catalyst has the same rules (ReplaceIntersectWithSemiJoin / ReplaceExceptWithAntiJoin).
_sql_query(
    "setop_intersect",
    """
    SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9900
    INTERSECT
    SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 9900
    ORDER BY k
    """,
    tags=("setop",),
)

_sql_query(
    "setop_except",
    """
    SELECT s_nationkey AS k FROM supplier
    EXCEPT
    SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9990
    ORDER BY k
    """,
    tags=("setop",),
)

_sql_query(
    "setop_intersect_all",
    """
    SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A' AND l_orderkey < 1000
    INTERSECT ALL
    SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R' AND l_orderkey < 1000
    ORDER BY k
    """,
    tags=("setop",),
)

_sql_query(
    "setop_except_all",
    """
    SELECT l_suppkey AS k FROM lineitem WHERE l_orderkey < 500
    EXCEPT ALL
    SELECT l_suppkey AS k FROM lineitem WHERE l_orderkey >= 500 AND l_orderkey < 600
    ORDER BY k
    """,
    tags=("setop",),
)


# --- §2.9 UNNEST (UnnestOperator; WITH ORDINALITY) ---------------------------


@register(
    "unnest_with_ordinality",
    oracle="""
    SELECT doc_id, u.pos AS pos, u.word AS word
    FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(text, ' '),
                                     (w, i) -> {'pos': i, 'word': w})) AS u
        FROM documents WHERE doc_id < 20
    ) t
    ORDER BY doc_id, pos
    """,
    tags=("unnest",),
    doc="UNNEST WITH ORDINALITY (SqlBase.g4:323-327) → posexplode.",
)
def unnest_with_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        docs.select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "word")
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
        .orderBy("doc_id", "pos")
    )


# Multi-argument UNNEST zips arrays (UnnestOperator multi-channel).
@register(
    "unnest_multi_zip",
    oracle="""
    SELECT doc_id, u.w1 AS w1, u.w2 AS w2
    FROM (
        SELECT doc_id,
               unnest(list_zip(string_split(text, ' '),
                               list_reverse_sort(string_split(text, ' ')))) AS z,
               struct_pack(w1 := z[1], w2 := z[2]) AS u
        FROM documents WHERE doc_id < 10
    ) t
    ORDER BY doc_id, w1, w2
    """,
    tags=("unnest",),
)
def unnest_multi_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    words = F.split(F.col("text"), " ")
    rev = F.sort_array(words, asc=False)
    return (
        docs.select("doc_id", F.explode(F.arrays_zip(words.alias("w1"), rev.alias("w2"))).alias("z"))
        .select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
        .orderBy("doc_id", "w1", "w2")
    )


# --- §2.6 limits / offset / distinct-limit / sampling ------------------------

_sql_query(
    "offset_fetch",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
    tags=("limit", "offset"),
)

# DistinctLimitOperator: LIMIT >= distinct count keeps it deterministic.
_sql_query(
    "distinct_limit",
    """
    SELECT DISTINCT c_mktsegment FROM customer LIMIT 10
    """,
    oracle="SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1 LIMIT 10",
    tags=("limit", "distinct"),
)

# SampleNode: deterministic Bernoulli-style sample via hash-mod arithmetic —
# cross-engine reproducible, unlike TABLESAMPLE's engine-specific RNG.
_sql_query(
    "sample_hash_mod",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE (l_orderkey * 2654435761 + l_linenumber * 40503) % 100 < 10
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("sample",),
)

# NULLS FIRST/LAST + ASC/DESC ordering semantics.
_sql_query(
    "order_nulls_last",
    """
    SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st
    FROM orders WHERE o_orderkey < 300
    ORDER BY st DESC NULLS LAST, o_orderkey
    """,
    tags=("sort",),
)


# --- §2.1 VALUES -------------------------------------------------------------

_sql_query(
    "values_inline",
    """
    SELECT v.seg, count(*) AS n, sum(c_acctbal) AS bal
    FROM (VALUES ('BUILDING'), ('AUTOMOBILE'), ('MACHINERY')) AS v(seg)
    JOIN customer ON c_mktsegment = v.seg
    GROUP BY v.seg
    ORDER BY v.seg
    """,
    tags=("values",),
)


# --- §2.2 predicates: quantified comparisons, null-safe ----------------------

# Spark has no `> ALL (subquery)`; Presto's optimizer itself lowers it
# (TransformQuantifiedComparisonApplyToLateralJoin) to a max/min comparison —
# we declare the lowered form, DuckDB verifies against native ALL.
_sql_query(
    "quantified_all",
    """
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    -- > ALL(S) via max() must carry the empty-set case explicitly:
    -- ALL over an empty subquery is TRUE (no counterexample), while
    -- > max(empty) is > NULL = NULL and silently drops every row
    -- (caught by the sf0.001 empty-edge sweep)
    WHERE CASE WHEN (SELECT count(*) FROM supplier s2 WHERE s2.s_nationkey = 1) = 0
               THEN TRUE
               ELSE s_acctbal > (SELECT max(s2.s_acctbal)
                                 FROM supplier s2 WHERE s2.s_nationkey = 1) END
    ORDER BY s_suppkey
    """,
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_acctbal > ALL (SELECT s2.s_acctbal FROM supplier s2 WHERE s2.s_nationkey = 1)
    ORDER BY s_suppkey
    """,
    tags=("subquery", "quantified"),
)

_sql_query(
    "quantified_any",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    ORDER BY s_suppkey
    """,
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey = ANY (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    ORDER BY s_suppkey
    """,
    tags=("subquery", "quantified"),
)

_sql_query(
    "null_safe_semantics",
    """
    SELECT l_orderkey, l_linenumber,
           nullif(l_discount, 0.0) AS disc_or_null,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_coalesced,
           (nullif(l_discount, 0.0) IS DISTINCT FROM nullif(l_tax, 0.0)) AS distinct_flag,
           (l_discount IS NULL) AS disc_is_null
    FROM lineitem
    WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("predicate", "null"),
)


# --- §2.9 LATERAL / correlated & scalar subqueries ---------------------------

_sql_query(
    "lateral_topn",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_custkey < 100
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """,
    tags=("lateral", "subquery"),
)

_sql_query(
    "scalar_subquery_select",
    """
    SELECT n_name,
           (SELECT count(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey) AS n_cust,
           (SELECT max(s_acctbal) FROM supplier s WHERE s.s_nationkey = n.n_nationkey) AS top_supp_bal
    FROM nation n
    ORDER BY n_name
    """,
    tags=("subquery", "scalar"),
)


# --- pivot (grammar has no PIVOT; Presto expresses it as conditional agg — we
# cover Spark's native pivot against the conditional-agg oracle) --------------


@register(
    "pivot_linestatus",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O",
           sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F"
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("pivot", "aggregation"),
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = catalog.table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .orderBy("l_returnflag")
    )


# --- prepared statements (PREPARE/EXECUTE/DEALLOCATE, SURVEY §3.4;
#     QueryPreparer.java + ParameterRewriter.java substitute positional ?
#     parameters before planning — same here, so Catalyst sees literals and
#     pushdown/folding work as if the user inlined them) ---------------------


@register(
    "prepared_execute",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, CAST(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice < 150000.0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("prepared", "session"),
)
def prepared_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREPARE + EXECUTE ... USING with positional parameters."""
    from sensql_presto_spark.statements import StatementSession

    sess = StatementSession(spark, sf_dir)
    sess.execute(
        "PREPARE prio_totals FROM "
        "SELECT o_orderpriority, count(*) AS n, "
        "CAST(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total "
        "FROM orders WHERE o_orderstatus = ? AND o_totalprice < ? "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    return sess.execute("EXECUTE prio_totals USING 'F', 150000.0")


@register(
    "ddl_logical_view",
    oracle="""
    SELECT n_name, count(*) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    tags=("ddl", "view", "session"),
    doc="Logical CREATE VIEW lifecycle (create-view.rst / CreateViewTask."
    "java): a view defined through the statement layer is queried like a "
    "table; Catalyst inlines the definition so pushdown/broadcast apply "
    "as if the user had written the subquery.",
)
def ddl_logical_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark.statements import StatementSession

    sess = StatementSession(spark, sf_dir)
    sess.execute("DROP VIEW IF EXISTS supplier_nations")
    sess.execute(
        "CREATE VIEW supplier_nations AS "
        "SELECT s_suppkey, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey"
    )
    return sess.execute(
        "SELECT n_name, count(*) AS n_suppliers FROM supplier_nations "
        "GROUP BY n_name ORDER BY n_name"
    )


# --- WITH RECURSIVE (SqlBase.g4:143 "WITH RECURSIVE? namedQuery") -------
#
# Spark 4 executes recursive CTEs natively (the UnionLoop operator), so the
# reference's recursive grammar maps 1:1. The hierarchy is a binary tree
# over the nation keys (parent(k) = floor((k-1)/2) — pure arithmetic, so
# both engines walk the identical tree); the walk accumulates depth and
# the ancestor-path key sum. Scale shape: each recursion step is one join
# of the frontier against the base relation — frontier-sized state, the
# same bound as the connected-components rounds.

_sql_query(
    "recursive_cte_hierarchy",
    """
    WITH RECURSIVE anc(id, depth, path_sum) AS (
        SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT n.n_nationkey, a.depth + CAST(1 AS BIGINT),
               a.path_sum + n.n_nationkey
        FROM nation n JOIN anc a
          ON CAST((n.n_nationkey - 1 - ((n.n_nationkey - 1) % 2)) / 2 AS BIGINT) = a.id
         AND n.n_nationkey > 0
    )
    SELECT id, depth, path_sum FROM anc ORDER BY id
    """,
    tags=("relational", "recursive"),
    doc="WITH RECURSIVE hierarchy walk: binary tree over nation keys, "
    "per-node depth and ancestor-path sum; frontier-join recursion "
    "(Spark 4 UnionLoop).",
)
