"""Session statement layer: PREPARE / EXECUTE / DEALLOCATE and SHOW STATS.

Reference surface (SURVEY.md §3.4): the grammar's preparable statements
(presto-parser SqlBase.g4 PREPARE/EXECUTE/DEALLOCATE) are handled by
QueryPreparer (presto-main/.../execution/QueryPreparer.java), which looks
up the prepared text from session state and substitutes positional ``?``
parameters (sql/ParameterRewriter.java); SHOW STATS is rewritten into a
table-statistics scan by sql/rewrite/ShowStatsRewrite.java backed by
MetadataManager.getTableStatistics.

Spark mapping: prepared statements are session-side text with literal
substitution before ``spark.sql`` (Catalyst then plans the substituted
query normally — constant folding sees real literals, so pushdown works
exactly as if the user had inlined them). SHOW STATS runs ONE distributed
aggregation pass over the target relation; the driver receives only the
per-column scalars, never data rows.
"""

from __future__ import annotations

import itertools
import re
import threading
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from sensql_presto_spark import catalog

_PREPARE_RE = re.compile(r"^\s*PREPARE\s+(\w+)\s+FROM\s+(.+)$", re.IGNORECASE | re.DOTALL)
_EXECUTE_RE = re.compile(r"^\s*EXECUTE\s+(\w+)(?:\s+USING\s+(.+))?$", re.IGNORECASE | re.DOTALL)
_DEALLOC_RE = re.compile(r"^\s*DEALLOCATE\s+PREPARE\s+(\w+)\s*$", re.IGNORECASE)
_SHOW_STATS_RE = re.compile(r"^\s*SHOW\s+STATS\s+FOR\s+(.+)$", re.IGNORECASE | re.DOTALL)
_EXPLAIN_IO_RE = re.compile(
    r"^\s*EXPLAIN\s*\(\s*TYPE\s+IO\s*\)\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_EXPLAIN_VALIDATE_RE = re.compile(
    r"^\s*EXPLAIN\s*\(\s*TYPE\s+VALIDATE\s*\)\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_EXPLAIN_DISTRIBUTED_RE = re.compile(
    r"^\s*EXPLAIN\s*\(\s*TYPE\s+DISTRIBUTED\s*\)\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_EXPLAIN_LOGICAL_RE = re.compile(
    r"^\s*EXPLAIN\s*\(\s*TYPE\s+LOGICAL\s*\)\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_EXPLAIN_ANALYZE_RE = re.compile(r"^\s*EXPLAIN\s+ANALYZE\s+(.+)$", re.IGNORECASE | re.DOTALL)
_DESCRIBE_INPUT_RE = re.compile(r"^\s*DESCRIBE\s+INPUT\s+(\w+)\s*$", re.IGNORECASE)
_DESCRIBE_OUTPUT_RE = re.compile(r"^\s*DESCRIBE\s+OUTPUT\s+(\w+)\s*$", re.IGNORECASE)
_SET_SESSION_RE = re.compile(r"^\s*SET\s+SESSION\s+(\w+)\s*=\s*(.+)$", re.IGNORECASE | re.DOTALL)
_RESET_SESSION_RE = re.compile(r"^\s*RESET\s+SESSION\s+(\w+)\s*$", re.IGNORECASE)
_SHOW_SESSION_RE = re.compile(r"^\s*SHOW\s+SESSION\s*$", re.IGNORECASE)
_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)(?:\s+WHERE\s+(.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MV_RE = re.compile(r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$", re.IGNORECASE)
# Logical views (create-view.rst / CreateViewTask.java). The engine's
# catalog is session-scoped temp views, so CREATE VIEW lands as a session
# view over them (Spark rejects a *persistent* view referencing temp
# relations — INVALID_TEMP_OBJ_REFERENCE); definition text is kept for
# SHOW CREATE VIEW, and names must not shadow base tables or matviews
# (the round-2 advisor's matview-shadowing rule, applied here too).
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\w+)"
    r"(?:\s+SECURITY\s+(DEFINER|INVOKER))?\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(\w+)\s*$", re.IGNORECASE
)
_SHOW_CREATE_VIEW_RE = re.compile(r"^\s*SHOW\s+CREATE\s+VIEW\s+(\w+)\s*$", re.IGNORECASE)
# CREATE FUNCTION (SqlBase.g4:72-79 createFunction; executed by the
# function-namespace managers in the reference). Optional routine
# characteristics between RETURNS <type> and RETURN <expr> are accepted
# and discarded: LANGUAGE SQL / DETERMINISTIC / null-input behavior /
# COMMENT — Spark SQL functions are SQL-language and deterministic-iff-
# their-body-is by construction.
_CREATE_FN_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMPORARY\s+)?FUNCTION\s+([\w.]+)\s*"
    r"\((.*?)\)\s*RETURNS\s+([\w]+(?:\s*\([\w,\s]*\))?(?:\s*<.*?>)?)\s*"
    r"((?:COMMENT\s+'[^']*'|LANGUAGE\s+SQL|NOT\s+DETERMINISTIC|DETERMINISTIC|"
    r"RETURNS\s+NULL\s+ON\s+NULL\s+INPUT|CALLED\s+ON\s+NULL\s+INPUT)(?:\s+|$))*"
    r"RETURN\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FN_RE = re.compile(
    r"^\s*DROP\s+(?:TEMPORARY\s+)?FUNCTION\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$", re.IGNORECASE
)
_SHOW_FNS_RE = re.compile(r"^\s*SHOW\s+FUNCTIONS\s*(?:LIKE\s+('.*')\s*)?$", re.IGNORECASE)
# Metadata listing statements (SqlBase.g4 showTables/showSchemas/
# showCatalogs/showColumns/showCreate; served by MetadataListing.java /
# ShowQueriesRewrite.java in the reference).
_SHOW_CATALOGS_RE = re.compile(r"^\s*SHOW\s+CATALOGS\s*$", re.IGNORECASE)
# USE catalog.schema / USE schema (SqlBase.g4 use rule; the reference's
# Session catalog/schema defaults with CATALOG_NOT_FOUND / SCHEMA_NOT_FOUND
# error contracts).
_USE_RE = re.compile(r"^\s*USE\s+(?:(\w+)\.)?(\w+)\s*$", re.IGNORECASE)
# ALTER TABLE (SqlBase.g4 alterTable rules). The parquet catalog views are
# immutable — ALTER on them gets the DELETE-on-parquet-style loud contract
# pointing at the snapshot-table path; Spark-managed tables pass through.
_ALTER_TABLE_RE = re.compile(r"^\s*ALTER\s+TABLE\s+(\w+)\s+(.*)$", re.IGNORECASE | re.DOTALL)
_SHOW_SCHEMAS_RE = re.compile(r"^\s*SHOW\s+SCHEMAS(?:\s+FROM\s+\w+)?\s*$", re.IGNORECASE)
_SHOW_TABLES_RE = re.compile(
    r"^\s*SHOW\s+TABLES(?:\s+FROM\s+\w+)?(?:\s+LIKE\s+'([^']*)')?\s*$", re.IGNORECASE
)
_SHOW_COLUMNS_RE = re.compile(
    r"^\s*(?:SHOW\s+COLUMNS\s+(?:FROM|IN)|DESCRIBE|DESC)\s+(\w+)\s*$", re.IGNORECASE
)
_SHOW_CREATE_MV_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$", re.IGNORECASE
)
_SHOW_CREATE_FN_RE = re.compile(r"^\s*SHOW\s+CREATE\s+FUNCTION\s+([\w.]+)\s*$", re.IGNORECASE)
_SHOW_CREATE_TABLE_RE = re.compile(r"^\s*SHOW\s+CREATE\s+TABLE\s+(\w+)\s*$", re.IGNORECASE)
# Transaction statements (SqlBase.g4 startTransaction/commit/rollback;
# presto-main/.../transaction/TransactionManager.java).
_START_TXN_RE = re.compile(
    r"^\s*START\s+TRANSACTION"
    r"((?:\s*,?\s*(?:ISOLATION\s+LEVEL\s+(?:READ\s+UNCOMMITTED|READ\s+COMMITTED|"
    r"REPEATABLE\s+READ|SERIALIZABLE)|READ\s+ONLY|READ\s+WRITE))*)\s*$",
    re.IGNORECASE,
)
_COMMIT_RE = re.compile(r"^\s*COMMIT(?:\s+WORK)?\s*$", re.IGNORECASE)
_ROLLBACK_RE = re.compile(r"^\s*ROLLBACK(?:\s+WORK)?\s*$", re.IGNORECASE)
# CREATE TYPE … AS ENUM (SqlBase.g4:61-63 createType; BigintEnumType.java /
# VarcharEnumType.java). Minimal enum surface: the type registers a
# constructor function that validates membership and errors on any value
# outside the enum — the reference's INVALID_CAST_ARGUMENT contract for
# casting to an enum type.
_CREATE_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+([\w.]+)\s+AS\s+ENUM\s*\((.+)\)\s*$", re.IGNORECASE | re.DOTALL
)
# Distinct types (DistinctType.java; CREATE TYPE name AS base) — a named
# alias over a base type whose constructor is just an identity cast, the
# reference's semantics for casting base -> distinct type.
_CREATE_DISTINCT_TYPE_RE = re.compile(
    r"^\s*CREATE\s+TYPE\s+([\w.]+)\s+AS\s+(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*$",
    re.IGNORECASE,
)
_DROP_TYPE_RE = re.compile(r"^\s*DROP\s+TYPE\s+([\w.]+)\s*$", re.IGNORECASE)
# Access control (SqlBase.g4:97-117 grant/revoke/role productions;
# presto-main/.../security/AccessControlManager.java). Implemented over
# sensql_presto_spark.access.AccessControl — see that module's docstring
# for the scope contract (table-level privileges, transitive roles,
# PUBLIC, WITH GRANT OPTION, opt-in enforcement).
_CREATE_ROLE_RE = re.compile(r"^\s*CREATE\s+ROLE\s+(\w+)\s*$", re.IGNORECASE)
_DROP_ROLE_RE = re.compile(r"^\s*DROP\s+ROLE\s+(\w+)\s*$", re.IGNORECASE)
_GRANT_ROLE_RE = re.compile(
    r"^\s*GRANT\s+(\w+)\s+TO\s+(?:(USER|ROLE)\s+)?(\w+)\s*$", re.IGNORECASE
)
_REVOKE_ROLE_RE = re.compile(
    r"^\s*REVOKE\s+(\w+)\s+FROM\s+(?:(USER|ROLE)\s+)?(\w+)\s*$", re.IGNORECASE
)
_GRANT_RE = re.compile(
    r"^\s*GRANT\s+([\w\s,]+?)\s+ON\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+"
    r"(?:(USER|ROLE)\s+)?(\w+)(\s+WITH\s+GRANT\s+OPTION)?\s*$",
    re.IGNORECASE,
)
_REVOKE_RE = re.compile(
    r"^\s*REVOKE\s+(GRANT\s+OPTION\s+FOR\s+)?([\w\s,]+?)\s+ON\s+(?:TABLE\s+)?"
    r"([\w.]+)\s+FROM\s+(?:(USER|ROLE)\s+)?(\w+)\s*$",
    re.IGNORECASE,
)
_SET_ROLE_RE = re.compile(r"^\s*SET\s+ROLE\s+(\w+)\s*$", re.IGNORECASE)
# SQL-statement DML on managed tables (SqlBase.g4 delete/update/merge
# productions; executed by DeleteExecute / UpdateExecute / MergeOperator in
# the reference). Spark's v1 parquet tables reject row-level operations, so
# each statement rewrites to a copy-on-write full-table replace — the same
# discipline mutation.WritableTable uses, applied to spark_catalog managed
# tables (the tables a statement-layer CTAS creates). Base parquet views
# keep their immutable loud contract.
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+))?\s*$", re.IGNORECASE | re.DOTALL
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+"
    r"(\([\s\S]+?\)|[\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+([\s\S]+?)"
    r"\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+([\s\S]+?)"
    r"(?:\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*\(([^)]*)\)\s*VALUES\s*\(([\s\S]+)\))?\s*$",
    re.IGNORECASE,
)
_SHOW_ROLES_RE = re.compile(r"^\s*SHOW\s+(?:CURRENT\s+)?ROLES\s*$", re.IGNORECASE)
_SHOW_ROLE_GRANTS_RE = re.compile(r"^\s*SHOW\s+ROLE\s+GRANTS\s*$", re.IGNORECASE)
_SHOW_GRANTS_RE = re.compile(
    r"^\s*SHOW\s+GRANTS(?:\s+ON\s+(?:TABLE\s+)?([\w.]+))?\s*$", re.IGNORECASE
)
# alterFunction / renameSchema productions (SqlBase.g4 statement audit) —
# no Spark counterpart (SQL functions carry no alterable characteristics;
# Spark databases cannot be renamed), so each gets a loud contract
# instead of a raw parser error
_ALTER_FN_RE = re.compile(r"^\s*ALTER\s+FUNCTION\b", re.IGNORECASE)
_RENAME_SCHEMA_RE = re.compile(r"^\s*ALTER\s+SCHEMA\s+[\w.]+\s+RENAME\b", re.IGNORECASE)
_CALL_RE = re.compile(r"^\s*CALL\s+([\w.]+)\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)

# Presto parameter/return types that spell differently in Spark DDL.
_FN_TYPE_MAP = {
    "varchar": "STRING",
    "real": "FLOAT",
    "integer": "INT",
    "varbinary": "BINARY",
}


def _translate_fn_type(presto_type: str) -> str:
    t = presto_type.strip()
    return _FN_TYPE_MAP.get(t.lower(), t)


def _translate_fn_params(params: str) -> str:
    """``x double, s varchar`` → Spark DDL parameter list, types mapped."""
    out = []
    for p in split_top_level(params):
        bits = p.split()
        if len(bits) < 2:
            raise ValueError(f"Invalid function parameter declaration: {p!r}")
        out.append(f"{bits[0]} {_translate_fn_type(' '.join(bits[1:]))}")
    return ", ".join(out)


def _proc_literal(text: str):
    """CALL argument literal: quoted string (with '' escapes) or integer."""
    text = text.strip()
    if text.startswith("'") and text.endswith("'"):
        return text[1:-1].replace("''", "'")
    try:
        return int(text)
    except ValueError:
        return text


def split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside single-quoted strings and parentheses."""
    parts, depth, in_str, cur = [], 0, False, []
    i = 0
    while i < len(text):
        ch = text[i]
        if in_str:
            cur.append(ch)
            if ch == "'":
                # '' is an escaped quote inside a string literal
                if i + 1 < len(text) and text[i + 1] == "'":
                    cur.append("'")
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def count_parameters(sql: str) -> int:
    """Number of positional ``?`` markers outside string literals."""
    n, in_str, i = 0, False, 0
    while i < len(sql):
        ch = sql[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "?":
            n += 1
        i += 1
    return n


def substitute_parameters(sql: str, params: list[str]) -> str:
    """Replace positional ``?`` markers (outside string literals) in order.

    Mirrors ParameterRewriter: parameter count must match marker count.
    """
    out, in_str, used = [], False, 0
    i = 0
    while i < len(sql):
        ch = sql[i]
        if in_str:
            out.append(ch)
            if ch == "'":
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    out.append("'")
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
            out.append(ch)
        elif ch == "?":
            if used >= len(params):
                raise ValueError("Incorrect number of parameters: too few supplied")
            out.append(f"({params[used]})")
            used += 1
        else:
            out.append(ch)
        i += 1
    if used != len(params):
        raise ValueError(f"Incorrect number of parameters: expected {used}, got {len(params)}")
    return "".join(out)


_NUMERIC = (ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
_FIXED_WIDTH_BYTES = {
    ByteType: 1,
    ShortType: 2,
    IntegerType: 4,
    LongType: 8,
    FloatType: 4,
    DoubleType: 8,
    DateType: 4,
    TimestampType: 8,
    TimestampNTZType: 8,
}


def show_stats(spark: SparkSession, sf_dir: str, target: str) -> DataFrame:
    """SHOW STATS FOR <table> | (query) — Presto's 7-column stats relation.

    One aggregation pass over the relation (partial aggs map-side, a single
    scalar row to the driver), then the per-column layout is assembled as a
    local VALUES relation — same shape as ShowStatsRewrite's output:
    column_name, data_size, distinct_values_count, nulls_fraction,
    row_count, low_value, high_value (summary row carries row_count).
    """
    target = target.strip()
    if target.startswith("(") and target.endswith(")"):
        rel = catalog.sql(spark, sf_dir, target[1:-1])
    else:
        rel = catalog.sql(spark, sf_dir, f"SELECT * FROM {target}")

    aggs: list = [F.count(F.lit(1)).alias("__rc")]
    for f in rel.schema.fields:
        c, n = F.col(f.name), f.name
        aggs.append(F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"{n}__nulls"))
        dt = type(f.dataType)
        if isinstance(f.dataType, (StringType, *_NUMERIC, DateType, TimestampType, TimestampNTZType)):
            aggs.append(F.approx_count_distinct(c).alias(f"{n}__ndv"))
            aggs.append(F.min(c).cast("string").alias(f"{n}__lo"))
            aggs.append(F.max(c).cast("string").alias(f"{n}__hi"))
        if isinstance(f.dataType, StringType):
            aggs.append(F.sum(F.octet_length(c)).alias(f"{n}__size"))
        elif dt in _FIXED_WIDTH_BYTES:
            aggs.append(
                F.sum(F.when(c.isNull(), 0).otherwise(_FIXED_WIDTH_BYTES[dt])).alias(f"{n}__size")
            )
    stats = rel.agg(*aggs).collect()[0].asDict()

    rc = stats["__rc"]
    rows = []
    for f in rel.schema.fields:
        n = f.name
        rows.append(
            (
                n,
                float(stats[f"{n}__size"]) if stats.get(f"{n}__size") is not None else None,
                float(stats[f"{n}__ndv"]) if stats.get(f"{n}__ndv") is not None else None,
                (float(stats[f"{n}__nulls"]) / rc) if rc else None,
                None,
                stats.get(f"{n}__lo"),
                stats.get(f"{n}__hi"),
            )
        )
    rows.append((None, None, None, None, float(rc), None, None))
    return catalog.local_frame(
        spark,
        rows,
        "column_name string, data_size double, distinct_values_count double, "
        "nulls_fraction double, row_count double, low_value string, high_value string",
    )


def _strip_quotes(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] == "'" and v[-1] == "'":
        return v[1:-1].replace("''", "'")
    return v


class _SessionProperty:
    """One Presto session property mapped onto a Spark conf."""

    def __init__(self, conf: str, to_spark, from_spark, description: str):
        self.conf = conf
        self.to_spark = to_spark
        self.from_spark = from_spark
        self.description = description


def _join_dist_to_spark(v: str) -> str:
    v = v.upper()
    if v == "PARTITIONED":
        return "-1"  # never broadcast: both sides shuffle on the join keys
    if v == "BROADCAST":
        return "100MB"
    if v == "AUTOMATIC":
        return "10MB"  # Spark's default threshold; AQE refines at runtime
    raise ValueError(f"Invalid value for join_distribution_type: {v}")


def _join_dist_from_spark(v: str) -> str:
    if v in ("-1", "-1b"):
        return "PARTITIONED"
    return "BROADCAST" if v.upper().startswith("100") else "AUTOMATIC"


# The user-facing subset of SystemSessionProperties.java, each mapped to
# the Spark conf that controls the equivalent planner/runtime behavior.
SESSION_PROPERTIES: dict[str, _SessionProperty] = {
    "join_distribution_type": _SessionProperty(
        "spark.sql.autoBroadcastJoinThreshold",
        _join_dist_to_spark,
        _join_dist_from_spark,
        "AUTOMATIC | PARTITIONED | BROADCAST (DetermineJoinDistributionType.java)",
    ),
    "join_reordering_strategy": _SessionProperty(
        "spark.sql.cbo.joinReorder.enabled",
        lambda v: {"AUTOMATIC": "true", "NONE": "false", "ELIMINATE_CROSS_JOINS": "false"}[
            v.upper()
        ],
        lambda v: "AUTOMATIC" if v == "true" else "ELIMINATE_CROSS_JOINS",
        "NONE | ELIMINATE_CROSS_JOINS | AUTOMATIC (ReorderJoins.java; "
        "cross-join elimination is Catalyst's baseline either way)",
    ),
    "hash_partition_count": _SessionProperty(
        "spark.sql.shuffle.partitions",
        lambda v: str(int(v)),
        lambda v: v,
        "number of shuffle partitions (SystemSessionProperties.java "
        "HASH_PARTITION_COUNT -> spark.sql.shuffle.partitions)",
    ),
    "enable_dynamic_filtering": _SessionProperty(
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        lambda v: v.lower(),
        lambda v: v,
        "runtime bloom-filter pushdown (DynamicFilterSourceOperator.java)",
    ),
    "query_max_execution_time": _SessionProperty(
        "spark.sql.broadcastTimeout",
        lambda v: v,
        lambda v: v,
        "coarse per-exchange timeout analog",
    ),
}


# Cross-session cache coherence for managed-table writes: Spark caches a
# data-source table's file listing PER SESSION (tableRelationCache), so a
# forked session overwriting table files (COMMIT publish, DML overwrite)
# leaves every other session holding a dead listing — their next read dies
# with FAILED_READ_FILE instead of seeing the new data.  All client
# sessions live in this one Python process (server.py forks SparkSessions,
# not processes), so a module-level generation counter is enough: every
# write path bumps the written table, and each session refreshes any table
# whose generation moved past what it last saw before dispatching a
# statement.  This is the engine-side analog of the metastore version
# check a multi-coordinator deployment would do.
_TABLE_GENERATIONS: dict[str, int] = {}

# Every PUBLISH of a managed base table — COMMIT's conflict-check-then-
# publish AND autocommit DML overwrites — happens under this process-wide
# lock (server.py serves client sessions from threads).  Without covering
# the autocommit path, a plain DML landing inside another session's
# check->publish window would be silently clobbered with no conflict
# raised on either side.  The lock serializes publishes of DISJOINT
# tables too — a deliberate simplicity/correctness trade documented here:
# per-table locks would restore that concurrency if the server ever
# fronts real parallel write load.
_PUBLISH_LOCK = threading.Lock()

# Staging-table names must be unique across ALL live sessions in the
# process (forked sessions share one metastore); a monotonic counter is
# collision-proof where id(self)-derived names are merely unlikely to
# collide.
_STAGE_COUNTER = itertools.count()


class _TxnStage(NamedTuple):
    """One table's staging copy inside an open transaction."""

    stage: str  # the private staging table
    name: str  # the first spelling the transaction used for the table
    gen: int  # the table's _TABLE_GENERATIONS value when the copy was cut


def _bump_table_generation(table: str) -> None:
    key = table.split(".")[-1].lower()
    _TABLE_GENERATIONS[key] = _TABLE_GENERATIONS.get(key, 0) + 1


class StatementSession:
    """Stateful statement dispatcher shared by the CLI and the HTTP server."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        user: str = "admin",
        access: "object | None" = None,
        enforce_access: bool = False,
    ):
        from sensql_presto_spark.access import AccessControl
        from sensql_presto_spark.matview import MaterializedViewStore

        self.spark = spark
        self.sf_dir = sf_dir
        self.prepared: dict[str, str] = {}
        self.views: dict[str, str] = {}  # logical views: name -> defining SQL
        self.view_security: dict[str, str] = {}  # name -> DEFINER | INVOKER
        self.types: dict[str, list[str]] = {}
        self.functions: dict[str, str] = {}  # bare name -> original CREATE text
        self._conf_defaults: dict[str, str | None] = {}
        self._in_txn = False
        # Staging state is keyed on the NORMALIZED table name (bare,
        # lowered — the same normalization as _TABLE_GENERATIONS): Spark
        # resolution is case-insensitive and schema-optional, so 'DELETE
        # FROM T' and 'INSERT INTO default.t' touch one physical table
        # and must share one staging copy (two verbatim-keyed stages
        # would each cut from the base pre-image and the later publish
        # would silently discard the earlier statement's changes).  COMMIT
        # compares each stage's cut generation against the current one for
        # write-write conflict detection (first committer wins).
        self._txn_stages: dict[str, _TxnStage] = {}
        self._exec_depth = 0  # EXECUTE re-dispatch recursion guard
        # last _TABLE_GENERATIONS values this session has refreshed up to
        self._seen_generations: dict[str, int] = dict(_TABLE_GENERATIONS)
        self._txn_unrollbackable: str | None = None
        # Set by the server when this session replaces one it LRU-evicted:
        # references to dropped PREPARE state then raise the session-expired
        # contract (reference: idle-session expiry / Session timeout) instead
        # of a misleading plain not-found on a silently-fresh session.
        self.session_expired = False
        self.schema = "default"  # USE target; single-catalog engine
        # Session identity + access control (AccessControlManager analog).
        # ``access`` is shared engine state (the server passes one store to
        # all client sessions); enforcement is opt-in like the reference's
        # configured-system-access-control path, and the default user is
        # an admin so single-user flows are unaffected.
        self.user = user
        self.access = access if access is not None else AccessControl()
        self.enforce_access = enforce_access
        self._enabled_roles: set[str] | None = None  # None = ALL granted roles
        self.matviews = MaterializedViewStore(spark, sf_dir)
        self.matviews.register_all()
        # CALL targets (ProcedureRegistry.java analog); hosts may add more
        self.procedures: dict[str, object] = {
            "system.runtime.kill_query": self._proc_kill_query_default,
            "system.rollback_to_snapshot": self._proc_rollback_to_snapshot,
            "system.refresh_materialized_view": self.matviews.refresh,
        }

    def _active_roles(self) -> set[str]:
        granted = self.access.roles_of(self.user)
        if self._enabled_roles is None:
            return granted
        return granted & self._enabled_roles | {"public"}

    def _check_table_access(self, text: str) -> None:
        """Table-level SELECT enforcement for query statements: every known
        base-table name referenced in the text needs a SELECT grant.  Name
        matching is lexical over the fixed catalog table set — the
        FileBasedAccessControl table-granularity model; a table name inside
        a string literal over-checks at worst (fails closed)."""
        if not self.enforce_access:
            return
        seen: set[str] = set()
        frontier = [text]
        while frontier:
            lowered = re.findall(r"[a-z_][a-z0-9_]*", frontier.pop().lower())
            for t in catalog.TABLES:
                if t in lowered:
                    self.access.check(self.user, self._active_roles(), "SELECT", t)
            # SECURITY INVOKER views run with the READER's rights: expand
            # their bodies and check the underlying tables too (DEFINER
            # views were checked against their creator at CREATE time)
            for v, mode in self.view_security.items():
                if mode == "INVOKER" and v.lower() in lowered and v not in seen:
                    seen.add(v)
                    frontier.append(self.views.get(v, ""))

    def _ack(self, statement: str) -> DataFrame:
        """The one-row ``result`` relation of a statement that returns no rows."""
        return catalog.local_frame(self.spark, [(statement,)], "result string")

    def _missing_prepared(self, name: str) -> None:
        if self.session_expired:
            # protocol contract: the server expired (LRU-evicted) this
            # client's previous session, dropping its PREPARE/SET SESSION
            # state — say so instead of a misleading plain not-found
            raise ValueError(
                f"Session expired: prepared statement '{name}' was dropped "
                "when the server expired this client's idle session state; "
                "re-PREPARE and retry"
            )
        raise ValueError(f"Prepared statement not found: {name}")

    def execute(self, text: str) -> DataFrame:
        text = text.strip().rstrip(";")
        self._refresh_stale_tables()
        if self._in_txn:
            # writes OUTSIDE the transactional DML surface autocommit; note
            # the first one so a later ROLLBACK fails loudly instead of
            # silently keeping it (durable-write classes only — session
            # state like CREATE VIEW/FUNCTION/TYPE is not data)
            if re.match(
                r"^\s*(CREATE\s+TABLE|CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED|"
                r"REFRESH\s+MATERIALIZED|DROP\s+(TABLE|MATERIALIZED)|"
                r"INSERT\s+OVERWRITE|ALTER\s+TABLE|CALL)\b",
                text,
                re.IGNORECASE,
            ) and self._txn_unrollbackable is None:
                self._txn_unrollbackable = " ".join(text.split())[:60]
            m = re.match(r"^\s*INSERT\s+INTO\s+([\w.]+)", text, re.IGNORECASE)
            if m:
                name = m.group(1)
                if (
                    name.split(".")[-1].lower() not in catalog.TABLES
                    and self.spark.catalog.tableExists(name)
                ):
                    # redirect the INSERT to the private staging copy (the
                    # temp-view shadow covers reads but cannot accept an
                    # INSERT, so the statement text targets staging
                    # directly); published on COMMIT like every other DML
                    stage = self._txn_stage(name)
                    if stage != name:
                        text = re.sub(
                            r"^(\s*INSERT\s+INTO\s+)[\w.]+",
                            lambda mm: mm.group(1) + stage,
                            text,
                            count=1,
                            flags=re.IGNORECASE,
                        )
            # Qualified references (default.t / spark_catalog.default.t)
            # resolve PAST the bare-name temp-view shadow straight to the
            # base table — a silent wrong-isolation read of pre-snapshot
            # data.  Rewrite them to the staging copy for the
            # transactional surface.  Skipped: the unrollbackable
            # autocommit class (CTAS/DROP/INSERT OVERWRITE/... — matched
            # above) keeps its documented autocommit-on-base behavior
            # under every spelling, and PREPARE/EXECUTE/DEALLOCATE —
            # a prepared body must be saved VERBATIM (the stage name
            # would dangle after COMMIT); EXECUTE's bound text is
            # rewritten at re-dispatch time instead, when it runs.
            if self._txn_stages and not re.match(
                r"^\s*(CREATE|REFRESH|DROP|INSERT\s+OVERWRITE|ALTER|CALL|"
                r"PREPARE|EXECUTE|DEALLOCATE)\b",
                text,
                re.IGNORECASE,
            ):
                text = self._txn_rewrite_qualified(text)
        m = _PREPARE_RE.match(text)
        if m:
            self.prepared[m.group(1).lower()] = m.group(2).strip()
            return self._ack("PREPARE")
        m = _DEALLOC_RE.match(text)
        if m:
            name = m.group(1).lower()
            if name not in self.prepared:
                self._missing_prepared(name)
            del self.prepared[name]
            return self._ack("DEALLOCATE")
        m = _EXECUTE_RE.match(text)
        if m:
            name = m.group(1).lower()
            if name not in self.prepared:
                self._missing_prepared(name)
            params = split_top_level(m.group(2)) if m.group(2) else []
            bound = substitute_parameters(self.prepared[name], params)
            # enforce on the substituted text — the reference's Analyzer
            # checks EVERY analyzed query, including EXECUTE expansion
            # (StatementAnalyzer.java), so 'PREPARE p FROM SELECT ...;
            # EXECUTE p' must not bypass the table-grant check.
            self._check_table_access(bound)
            # Route the bound text back through the FULL dispatcher: an
            # EXECUTE'd INSERT/DELETE/CREATE must get the same in-txn
            # staging redirect and write-announce (generation bump) as
            # typing the statement directly — dispatching to catalog.sql
            # here dirty-wrote the base table inside transactions and
            # left other sessions' cached listings stale.  The depth
            # guard keeps a prepared 'EXECUTE p' from recursing forever.
            if self._exec_depth >= 8:
                raise ValueError(
                    "EXECUTE expansion exceeded depth 8 — prepared "
                    "statements that EXECUTE each other form a cycle"
                )
            self._exec_depth += 1
            try:
                return self.execute(bound)
            finally:
                self._exec_depth -= 1
        # must run before the generic DESCRIBE <table> (SHOW COLUMNS) match
        m = _DESCRIBE_INPUT_RE.match(text)
        if m:
            return self._describe_input(m.group(1).lower())
        m = _DESCRIBE_OUTPUT_RE.match(text)
        if m:
            return self._describe_output(m.group(1).lower())
        m = _SHOW_STATS_RE.match(text)
        if m:
            return show_stats(self.spark, self.sf_dir, m.group(1))
        m = _EXPLAIN_IO_RE.match(text)
        if m:
            from sensql_presto_spark.explain import explain_io

            # the reference analyzes (and access-checks) the inner query for
            # every EXPLAIN type — schema/stats of an ungranted table must
            # not leak through an EXPLAIN side channel
            self._check_table_access(m.group(1))
            return explain_io(self.spark, catalog.sql(self.spark, self.sf_dir, m.group(1)))
        m = _EXPLAIN_ANALYZE_RE.match(text)
        if m:
            from sensql_presto_spark.explain import explain_analyze

            self._check_table_access(m.group(1))
            return explain_analyze(self.spark, catalog.sql(self.spark, self.sf_dir, m.group(1)))
        m = _EXPLAIN_DISTRIBUTED_RE.match(text)
        if m:
            from sensql_presto_spark.explain import explain_distributed

            self._check_table_access(m.group(1))
            return explain_distributed(
                self.spark, catalog.sql(self.spark, self.sf_dir, m.group(1))
            )
        m = _EXPLAIN_LOGICAL_RE.match(text)
        if m:
            self._check_table_access(m.group(1))
            # EXPLAIN (TYPE LOGICAL): Presto's default explain — the
            # optimizer's output before fragmentation (PlanPrinter.
            # textLogicalPlan). Catalyst analog: the optimized logical
            # plan, one line per operator.
            qe = catalog.sql(self.spark, self.sf_dir, m.group(1))._jdf.queryExecution()
            lines = [(ln,) for ln in str(qe.optimizedPlan()).rstrip("\n").split("\n")]
            return catalog.local_frame(self.spark, lines, "query_plan STRING")
        m = _EXPLAIN_VALIDATE_RE.match(text)
        if m:
            # Analyze without executing (the VALIDATE explain type): building
            # the DataFrame runs Catalyst's parser + analyzer; any resolution
            # error surfaces here, and no job is submitted.
            self._check_table_access(m.group(1))
            catalog.sql(self.spark, self.sf_dir, m.group(1)).schema
            return catalog.local_frame(self.spark, [(True,)], "valid boolean")
        m = _SET_SESSION_RE.match(text)
        if m:
            return self._set_session(m.group(1).lower(), _strip_quotes(m.group(2)))
        m = _RESET_SESSION_RE.match(text)
        if m:
            return self._reset_session(m.group(1).lower())
        m = _SHOW_SESSION_RE.match(text)
        if m:
            return self._show_session()
        m = _CREATE_MV_RE.match(text)
        if m:
            # DEFINER-rights check at definition time (Presto views/matviews
            # run with the owner's permissions — SqlSecurity DEFINER): the
            # creator needs SELECT on every base table the body reads, and
            # may not use a matview to read tables they were never granted.
            self._check_table_access(m.group(3))
            self.matviews.create(m.group(2), m.group(3).strip(), replace=bool(m.group(1)))
            return self._ack("CREATE MATERIALIZED VIEW")
        m = _REFRESH_MV_RE.match(text)
        if m:
            # optional WHERE = the reference's partition-scoped refresh
            # (SqlBase.g4 refreshMaterializedView production)
            self.matviews.refresh(m.group(1), m.group(2))
            return self._ack("REFRESH MATERIALIZED VIEW")
        m = _DROP_MV_RE.match(text)
        if m:
            self.matviews.drop(m.group(1))
            return self._ack("DROP MATERIALIZED VIEW")
        m = _CREATE_VIEW_RE.match(text)
        if m:
            name, body = m.group(2), m.group(4).strip()
            security = (m.group(3) or "DEFINER").upper()
            if name.lower() in catalog.TABLES or self.matviews.exists(name):
                raise ValueError(f"View name conflicts with an existing table: {name}")
            if not m.group(1) and name in self.views:
                raise ValueError(f"View already exists: {name}")
            # SECURITY DEFINER (the reference default, SqlBase.g4 createView):
            # the creator's rights are checked at definition time and cover
            # all later readers.  SECURITY INVOKER defers to query time —
            # _check_table_access expands invoker-view names found in the
            # query text and checks their bodies against the READER.
            if security == "DEFINER":
                self._check_table_access(body)
            catalog.register_views(self.spark, self.sf_dir)
            self.spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {body}")
            self.views[name] = body
            self.view_security[name] = security
            return self._ack("CREATE VIEW")
        m = _DROP_VIEW_RE.match(text)
        if m:
            name = m.group(2)
            if name not in self.views:
                if m.group(1):
                    return self._ack("DROP VIEW")
                raise ValueError(f"View not found: {name}")
            del self.views[name]
            self.spark.catalog.dropTempView(name)
            return self._ack("DROP VIEW")
        m = _SHOW_CREATE_VIEW_RE.match(text)
        if m:
            name = m.group(1)
            if name not in self.views:
                raise ValueError(f"View not found: {name}")
            ddl = f"CREATE VIEW {name} AS\n{self.views[name]}"
            return catalog.local_frame(self.spark, [(ddl,)], "`Create View` string")
        m = _CREATE_FN_RE.match(text)
        if m:
            return self._create_function(
                replace=bool(m.group(1)),
                name=m.group(3),
                params=m.group(4),
                rtype=m.group(5),
                body=m.group(7).strip(),
            )
        m = _DROP_FN_RE.match(text)
        if m:
            name = m.group(2).split(".")[-1]
            self.spark.sql(
                f"DROP TEMPORARY FUNCTION {'IF EXISTS ' if m.group(1) else ''}{name}"
            )
            return self._ack("DROP FUNCTION")
        m = _SHOW_FNS_RE.match(text)
        if m:
            like = f" LIKE {m.group(1)}" if m.group(1) else ""
            return self.spark.sql(f"SHOW USER FUNCTIONS{like}")
        if _SHOW_CATALOGS_RE.match(text):
            return catalog.local_frame(self.spark, [("spark",)], "Catalog string")
        m = _ALTER_TABLE_RE.match(text)
        if m:
            target = m.group(1).lower()
            if target in catalog.TABLES:
                raise ValueError(
                    f"ALTER TABLE is not supported on the immutable parquet "
                    f"catalog table '{target}' — snapshot-versioned tables "
                    f"(mutation.WritableTable) support ADD/DROP/RENAME COLUMN "
                    f"as copy-on-write schema evolution"
                )
            # Spark-managed tables (CREATE TABLE ... via this session) pass
            # through to Spark's own ALTER TABLE DDL
            return self.spark.sql(text)
        m = _USE_RE.match(text)
        if m:
            cat, schema = m.group(1), m.group(2).lower()
            if cat is not None and cat.lower() != "spark":
                raise ValueError(f"Catalog does not exist: {cat}")
            if schema not in ("default", "information_schema"):
                raise ValueError(f"Schema does not exist: {schema}")
            self.schema = schema
            return self._ack("USE")
        if _SHOW_SCHEMAS_RE.match(text):
            # default + information_schema plus any CREATE SCHEMA results
            # (CREATE/DROP SCHEMA pass through to Spark's catalog)
            names = {"default", "information_schema"} | {
                db.name for db in self.spark.catalog.listDatabases()
            }
            return catalog.local_frame(
                self.spark, [(n,) for n in sorted(names)], "Schema string"
            )
        m = _SHOW_TABLES_RE.match(text)
        if m:
            # honor the USE target: information_schema lists its metadata
            # relations, not the default schema's tables
            if self.schema == "information_schema":
                names = ["columns", "tables"]
            else:
                names = sorted(set(catalog.TABLES) | set(self.matviews.names()))
            if m.group(1):
                import fnmatch

                pat = m.group(1).replace("%", "*").replace("_", "?")
                names = [n for n in names if fnmatch.fnmatch(n, pat)]
            return catalog.local_frame(self.spark, [(n,) for n in names], "Table string")
        m = _SHOW_COLUMNS_RE.match(text)
        if m:
            return self._show_columns(m.group(1))
        m = _SHOW_CREATE_MV_RE.match(text)
        if m:
            name = m.group(1)
            if not self.matviews.exists(name):
                raise ValueError(f"Materialized view not found: {name}")
            ddl = f"CREATE MATERIALIZED VIEW {name} AS\n{self.matviews.definition(name)}"
            return catalog.local_frame(
                self.spark, [(ddl,)], "`Create Materialized View` string"
            )
        m = _SHOW_CREATE_FN_RE.match(text)
        if m:
            name = m.group(1).split(".")[-1].lower()
            if name not in self.functions:
                raise ValueError(f"Function not found: {name}")
            return catalog.local_frame(
                self.spark, [(self.functions[name],)], "`Create Function` string"
            )
        m = _SHOW_CREATE_TABLE_RE.match(text)
        if m:
            return self._show_create_table(m.group(1))
        m = _CREATE_TYPE_RE.match(text)
        if m:
            return self._create_type(m.group(1), m.group(2))
        m = _CREATE_DISTINCT_TYPE_RE.match(text)
        if m:
            bare = m.group(1).split(".")[-1]
            base = _translate_fn_type(m.group(2))
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {bare}(v {base}) "
                f"RETURNS {base} RETURN v"
            )
            self.types[bare] = [f"DISTINCT OF {m.group(2).strip()}"]
            return self._ack("CREATE TYPE")
        m = _DROP_TYPE_RE.match(text)
        if m:
            name = m.group(1).split(".")[-1]
            if name not in self.types:
                raise ValueError(f"Type not found: {name}")
            del self.types[name]
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
            # enum types also registered a <name>_enum_key accessor —
            # leaving it behind would serve the old type's keys after a
            # re-CREATE with different members
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}_enum_key")
            return self._ack("DROP TYPE")
        m = _START_TXN_RE.match(text)
        if m:
            return self._start_transaction()
        if _COMMIT_RE.match(text):
            return self._commit()
        if _ROLLBACK_RE.match(text):
            return self._rollback()
        m = _DELETE_RE.match(text)
        if m:
            return self._sql_delete(m.group(1), m.group(2))
        m = _UPDATE_RE.match(text)
        if m:
            return self._sql_update(m.group(1), m.group(2), m.group(3))
        m = _MERGE_RE.match(text)
        if m:
            return self._sql_merge(*m.groups())
        m = _CREATE_ROLE_RE.match(text)
        if m:
            self.access.create_role(m.group(1), self.user, self.enforce_access)
            return self._ack("CREATE ROLE")
        m = _DROP_ROLE_RE.match(text)
        if m:
            self.access.drop_role(m.group(1), self.user, self.enforce_access)
            return self._ack("DROP ROLE")
        m = _GRANT_RE.match(text)
        if m:
            privs = [p for p in m.group(1).split(",")]
            self.access.grant(
                privs, m.group(2), m.group(3) or "USER", m.group(4),
                self.user, self.enforce_access, grant_option=bool(m.group(5)),
            )
            return self._ack("GRANT")
        m = _REVOKE_RE.match(text)
        if m:
            privs = [p for p in m.group(2).split(",")]
            self.access.revoke(
                privs, m.group(3), m.group(4) or "USER", m.group(5),
                self.user, self.enforce_access, grant_option_for=bool(m.group(1)),
            )
            return self._ack("REVOKE")
        m = _GRANT_ROLE_RE.match(text)
        if m:
            self.access.grant_role(
                m.group(1), m.group(2) or "USER", m.group(3), self.user, self.enforce_access
            )
            return self._ack("GRANT ROLE")
        m = _REVOKE_ROLE_RE.match(text)
        if m:
            self.access.revoke_role(
                m.group(1), m.group(2) or "USER", m.group(3), self.user, self.enforce_access
            )
            return self._ack("REVOKE ROLE")
        m = _SET_ROLE_RE.match(text)
        if m:
            role = m.group(1).lower()
            if role == "all":
                self._enabled_roles = None
            elif role == "none":
                self._enabled_roles = set()
            else:
                if role not in self.access.roles_of(self.user):
                    raise ValueError(f"Role '{role}' has not been granted to {self.user}")
                self._enabled_roles = {role}
            return self._ack("SET ROLE")
        if _SHOW_ROLE_GRANTS_RE.match(text):
            # roles granted to the session user, including transitively via
            # role-to-role grants (reference showRoleGrants production)
            rows = [(r,) for r in sorted(self.access.roles_of(self.user)) if r != "public"]
            return catalog.local_frame(self.spark, rows, "role string")
        if _SHOW_ROLES_RE.match(text):
            rows = [(r,) for r in self.access.roles()]
            return catalog.local_frame(self.spark, rows, "role string")
        if _ALTER_FN_RE.match(text):
            raise ValueError(
                "ALTER FUNCTION is not supported: SQL functions in this engine "
                "carry no alterable routine characteristics (reference "
                "alterFunction production; DROP + CREATE OR REPLACE instead)"
            )
        if _RENAME_SCHEMA_RE.match(text):
            raise ValueError(
                "ALTER SCHEMA ... RENAME is not supported: Spark databases "
                "cannot be renamed (reference renameSchema production)"
            )
        m = _SHOW_GRANTS_RE.match(text)
        if m:
            rows = self.access.grants_for(self.user, self._active_roles(), m.group(1))
            schema = (
                "grantee string, grantee_type string, privilege_type string, "
                "table_name string, is_grantable boolean"
            )
            return catalog.local_frame(self.spark, rows, schema)
        m = _CALL_RE.match(text)
        if m:
            return self._call_procedure(m.group(1), m.group(2))
        self._check_table_access(text)
        m = re.match(
            r"^\s*(?:INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?"
            r"|CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"|DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?)([\w.]+)",
            text,
            re.IGNORECASE,
        )
        if m and m.group(1).split(".")[-1].lower() not in catalog.TABLES:
            if m.group(1).startswith("__txn_stage_"):
                # session-private staging target (in-txn INSERT redirect):
                # no publish, no announce, no lock
                return catalog.sql(self.spark, self.sf_dir, text)
            # autocommit write to / recreate / drop of a managed table:
            # announce it so other sessions invalidate their cached file
            # listings (a reader holding a dropped-and-recreated table's
            # old listing would otherwise crash or read stale rows).
            # Under _PUBLISH_LOCK — the lock's contract covers EVERY
            # base-table publish, and an autocommit INSERT landing inside
            # another session's COMMIT conflict-check->publish window
            # would otherwise be silently clobbered by the overwrite with
            # no conflict raised on either side.  The lock is held for
            # the whole statement (job-length for INSERT..SELECT/CTAS),
            # an extension of the documented serialize-all-publishes
            # simplicity/correctness trade at _PUBLISH_LOCK's definition;
            # shrinking it to write-length would require splitting the
            # raw SQL into compute and write phases — revisit if the
            # server ever fronts real parallel write load.
            with _PUBLISH_LOCK:
                out = catalog.sql(self.spark, self.sf_dir, text)
                self._note_table_write(m.group(1))
            return out
        return catalog.sql(self.spark, self.sf_dir, text)

    # -- CALL procedures (SqlBase.g4 call rule; metadata/ProcedureRegistry
    #    .java). Built-ins mirror the reference's shipped procedures:
    #    system.runtime.kill_query (connector/system/KillQueryProcedure
    #    .java — the HTTP server injects the coordinator-bound impl),
    #    system.rollback_to_snapshot (the iceberg connector's
    #    RollbackToSnapshotProcedure over mutation.WritableTable snapshot
    #    versions), and system.refresh_materialized_view (the REFRESH
    #    statement as a procedure). Hosts can register more via
    #    ``self.procedures[name] = callable``. ------------------------------

    def _call_procedure(self, name: str, argtext: str) -> DataFrame:
        key = name.lower()
        if key not in self.procedures:
            raise ValueError(
                f"Procedure not registered: {name} (reference ProcedureRegistry)"
            )
        args, kwargs = [], {}
        for part in split_top_level(argtext) if argtext.strip() else []:
            part = part.strip()
            m = re.match(r"^(\w+)\s*=>\s*(.+)$", part, re.DOTALL)
            if m:
                kwargs[m.group(1).lower()] = _proc_literal(m.group(2).strip())
            else:
                args.append(_proc_literal(part))
        self.procedures[key](*args, **kwargs)
        return self._ack("CALL")

    def _proc_kill_query_default(self, query_id: str) -> None:
        raise ValueError(
            "system.runtime.kill_query needs the coordinator's query registry "
            "— available on HTTP-server sessions (KillQueryProcedure.java)"
        )

    def _proc_rollback_to_snapshot(self, table_path: str, version) -> None:
        from sensql_presto_spark.mutation import WritableTable

        t = WritableTable(self.spark, table_path)
        t.insert_overwrite(t.read_version(int(version)))

    # -- CREATE FUNCTION (SqlBase.g4:72-79 → Spark SQL-function DDL) --------

    def _create_function(
        self, replace: bool, name: str, params: str, rtype: str, body: str
    ) -> DataFrame:
        """Route Presto CREATE FUNCTION to a Spark SQL temporary function.

        Qualified names (``catalog.schema.fn``) register under the bare
        function name — Spark temp functions have a single namespace, the
        same visible behavior as the reference's session function namespace
        for unqualified calls.  The expression body is handed to Catalyst
        verbatim: any registered scalar (including the Presto-compat layer)
        is callable inside it, and calls inline into codegen like every
        other SQL function.
        """
        bare = name.split(".")[-1]
        ddl = (
            f"CREATE {'OR REPLACE ' if replace else ''}TEMPORARY FUNCTION {bare}"
            f"({_translate_fn_params(params)}) RETURNS {_translate_fn_type(rtype)} "
            f"RETURN {body}"
        )
        self.spark.sql(ddl)
        # remember the canonical Presto-shaped DDL for SHOW CREATE FUNCTION
        self.functions[bare.lower()] = (
            f"CREATE FUNCTION {bare}({params.strip()}) RETURNS {rtype.strip()} "
            f"RETURN {body}"
        )
        return self._ack("CREATE FUNCTION")

    # -- metadata listing (MetadataListing.java / ShowQueriesRewrite.java) --

    def _relation(self, name: str):
        if name in catalog.TABLES:
            return catalog.table(self.spark, self.sf_dir, name)
        if self.matviews.exists(name):
            return self.matviews.read(name)
        raise ValueError(f"Table not found: {name}")

    def _describe_input(self, name: str) -> DataFrame:
        """DESCRIBE INPUT <stmt> (DescribeInputRewrite): one row per ``?``
        parameter. Presto infers parameter types from context where it can;
        this engine reports ``unknown`` for every position (the documented
        always-valid answer per describe-input.rst — Catalyst has no
        type-inference hook for unbound parameters)."""
        if name not in self.prepared:
            self._missing_prepared(name)
        n = count_parameters(self.prepared[name])
        return catalog.local_frame(
            self.spark, [(i, "unknown") for i in range(n)], "Position int, Type string"
        )

    def _describe_output(self, name: str) -> DataFrame:
        """DESCRIBE OUTPUT <stmt> (DescribeOutputRewrite): the prepared
        query's output columns with Presto type signatures and fixed-width
        byte sizes (0 for variable-width, matching describe-output.rst).
        ``?`` parameters are bound to NULL for analysis only — the query
        never executes. Catalog/schema/table provenance and the aliased
        bit are not tracked through Catalyst's analyzed plan here; they
        render as the single-catalog defaults."""
        from sensql_presto_spark.server import _presto_type

        if name not in self.prepared:
            self._missing_prepared(name)
        sql = self.prepared[name]
        # analysis reveals the output schema — enforce like every other
        # analyzed-query path (no schema leak through DESCRIBE OUTPUT)
        self._check_table_access(sql)
        bound = substitute_parameters(sql, ["NULL"] * count_parameters(sql))
        schema = catalog.sql(self.spark, self.sf_dir, bound).schema
        rows = [
            (
                f.name,
                "spark",
                "default",
                "",
                _presto_type(f.dataType),
                _FIXED_WIDTH_BYTES.get(type(f.dataType), 0),
                False,
            )
            for f in schema.fields
        ]
        return catalog.local_frame(
            self.spark,
            rows,
            '`Column Name` string, Catalog string, Schema string, `Table` string, '
            "Type string, `Type Size` int, Aliased boolean",
        )

    def _show_columns(self, name: str) -> DataFrame:
        """SHOW COLUMNS / DESCRIBE — Presto's 4-column layout with
        Presto-type signature strings (ShowColumnsRewrite output shape)."""
        from sensql_presto_spark.server import _presto_type

        rows = [
            (f.name, _presto_type(f.dataType), "", "") for f in self._relation(name).schema.fields
        ]
        return catalog.local_frame(
            self.spark, rows, "Column string, Type string, Extra string, Comment string"
        )

    def _show_create_table(self, name: str) -> DataFrame:
        from sensql_presto_spark.server import _presto_type

        fields = self._relation(name).schema.fields
        cols = ",\n".join(f'   "{f.name}" {_presto_type(f.dataType)}' for f in fields)
        ddl = f'CREATE TABLE {name} (\n{cols}\n)\nWITH (\n   format = \'PARQUET\'\n)'
        return catalog.local_frame(self.spark, [(ddl,)], "`Create Table` string")

    # -- CREATE TYPE … AS ENUM (BigintEnumType.java / VarcharEnumType.java) -

    def _create_type(self, name: str, values: str) -> DataFrame:
        """Enum emulation: base type + membership check constraint.

        The enum registers as a constructor function ``<name>(v)`` whose
        body is a codegen'd CASE: member values pass through, NULL stays
        NULL, anything else raises — the reference's INVALID_CAST_ARGUMENT
        behavior when casting a non-member to an enum type
        (EnumCasts.java). All-numeric value lists make a BIGINT enum,
        otherwise VARCHAR (BigintEnumType/VarcharEnumType distinction).
        """
        bare = name.split(".")[-1]
        vals = split_top_level(values)
        if not vals:
            raise ValueError(f"Enum type must declare at least one value: {name}")
        # Presto declares enums as 'KEY' = value pairs (BigintEnumType /
        # VarcharEnumType); a bare value list (our shorthand) uses the
        # value's own text as its key.
        entries: list[tuple[str, str]] = []
        for v in vals:
            m = re.match(r"^\s*'([^']*)'\s*=\s*(.+?)\s*$", v)
            if m:
                entries.append((m.group(1), m.group(2).strip()))
            else:
                entries.append((v.strip().strip("'"), v.strip()))
        value_lits = [lit for _, lit in entries]
        numeric = all(re.fullmatch(r"-?\d+", lit) for lit in value_lits)
        if numeric:
            param_t, members = "BIGINT", ", ".join(value_lits)
        else:
            bad = [
                lit
                for lit in value_lits
                if not (len(lit) >= 2 and lit[0] == "'" and lit[-1] == "'")
            ]
            if bad:
                raise ValueError(f"Enum values must be quoted strings or integers: {bad}")
            param_t, members = "STRING", ", ".join(value_lits)
        self.spark.sql(
            f"""CREATE OR REPLACE TEMPORARY FUNCTION {bare}(v {param_t})
                RETURNS {param_t} RETURN
                CASE WHEN v IN ({members}) THEN v
                     WHEN v IS NULL THEN NULL
                     ELSE cast(raise_error(concat(
                          'Invalid enum value for {bare}: ', cast(v AS STRING)))
                          AS {param_t}) END"""
        )
        # enum_key accessor (LongEnumOperators.java:155 / VarcharEnum
        # equivalent): value -> declared key, INVALID_FUNCTION_ARGUMENT on
        # a non-member. Registered per-type (<name>_enum_key) because Spark
        # has no type-directed dispatch for the generic enum_key name.
        key_cases = " ".join(
            f"WHEN v = {lit} THEN '{key}'" for key, lit in entries
        )
        self.spark.sql(
            f"""CREATE OR REPLACE TEMPORARY FUNCTION {bare}_enum_key(v {param_t})
                RETURNS STRING RETURN
                CASE {key_cases}
                     ELSE cast(raise_error(concat(
                          'No value ', cast(v AS STRING),
                          ' in enum type {bare}')) AS STRING) END"""
        )
        self.types[bare] = [key for key, _ in entries]
        return self._ack("CREATE TYPE")

    # -- SQL DML on managed tables (SqlBase.g4 delete/update/merge;
    #    DeleteExecute / UpdateExecute / MergeOperator). Spark v1 parquet
    #    tables reject row-level ops, so each statement is a copy-on-write
    #    full-table replace: compute the post-image, materialize it
    #    (localCheckpoint breaks the overwrite-while-reading cycle), then
    #    overwrite — mutation.WritableTable's discipline on spark_catalog
    #    managed tables. Returns the affected-row count like the
    #    reference's update-count protocol field. -----------------------------

    def _writable_table(self, name: str, priv: str = "SELECT") -> str:
        if name.startswith("__txn_stage_"):
            # a qualified reference already rewritten to this txn's
            # staging copy: enforce the privilege against the LOGICAL
            # table it stages, not the private stage name
            if self.enforce_access:
                logical = self._txn_logical(name)
                self.access.check(self.user, self._active_roles(), priv, logical)
            return name
        bare = name.split(".")[-1].lower()
        if bare in catalog.TABLES:
            raise ValueError(
                f"DML is not supported on the immutable base parquet table "
                f"{bare}: CREATE TABLE ... AS SELECT a managed copy first "
                "(reference: connector without row-level write support)"
            )
        if not self.spark.catalog.tableExists(name):
            raise ValueError(f"Table not found: {name}")
        if self.enforce_access:
            # each DML statement checks ITS OWN privilege class
            # (checkCanDeleteFromTable / checkCanInsertIntoTable / ...)
            self.access.check(self.user, self._active_roles(), priv, bare)
        return name

    def _replace_table(self, name: str, df: DataFrame) -> None:
        out = df.localCheckpoint(eager=True)
        if name.startswith("__txn_stage_"):
            # session-private staging copy: no publish, no lock
            out.write.mode("overwrite").saveAsTable(name)
            return
        # base-table publish: atomic with respect to every COMMIT's
        # conflict-check->publish window (see _PUBLISH_LOCK)
        with _PUBLISH_LOCK:
            out.write.mode("overwrite").saveAsTable(name)
            self._note_table_write(name)

    def _note_table_write(self, name: str) -> None:
        """Record an overwrite of ``name`` so OTHER sessions refresh their
        stale file listings (no-op for this session, which just wrote).
        Staging tables are session-private — never announced."""
        if name.startswith("__txn_stage_"):
            return
        _bump_table_generation(name)
        self._seen_generations[name.split(".")[-1].lower()] = _TABLE_GENERATIONS[
            name.split(".")[-1].lower()
        ]

    def _sql_delete(self, table: str, cond: str | None) -> DataFrame:
        t = self._txn_stage(self._writable_table(table, "DELETE"))
        df = self.spark.table(t)
        total = df.count()
        # a row where the predicate is NULL is not deleted (WHERE semantics)
        keep = df.filter(f"NOT coalesce(({cond}), false)") if cond else df.limit(0)
        keep = keep.localCheckpoint(eager=True)
        deleted = total - keep.count()
        self._replace_table(t, keep)
        return catalog.local_frame(self.spark, [(deleted,)], "rows bigint")

    def _sql_update(self, table: str, assignments: str, cond: str | None) -> DataFrame:
        t = self._txn_stage(self._writable_table(table, "UPDATE"))
        df = self.spark.table(t)
        sets: dict[str, str] = {}
        for part in split_top_level(assignments):
            col, expr = part.split("=", 1)
            sets[col.strip().lower()] = expr.strip()
        unknown = set(sets) - {f.name.lower() for f in df.schema.fields}
        if unknown:
            raise ValueError(f"Column not found in {t}: {sorted(unknown)}")
        cols = []
        for f in df.schema.fields:
            if f.name.lower() in sets:
                e = f"CAST(({sets[f.name.lower()]}) AS {f.dataType.simpleString()})"
                if cond:
                    e = f"CASE WHEN {cond} THEN {e} ELSE `{f.name}` END"
                cols.append(F.expr(e).alias(f.name))
            else:
                cols.append(F.col(f.name))
        updated = df.filter(cond).count() if cond else df.count()
        self._replace_table(t, df.select(*cols))
        return catalog.local_frame(self.spark, [(updated,)], "rows bigint")

    def _sql_merge(
        self,
        target: str,
        talias: str | None,
        source: str,
        salias: str | None,
        on: str,
        set_clause: str,
        ins_cols: str | None,
        ins_vals: str | None,
    ) -> DataFrame:
        t = self._writable_table(target, "UPDATE")
        if ins_cols and self.enforce_access:
            # the extra INSERT check must name the LOGICAL table even when
            # the in-txn qualified rewrite already turned the target into
            # its staging copy (grants never exist on stage names)
            logical = self._txn_logical(t)
            self.access.check(
                self.user, self._active_roles(), "INSERT", logical.split(".")[-1].lower()
            )
        t = self._txn_stage(t)
        ta = talias or "t"
        sa = salias or "s"
        tdf = self.spark.table(t).withColumn("__tid", F.monotonically_increasing_id())
        tdf = tdf.localCheckpoint(eager=True)  # pin ids for the guard
        src_sql = source if source.strip().startswith("(") else f"(SELECT * FROM {source})"
        sdf = self.spark.sql(f"SELECT *, true AS __m FROM {src_sql} {sa}")
        fields = [f for f in self.spark.table(t).schema.fields]
        # each statement below reads the target and source through {mt}
        # and {ms} slots; the user's text goes in with its braces doubled
        q = catalog.escape_braces
        on = q(on)
        # reference contract: one target row must match at most one source row
        # (MergeOperator raises MULTIPLE_TARGET_MATCHES)
        multi = self.spark.sql(
            f"SELECT {ta}.__tid FROM {{mt}} {ta} JOIN {{ms}} {sa} ON {on} "
            f"GROUP BY {ta}.__tid HAVING count(*) > 1",
            mt=tdf,
            ms=sdf,
        ).limit(1).collect()
        if multi:
            raise ValueError(
                "MERGE: one target table row matched more than one source row"
            )
        sets = {}
        for part in split_top_level(set_clause):
            col, expr = part.split("=", 1)
            sets[col.strip().lower().removeprefix(f"{ta.lower()}.")] = expr.strip()
        proj = []
        for f in fields:
            if f.name.lower() in sets:
                e = f"CAST(({sets[f.name.lower()]}) AS {f.dataType.simpleString()})"
                proj.append(
                    f"CASE WHEN {sa}.__m THEN {e} ELSE {ta}.`{f.name}` END AS `{f.name}`"
                )
            else:
                proj.append(f"{ta}.`{f.name}` AS `{f.name}`")
        merged = self.spark.sql(
            f"SELECT {q(', '.join(proj))} FROM {{mt}} {ta} "
            f"LEFT JOIN {{ms}} {sa} ON {on}",
            mt=tdf,
            ms=sdf,
        )
        # update count = matched (updated) + inserted rows, the reference's
        # MERGE update-count semantics
        n_touched = (
            self.spark.sql(
                f"SELECT count(*) AS c FROM {{mt}} {ta} JOIN {{ms}} {sa} ON {on}",
                mt=tdf,
                ms=sdf,
            )
            .collect()[0]
            .c
        )
        if ins_cols:
            names = [c.strip().lower() for c in split_top_level(ins_cols)]
            vals = split_top_level(ins_vals or "")
            if len(names) != len(vals):
                raise ValueError("MERGE INSERT column/value count mismatch")
            val_for = dict(zip(names, vals))
            ins_proj = []
            for f in fields:
                if f.name.lower() in val_for:
                    ins_proj.append(
                        f"CAST(({val_for[f.name.lower()]}) AS "
                        f"{f.dataType.simpleString()}) AS `{f.name}`"
                    )
                else:
                    ins_proj.append(
                        f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                    )
            inserts = self.spark.sql(
                f"SELECT {q(', '.join(ins_proj))} FROM {{ms}} {sa} WHERE NOT EXISTS "
                f"(SELECT 1 FROM {{mt}} {ta} WHERE {on})",
                mt=tdf,
                ms=sdf,
            )
            n_touched += inserts.count()
            merged = merged.unionByName(inserts)
        self._replace_table(t, merged)
        return catalog.local_frame(self.spark, [(n_touched,)], "rows bigint")

    # -- transactions (TransactionManager.java). Statement-layer DML on
    #    managed tables is TRANSACTIONAL with staging-based isolation: the
    #    first mutation of a table inside START TRANSACTION copies its
    #    pre-image to a PRIVATE staging table; every in-txn read and write
    #    targets the staging copy (DML handlers explicitly, plain SELECTs
    #    through a session-local temp-view shadow of the bare name), so
    #    OTHER sessions keep reading the untouched base table until COMMIT
    #    publishes the staging copy over it (READ COMMITTED for
    #    cross-session readers — eliminating the pre-r6 dirty-read
    #    contract — with read-your-writes inside the transaction; forked
    #    sessions have separate temp-view catalogs, so the shadow is
    #    invisible to every other client).  ROLLBACK just drops the
    #    staging copy — the base was never touched.  Publish is
    #    per-table last-writer-wins, the snapshot-overwrite model of
    #    mutation.py; qualified (schema.table) references in raw statement
    #    text are rewritten to the staging copy at dispatch
    #    (_txn_rewrite_qualified), so every spelling of a staged table
    #    reads the same snapshot.  Writes the engine cannot stage (CTAS,
    #    matview DDL, WritableTable API calls) keep the loud
    #    cannot-rollback contract via _txn_unrollbackable. ---

    def _refresh_stale_tables(self) -> None:
        """Drop this session's cached file listings for tables other
        sessions have overwritten since we last looked (see
        _TABLE_GENERATIONS) — without this, a forked reader crashes with
        FAILED_READ_FILE on the overwritten files instead of reading the
        published data."""
        for key, gen in list(_TABLE_GENERATIONS.items()):
            if self._seen_generations.get(key, 0) < gen:
                if key in self._txn_stages:  # keys are already normalized
                    # our own staging shadow covers reads of it for now —
                    # but do NOT mark the generation seen, so the refresh
                    # happens on the first statement AFTER the shadow drops
                    # (COMMIT-conflict abort / ROLLBACK while another
                    # session published; without this the session reads a
                    # dead file listing and dies with FAILED_READ_FILE)
                    continue
                self._seen_generations[key] = gen
                try:
                    self.spark.catalog.refreshTable(key)
                except Exception:  # noqa: BLE001 — dropped since; nothing to refresh
                    pass

    def _txn_stage(self, table: str) -> str:
        """Return the physical DML target for ``table``: the private
        staging copy while a transaction is open (created on first touch,
        with a temp-view shadow so this session's plain SELECTs read it),
        the table itself otherwise.  Keyed on the normalized name so every
        spelling of one physical table shares one staging copy."""
        if not self._in_txn:
            return table
        if table.startswith("__txn_stage_"):
            return table  # already a staging target (rewritten reference)
        key = table.split(".")[-1].lower()
        if key in self._txn_stages:
            return self._txn_stages[key].stage
        # the stage name must be unique across ALL live sessions: forked
        # client sessions share one metastore, so a name derived only
        # from the table would let a second session's staging CREATE
        # clobber the first session's in-flight staging copy (found by
        # test_write_write_conflict_first_committer_wins); the global
        # counter is collision-proof
        stage = f"__txn_stage_{next(_STAGE_COUNTER)}_{abs(hash(key)) % 10**6}"
        gen = _TABLE_GENERATIONS.get(key, 0)
        self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
        df = self.spark.table(table).localCheckpoint(eager=True)
        df.write.saveAsTable(stage)
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {key} AS SELECT * FROM {stage}"
        )
        self._txn_stages[key] = _TxnStage(stage, table, gen)
        return stage

    def _txn_logical(self, name: str) -> str:
        """The normalized table a staging copy stands for (``name`` itself
        when it is not one of this transaction's stages)."""
        for key, st in self._txn_stages.items():
            if st.stage == name:
                return key
        return name

    def _txn_rewrite_qualified(self, text: str) -> str:
        """Rewrite qualified spellings of staged tables (``default.t``,
        ``spark_catalog.default.t``, backtick-quoted variants) to the
        staging copy — they resolve past the bare-name temp-view shadow
        straight to the base table, a silent wrong-isolation read.
        String literals are skipped — BOTH quote kinds, since Spark
        treats double-quoted tokens as strings too (the same lexical
        contract as the bare-name shadow; only the fixed ``default``
        schema is rewritten, so arbitrary ``alias.column`` references
        can never match)."""
        # split keeps the quoted segments at odd indexes ('' = escaped quote)
        parts = re.split(r"('(?:''|[^'])*'|\"[^\"]*\")", text)
        for i in range(0, len(parts), 2):  # even indexes sit outside literals
            for key, st in self._txn_stages.items():
                parts[i] = re.sub(
                    rf"(?<![\w.`])(?:`?spark_catalog`?\s*\.\s*)?`?default`?\s*\.\s*`?{re.escape(key)}`?(?!\w)",
                    st.stage,
                    parts[i],
                    flags=re.IGNORECASE,
                )
        return "".join(parts)

    def _txn_unshadow(self) -> None:
        for key in self._txn_stages:
            self.spark.catalog.dropTempView(key)

    def _txn_reset(self) -> None:
        """Forget this transaction's state and drop its staging tables.
        COMMIT and ROLLBACK both end here, so the state is empty whenever
        no transaction is open, even when a DROP fails."""
        stages, self._txn_stages = self._txn_stages, {}
        self._txn_unrollbackable = None
        for st in stages.values():
            self.spark.sql(f"DROP TABLE IF EXISTS {st.stage}")

    def _start_transaction(self) -> DataFrame:
        if self._in_txn:
            # NestedTransactionsNotSupportedException in the reference
            raise ValueError("Nested transactions not supported")
        self._in_txn = True
        return self._ack("START TRANSACTION")

    def _commit(self) -> DataFrame:
        if not self._in_txn:
            # reference: NOT_IN_TRANSACTION error outside a transaction
            raise ValueError("No transaction in progress")
        self._in_txn = False
        try:
            with _PUBLISH_LOCK:
                # write-write conflict detection (first committer wins):
                # if another session published a write to any staged table
                # AFTER this transaction cut its snapshot, publishing would
                # silently clobber that committed write — abort loudly
                # instead, snapshot-isolation style.  Checked under the
                # publish lock, BEFORE any table publishes (all-or-nothing).
                conflicts = sorted(
                    st.name
                    for key, st in self._txn_stages.items()
                    if _TABLE_GENERATIONS.get(key, 0) > st.gen
                )
                if conflicts:
                    self._txn_unshadow()
                    msg = (
                        "TRANSACTION_CONFLICT: table(s) "
                        + ", ".join(conflicts)
                        + " were modified and committed — by another session "
                        "or by a non-transactional statement of this session "
                        "— after this transaction snapshotted them; the "
                        "staged DML has been rolled back (first committer "
                        "wins — retry the transaction on the new state)"
                    )
                    if self._txn_unrollbackable:
                        # same loud contract as _rollback: a write outside
                        # the transactional DML surface already committed
                        # durably and is NOT undone by this abort
                        msg += (
                            f"; WARNING: statement '{self._txn_unrollbackable}'"
                            " committed outside the transactional DML surface"
                            " and was NOT undone"
                        )
                    raise ValueError(msg)
                # publish: staging becomes the table, atomically per table
                # from this engine's perspective (snapshot overwrite); only
                # now do other sessions see the transaction's writes
                published: list[str] = []
                for key, (stage, table, _) in self._txn_stages.items():
                    try:
                        out = self.spark.table(stage).localCheckpoint(eager=True)
                        self.spark.catalog.dropTempView(key)
                        out.write.mode("overwrite").saveAsTable(table)
                        # the overwrite IS the publish: count it as such
                        # immediately, and bump the generation even if the
                        # local REFRESH throws — a post-overwrite failure
                        # must not mis-report this table as discarded nor
                        # leave other sessions on the dead file listing
                        published.append(table)
                        try:
                            # our own listing refreshes now; other sessions
                            # refresh on their next statement via the
                            # generation counter
                            self.spark.sql(f"REFRESH TABLE {table}")
                        finally:
                            self._note_table_write(table)
                    except Exception as exc:
                        # a mid-loop publish failure (disk/executor error)
                        # cannot be made all-or-nothing under snapshot
                        # overwrite — earlier tables are already visible —
                        # so name exactly what published and what was
                        # discarded instead of returning a silent partial
                        # COMMIT (the _txn_unrollbackable loud contract)
                        discarded = sorted(
                            st.name
                            for st in self._txn_stages.values()
                            if st.name not in published
                        )
                        self._txn_unshadow()  # published views already
                        # dropped; this clears the dangling shadows of the
                        # unpublished tables (their stages drop below)
                        raise ValueError(
                            "COMMIT failed mid-publish on table "
                            f"{table}: table(s) "
                            + (", ".join(published) or "<none>")
                            + " were already published and remain visible; "
                            "staged changes to table(s) "
                            + ", ".join(discarded)
                            + " were DISCARDED — re-apply them on the "
                            "current state"
                        ) from exc
        finally:
            self._txn_reset()
        return self._ack("COMMIT")

    def _rollback(self) -> DataFrame:
        if not self._in_txn:
            raise ValueError("No transaction in progress")
        self._in_txn = False
        try:
            # the base tables were never touched — dropping the staging
            # copies and their shadows IS the rollback
            self._txn_unshadow()
            if self._txn_unrollbackable:
                # Loud contract instead of a silent wrong answer: a write
                # outside the transactional DML surface already committed
                # durably (snapshot time travel in mutation.py is the
                # recovery path for those).  Raised AFTER the un-shadowing
                # so the transactional-DML part of the txn really is undone.
                raise ValueError(
                    "ROLLBACK cannot fully undo this transaction: statement "
                    f"'{self._txn_unrollbackable}' committed outside the "
                    "transactional DML surface and was NOT undone "
                    "(managed-table DELETE/UPDATE/MERGE/INSERT were rolled "
                    "back; other writes autocommit)"
                )
        finally:
            self._txn_reset()
        return self._ack("ROLLBACK")

    # -- session properties (SET/RESET/SHOW SESSION, SURVEY §3.4;
    #    SystemSessionProperties.java names -> Spark confs) -----------------

    def _prop(self, name: str) -> _SessionProperty:
        if name not in SESSION_PROPERTIES:
            raise ValueError(f"Session property {name} does not exist")
        return SESSION_PROPERTIES[name]

    def _set_session(self, name: str, value: str) -> DataFrame:
        prop = self._prop(name)
        if prop.conf not in self._conf_defaults:
            self._conf_defaults[prop.conf] = self.spark.conf.get(prop.conf, None)
        self.spark.conf.set(prop.conf, prop.to_spark(value))
        return self._ack("SET SESSION")

    def _reset_session(self, name: str) -> DataFrame:
        prop = self._prop(name)
        default = self._conf_defaults.pop(prop.conf, None)
        if default is not None:
            self.spark.conf.set(prop.conf, default)
        else:
            self.spark.conf.unset(prop.conf)
        return self._ack("RESET SESSION")

    def _show_session(self) -> DataFrame:
        rows = []
        for name in sorted(SESSION_PROPERTIES):
            prop = SESSION_PROPERTIES[name]
            raw = self.spark.conf.get(prop.conf, None)
            value = prop.from_spark(raw) if raw is not None else None
            rows.append((name, value, prop.conf, prop.description))
        return catalog.local_frame(
            self.spark, rows, "name string, value string, spark_conf string, description string"
        )
