"""Table catalog over the driver-generated parquet testdata.

Mirrors the reference's connector metadata model (SURVEY.md §1.1:
``ConnectorTableHandle``/``ConnectorTableMetadata``) in the only way Spark
needs: parquet scans with pushdown and temp views for SQL. Each table's
schema is inferred from its file once per file version (absolute path,
mtime, size) and passed explicitly to every later read: repeat reads start
no inference job, and a rewritten file is inferred again rather than read
with a stale schema. The reference statically types every query
(``StatementAnalyzer.java:277``). The relation a read resolves is kept per
session while none of its files changes, so a repeat ``table`` call lists
no files and reads no schema.
"""

from __future__ import annotations

import functools
import os
import weakref
from collections.abc import Iterable
from types import SimpleNamespace
from urllib.parse import urlsplit
from urllib.request import url2pathname

import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructType, TimestampNTZType, TimestampType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
FILE_SLICE = 32  # input file URIs per py4j reply, well under its 8 KB buffer


def _ensure_session_conf(spark: SparkSession) -> None:
    """Runtime-settable confs the oracle comparison depends on.

    The driver may hand us a session we didn't build; timezone must be UTC
    so timestamps hash identically to DuckDB's UTC-naive values.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized reader
    # rejects; read as long nanos and convert (micros precision, exact here).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_events_ts(df: DataFrame, schema: StructType | None = None) -> DataFrame:
    """Coerce events.ts to TIMESTAMP regardless of testdata vintage.

    Older driver testdata stored ts as TIMESTAMP(NANOS), surfaced as raw
    long nanos under ``nanosAsLong``; newer testdata stores timestamp[us]
    directly. Integer division for the nanos path: nanos-since-epoch
    (~1.7e18) exceeds double's 2^53 exact range, so a float divide would
    corrupt the microsecond digit. ``schema`` is the schema ``df`` was read
    with, when the caller has it, which saves asking Spark for ``df.schema``.
    """
    ts_type = (schema or df.schema)["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # Session TZ is pinned to UTC (session.py), so this cast is an
        # identity on the instant and keeps unix_micros()/window() usable.
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


def file_version(path: str) -> tuple[str, int, int] | None:
    """A local file's version: (absolute path, ``st_mtime_ns``, ``st_size``).

    The one data-version rule of the engine: the schema cache, the kept
    table relations and the registered views here, the server's result
    cache and the SenSQL engine's resolved nodes all treat a file as
    unchanged exactly while this tuple is. A directory's version changes
    when an entry is added to it or removed from it. None when ``path`` is
    not a local file (a URI, or missing).
    """
    try:
        st = os.stat(path)
    except OSError:
        return None
    return os.path.abspath(path), st.st_mtime_ns, st.st_size


def unchanged(versions: Iterable[tuple[str, int, int]]) -> bool:
    """Whether every ``file_version`` in ``versions`` still holds."""
    return all(file_version(v[0]) == v for v in versions)


def _local_path(uri: str) -> str | None:
    parts = urlsplit(uri)
    if parts.scheme != "file" or parts.netloc:
        return None
    return url2pathname(parts.path)


@functools.lru_cache(maxsize=1)
def _plan_kinds(jvm) -> SimpleNamespace:
    """The JVM classes ``input_versions`` tells plan nodes apart by, and the
    constructor ``table`` makes a DataFrame of a kept relation with."""

    def cls(name: str):
        return jvm.java.lang.Class.forName("org.apache.spark.sql." + name)

    return SimpleNamespace(
        command=jvm.org.apache.spark.sql.catalyst.trees.TreePattern.COMMAND(),
        value_leaves=(
            cls("catalyst.plans.logical.LocalRelation"),
            cls("catalyst.plans.logical.OneRowRelation"),
        ),
        file_leaf=cls("execution.datasources.LogicalRelation"),
        fs_relation=cls("execution.datasources.HadoopFsRelation"),
        wrap_array=jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray,
        of_rows=jvm.org.apache.spark.sql.classic.Dataset.ofRows,
    )


def _input_uris(plan) -> tuple[list[str], list[str]] | None:
    """(input file URIs, file index root URIs) of ``plan``, its subqueries'
    included; None when it holds a command or a leaf of any other kind than
    a file source, LocalRelation or OneRowRelation. Every py4j call here is
    paid by every server statement, so the walk asks the JVM for whole lists
    (subqueries, leaves, joined URIs) rather than node by node."""
    kinds = _plan_kinds(SparkContext._jvm)
    files, roots = [], []
    subqueries = plan.subqueriesAll()
    for p in [plan] + [subqueries.apply(i) for i in range(subqueries.size())]:
        if p.containsPattern(kinds.command):
            return None
        leaves = p.collectLeaves()
        for leaf in (leaves.apply(i) for i in range(leaves.size())):
            if kinds.file_leaf.isInstance(leaf):
                relation = leaf.relation()
                if not kinds.fs_relation.isInstance(relation):
                    return None
                # a reply over py4j's 8 KB buffer waits out a 40 ms delayed
                # ACK, so the URIs come joined, FILE_SLICE at a time. URIs
                # quote control characters: a newline only separates them.
                uris = kinds.wrap_array(relation.inputFiles())
                for i in range(0, uris.length(), FILE_SLICE):
                    files += uris.slice(i, i + FILE_SLICE).mkString("\n").split("\n")
                paths = relation.location().rootPaths()
                roots += [paths.apply(i).toUri().toString() for i in range(paths.size())]
            elif not any(c.isInstance(leaf) for c in kinds.value_leaves):
                return None
    return files, roots


def input_versions(plan) -> tuple[tuple[str, int, int], ...] | None:
    """The sorted ``file_version``s of everything a logical plan reads: every
    input file, and every directory its file index lists (a root path and
    the directories between it and its files), so that a file added to a
    directory-backed table changes them. None when the plan is streaming or
    nondeterministic, or holds a command, a leaf other than a file source
    over local files, a LocalRelation or a OneRowRelation, or a path that
    no longer exists: its result may change while every file stays."""
    if plan.isStreaming() or not plan.deterministic():
        return None
    uris = _input_uris(plan)
    if uris is None:
        return None
    files, roots = ([_local_path(u) for u in us] for us in uris)
    if None in files or None in roots:
        return None
    dirs = {r for r in roots if os.path.isdir(r)}
    paths = set(files) | set(roots)
    for f in files:
        d = os.path.dirname(f)
        while d not in paths and any(d.startswith(r + os.sep) for r in dirs):
            paths.add(d)
            d = os.path.dirname(d)
    versions = {file_version(p) for p in paths}
    if None in versions:
        return None
    return tuple(sorted(versions))


# absolute path -> (file_version, schema inferred from that version).
# Process-wide, so forked sessions and every engine build share it. One
# entry per path: a rewritten file replaces its entry. No lock: an entry is
# written whole after its stat, so a racing miss only infers twice.
# Inference reads a footer in a one-task Spark job, which on small queries
# cost more than the scan itself.
_schemas: dict[str, tuple[tuple[str, int, int], StructType]] = {}


def schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet file schema of one table, as Spark reads it.

    Inferred on the first call per file version; later calls start no
    Spark job. Inference runs after ``_ensure_session_conf``, so
    ``nanosAsLong`` decides how events.ts comes back.
    """
    _ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    version = file_version(path)
    if version is None:
        # Not a local file (a URI, or missing): Spark resolves and reports it.
        return spark.read.parquet(path).schema
    hit = _schemas.get(version[0])
    if hit is None or hit[0] != version:
        hit = _schemas[version[0]] = (version, spark.read.parquet(path).schema)
    return hit[1]


# session -> {path: (the LogicalRelation a read resolved, its
# input_versions, the schema it was read with)}. Per session, because a
# relation holds the session it was resolved in; weakly, so a collected
# session drops its relations. No lock: a racing miss reads twice and the
# last store wins.
_relations: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One parquet-backed table. Columnar scan; Catalyst pushes filters.

    The relation a read resolves (file listing and schema) is kept per
    session while its ``input_versions`` hold, the engine's one version
    rule: a rewritten file, or a file added to or removed from a
    directory-backed table, makes the next call read again. Each call
    returns a new instance of the relation, with fresh expression ids, so
    two calls can be joined through the DataFrame API."""
    _ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    kept = _relations.setdefault(spark, {})
    hit = kept.get(path)
    if hit is not None and unchanged(hit[1]):
        relation, _, file_schema = hit
        kinds = _plan_kinds(SparkContext._jvm)
        df = DataFrame(kinds.of_rows(spark._jsparkSession, relation.newInstance()), spark)
    else:
        file_schema = schema(spark, sf_dir, name)
        df = spark.read.schema(file_schema).parquet(path)
        relation = df._jdf.queryExecution().analyzed()
        versions = input_versions(relation)
        if versions is not None:
            kept[path] = (relation, versions, file_schema)
    if name == "events":
        df = normalize_events_ts(df, file_schema)
    return df


# session -> (sf_dir whose views are registered, the input_versions of
# the relations they hold). Re-registering per query would replace every
# view and so invalidate any cached plan that referenced one, a
# measurable per-query overhead on timed builds.
# Keyed on the SparkSession OBJECT (weakly), not the SparkContext: temp
# views are per-session state, and forked sessions (spark.newSession(),
# the HTTP server's per-client isolation) share one context but need their
# own registration.  WeakKeyDictionary so a collected session can never
# alias a later one's cache slot.
_registered: "weakref.WeakKeyDictionary[SparkSession, tuple]" = weakref.WeakKeyDictionary()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view, and information_schema,
    once per (session, dir) while the views' files are unchanged.

    The views follow the engine's version rule (``file_version``): a view
    holds the relation its table resolved, so when a file it reads is
    rewritten, or a file is added to or removed from a directory-backed
    table, the next call registers every view again. The check stats each
    input file and table directory once per call. A table whose relation
    has no versions (not a local file) is registered once."""
    hit = _registered.get(spark)
    if hit is not None and hit[0] == sf_dir and unchanged(hit[1]):
        return
    kept = _relations.setdefault(spark, {})
    versions = []
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
        entry = kept.get(f"{sf_dir}/{name}.parquet")
        if entry is not None:
            versions += entry[1]
    _register_information_schema(spark, sf_dir)
    # Only one sf_dir's views can be current in a session at a time.
    _registered[spark] = (sf_dir, tuple(versions))


def _register_information_schema(spark: SparkSession, sf_dir: str) -> None:
    """Emulate Presto's information_schema connector over the catalog.

    The reference serves ``information_schema.tables/columns`` from table
    metadata (presto-main/.../connector/informationSchema/
    InformationSchemaMetadata.java, TABLE_TABLES/TABLE_COLUMNS); Spark has
    no built-in information_schema, so expose the same two relations as
    temp views derived from the cached table schemas. Metadata only — no
    data scan, no driver materialization of table contents.
    """
    col_rows = []
    tab_rows = []
    for name in sorted(TABLES):
        tab_rows.append(("spark", "default", name, "BASE TABLE"))
        for pos, f in enumerate(schema(spark, sf_dir, name).fields, start=1):
            # table() serves events.ts as TIMESTAMP whatever the file stores
            dtype = TimestampType() if (name, f.name) == ("events", "ts") else f.dataType
            col_rows.append(
                (
                    "spark",
                    "default",
                    name,
                    f.name,
                    pos,
                    dtype.simpleString(),
                    "YES" if f.nullable else "NO",
                )
            )
    local_frame(
        spark,
        tab_rows,
        "table_catalog string, table_schema string, table_name string, table_type string",
    ).createOrReplaceTempView("information_schema_tables")
    local_frame(
        spark,
        col_rows,
        "table_catalog string, table_schema string, table_name string, column_name string, "
        "ordinal_position int, data_type string, is_nullable string",
    ).createOrReplaceTempView("information_schema_columns")


@functools.lru_cache(maxsize=None)
def _ddl_schema(ddl: str) -> StructType:
    """``ddl`` parsed once per string: parsing is a JVM round trip of about
    5 ms, and the engine's DDL strings are a fixed set of literals."""
    return StructType.fromDDL(ddl)


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Rows the engine makes itself (statement acks, SHOW/DESCRIBE/EXPLAIN
    output, information_schema) as a DataFrame of schema ``ddl``.

    The rows go to the JVM as one Arrow table typed by ``ddl``, so the
    result is a ``LocalRelation``: collecting it starts no Spark job and no
    Python worker, whatever the session's Arrow conf. ``createDataFrame``
    over a Python list would be an RDD that a Python worker unpickles.
    """
    # a copy: the DataFrame hands it out as df.schema
    struct = StructType.fromJson(_ddl_schema(ddl).jsonValue())
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


def sql(
    spark: SparkSession, sf_dir: str, text: str, **dataframes: DataFrame
) -> DataFrame:
    """Run SQL against the testdata views — the engine's `spark.sql` path.

    Keyword DataFrames fill ``{name}`` slots in ``text`` for this statement
    only (PySpark's ``spark.sql`` formatter); then every other brace in
    ``text`` must be doubled (``escape_braces``).
    """
    register_views(spark, sf_dir)
    return spark.sql(text, **dataframes)


def escape_braces(text: str) -> str:
    """``text`` with its braces doubled, so that SQL a user wrote keeps a
    literal such as ``'{x}'`` when it goes into a statement with ``{name}``
    DataFrame slots."""
    return text.replace("{", "{{").replace("}", "}}")
