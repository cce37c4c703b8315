"""Source/sink format coverage beyond parquet (SURVEY.md §2.1 — the
reference's connector SPI reads ORC/CSV/JSON/RCFile via presto-hive and
presto-orc; this engine covers the same formats through Spark's built-in
datasources).

Each query writes a slice of the catalog to the format under
``spark-warehouse/`` (repo-local, snapshot-overwritten per run) and reads
it back; the oracle recomputes the same slice from the original parquet —
so a lossy or misconfigured writer/reader breaks the value hash. CSV
exercises the header/schema-inference path, JSON the schemaless line
format, ORC the columnar path with predicate pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensql_presto_spark import catalog
from sensql_presto_spark.queries.registry import register
from sensql_presto_spark.queries.relational import _sql_query

_DIR = "spark-warehouse"

_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer WHERE c_custkey < 200
ORDER BY c_custkey
"""


def _slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        catalog.table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .filter(F.col("c_custkey") < 200)
    )


def _segment_totals(joined: DataFrame) -> DataFrame:
    """Per customer segment, the joined events' count and exact e4 value
    sum."""
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")).alias("sum_val_e4"),
        )
        .orderBy("c_mktsegment")
    )


def _as_slice(df: DataFrame) -> DataFrame:
    """A read-back slice cast to the catalog schema, in key order: CSV/JSON
    and JDBC types surface as read, so the comparison checks values, not
    inference artifacts."""
    return df.select(
        F.col("c_custkey").cast("long"),
        F.col("c_name").cast("string"),
        F.col("c_nationkey").cast("int"),
        F.col("c_acctbal").cast("double"),
    ).orderBy("c_custkey")


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str, **read_opts) -> DataFrame:
    path = os.path.join(_DIR, f"source_{fmt}_demo")
    df = _slice(spark, sf_dir)
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)
    reader = spark.read.format(fmt)
    for k, v in read_opts.items():
        reader = reader.option(k, v)
    return _as_slice(reader.load(path))


@register(
    "source_csv_roundtrip",
    oracle=_ORACLE,
    tags=("sources", "csv"),
    doc="CSV sink+source with header + schema inference (presto-hive CSV "
    "serde parity); values must survive the text round trip.",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv", header="true", inferSchema="true")


@register(
    "source_json_roundtrip",
    oracle=_ORACLE,
    tags=("sources", "json"),
    doc="JSON-lines sink+source (presto-hive JSON serde parity).",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


@register(
    "source_orc_roundtrip",
    oracle=_ORACLE,
    tags=("sources", "orc"),
    doc="ORC sink+source (presto-orc parity: columnar, predicate pushdown).",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


@register(
    "source_avro_roundtrip",
    oracle=_ORACLE,
    tags=("sources", "avro"),
    doc="Avro object-container sink+source (presto-record-decoder avro "
    "parity) through the spec-derived pure-Python OCF codec in "
    "avro_ocf.py: the sink writes one container file per Spark "
    "partition (each task encodes its own rows), the source decodes "
    "whole files inside an Arrow mapInPandas pass over a binaryFile "
    "scan — per-file parallelism, payloads never on the driver.",
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil

    path = os.path.join(_DIR, "source_avro_demo")
    fields = [
        ("c_custkey", "long"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
    ]
    abspath = os.path.abspath(path)
    shutil.rmtree(abspath, ignore_errors=True)
    os.makedirs(abspath, exist_ok=True)

    def write_part(batches):
        import os as _os

        import pandas as pd
        from pyspark import TaskContext

        from sensql_presto_spark import avro_ocf

        rows = []
        for pdf in batches:
            rows.extend(
                zip(
                    pdf.c_custkey.astype("int64"),
                    pdf.c_name.astype(str),
                    pdf.c_nationkey.astype("int64"),
                    pdf.c_acctbal.astype("float64"),
                )
            )
        if rows:
            pid = TaskContext.get().partitionId()
            blob = avro_ocf.write_container(fields, rows, name="customer_slice")
            with open(_os.path.join(abspath, f"part-{pid:05d}.avro"), "wb") as f:
                f.write(blob)
        yield pd.DataFrame({"n_rows": [len(rows)]})

    # sink: one OCF file per partition (4 files at this slice size); the
    # tiny per-partition row counts are the only thing collected
    written = (
        _slice(spark, sf_dir)
        .repartition(4, "c_custkey")
        .mapInPandas(write_part, "n_rows long")
        .collect()
    )
    assert sum(r.n_rows for r in written) > 0
    assert glob.glob(os.path.join(abspath, "*.avro"))

    def decode_files(batches):
        import pandas as pd

        from sensql_presto_spark import avro_ocf

        for pdf in batches:
            for blob in pdf.content:
                fs, rows = avro_ocf.read_container(bytes(blob))
                assert [n for n, _ in fs] == [n for n, _ in fields]
                yield pd.DataFrame(rows, columns=[n for n, _ in fs])

    out = (
        spark.read.format("binaryFile")
        .load(abspath)
        .select("content")
        .mapInPandas(
            decode_files,
            "c_custkey long, c_name string, c_nationkey long, c_acctbal double",
        )
        .select(
            F.col("c_custkey").cast("long"),
            F.col("c_name").cast("string"),
            F.col("c_nationkey").cast("int"),
            F.col("c_acctbal").cast("double"),
        )
    )
    return out.orderBy("c_custkey")


@register(
    "scale_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_lines,CAST(sum(cast(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("sources", "bucketing", "scale"),
    doc="Bucketed co-located fact-fact join (SURVEY §4.2 grouped "
    "execution): both sides written bucketBy(orderkey), so the join needs "
    "no exchange on either input — at 100 TB the shuffle is paid once at "
    "write time. The oracle recomputes from the unbucketed parquet.",
)
def scale_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql("CREATE DATABASE IF NOT EXISTS bktq")
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        # snapshot-overwrite the bucketed twin for this sf_dir; a fresh
        # session's catalog does not know the table, so the previous run's
        # warehouse directory must also go or saveAsTable fails with
        # LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS bktq.{tbl}_b")
        import shutil

        shutil.rmtree(os.path.join(_DIR, "bktq.db", f"{tbl}_b"), ignore_errors=True)
        (
            catalog.table(spark, sf_dir, tbl)
            .write.format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(f"bktq.{tbl}_b")
        )
    return spark.sql(
        """
        SELECT o.o_orderpriority, count(*) AS n_lines,CAST(sum(cast(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c
        FROM bktq.orders_b o JOIN bktq.lineitem_b l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """
    )


@register(
    "scale_salted_join",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n,CAST(sum(cast(floor(e.value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM events e JOIN customer c ON e.user_id % 100 = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("sources", "scale", "skew"),
    doc="Skew-salted join as a first-class query: the fact side takes a "
    "deterministic salt (event_id % S), the dim side explodes into all S "
    "salt values, and the join key becomes (k, salt) — a hot key's rows "
    "spread across S reducers instead of one. Result must equal the plain "
    "join (the oracle).",
)
def scale_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    SALT = 8
    e = catalog.table(spark, sf_dir, "events").withColumn(
        "join_key", F.col("user_id") % 100
    )
    c = catalog.table(spark, sf_dir, "customer")
    salted_fact = e.withColumn("salt", (F.col("event_id") % SALT).cast("int"))
    salted_dim = c.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
    )
    joined = salted_fact.join(
        salted_dim,
        (salted_fact.join_key == salted_dim.c_custkey)
        & (salted_fact.salt == salted_dim.salt),
    )
    return _segment_totals(joined)


# --- JDBC connector (the reference's presto-base-jdbc family: mysql/
#     postgresql/sqlserver connectors all extend BaseJdbcClient). Spark's
#     built-in jdbc datasource is the same role: predicate pushdown +
#     column pruning travel to the remote database as SQL, and big tables
#     parallelize with partitionColumn/lowerBound/upperBound/numPartitions
#     (one executor task per split — the 100 TB read path; unpartitioned
#     JDBC reads are single-task and belong to dimension tables only).
#     Exercised against the Derby embedded engine that ships with Spark's
#     Hive dependency — a real JDBC driver, zero extra installs.

# Embedded Derby allows ONE JVM per database directory: a fixed path made
# this entry flake whenever a pytest run and a driver_sim sweep ran
# concurrently (observed in the r6 mid-round and closing sf0.1 sweeps).
# A per-process directory under the system tmpdir removes the collision;
# repeated runs within one process reuse it via mode("overwrite").
import atexit as _atexit
import os as _os
import shutil as _shutil
import tempfile as _tempfile

_DERBY_DIR = f"{_tempfile.gettempdir()}/spark_graft_jdbc_{_os.getpid()}"
_DERBY_DB = f"{_DERBY_DIR}/source_jdbc_demo"
_atexit.register(_shutil.rmtree, _DERBY_DIR, ignore_errors=True)

# Per-process scratch for the schema-evolution demo: keyed on pid (not a
# CWD-relative spark-warehouse path) so concurrent builds never race on
# the same directory and the behavior is independent of the process CWD;
# tests read this constant back instead of hardcoding the location.
SCHEMA_EVO_PATH = f"{_tempfile.gettempdir()}/spark_graft_schema_evo_{_os.getpid()}"
_atexit.register(_shutil.rmtree, SCHEMA_EVO_PATH, ignore_errors=True)
_DERBY_URL = f"jdbc:derby:{_DERBY_DB};create=true"
_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@register(
    "source_jdbc_roundtrip",
    oracle=_ORACLE,
    tags=("sources", "jdbc"),
    doc="JDBC connector roundtrip (presto-base-jdbc/BaseJdbcClient.java "
    "analog): write the slice to an embedded Derby database through the "
    "jdbc sink, read it back through the jdbc source with a partitioned "
    "read (4 splits on c_custkey — the parallel-scan shape used for big "
    "remote tables), and compare values against the parquet oracle.",
)
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _slice(spark, sf_dir)
    (
        df.write.format("jdbc")
        .option("url", _DERBY_URL)
        .option("dbtable", "customer_slice")
        .option("driver", _DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )
    out = (
        spark.read.format("jdbc")
        .option("url", _DERBY_URL)
        .option("dbtable", "customer_slice")
        .option("driver", _DERBY_DRIVER)
        # partitioned read: 4 parallel range splits on the key column
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", "0")
        .option("upperBound", "200")
        .option("numPartitions", "4")
        .load()
    )
    return _as_slice(out)


@register(
    "scale_dpp_join",
    oracle="""
    SELECT l.l_returnflag, count(*) AS n,
           CAST(sum(cast(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c
    FROM lineitem l
    JOIN (SELECT r_regionkey + 1995 AS yr FROM region WHERE r_name = 'ASIA') y
      ON CAST(year(l.l_shipdate) AS BIGINT) = y.yr
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    tags=("sources", "scale", "partition-pruning"),
    doc="Dynamic partition pruning (SURVEY §2.2 DynamicFilter's scan-level "
    "twin; reference LocalDynamicFilter + hive partition pruning): the "
    "fact is stored partitioned by ship year, the dim's qualifying year "
    "is only known at runtime (it is read from another table, not a "
    "literal), and Catalyst injects a dynamicpruning subquery into the "
    "fact scan so only the matching year's partition directories are "
    "read. At 100 TB this is the difference between scanning one "
    "partition and scanning the table. Plan-asserted in test_plans.py; "
    "the oracle recomputes from the unpartitioned parquet.",
)
def scale_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql("CREATE DATABASE IF NOT EXISTS dppq")
    spark.sql("DROP TABLE IF EXISTS dppq.lineitem_p")
    import shutil

    shutil.rmtree(os.path.join(_DIR, "dppq.db", "lineitem_p"), ignore_errors=True)
    (
        catalog.table(spark, sf_dir, "lineitem")
        .withColumn("ship_year", F.year("l_shipdate").cast("long"))
        .write.format("parquet")
        .partitionBy("ship_year")
        .mode("overwrite")
        .saveAsTable("dppq.lineitem_p")
    )
    return catalog.sql(
        spark,
        sf_dir,
        """
        SELECT l.l_returnflag, count(*) AS n,
               CAST(sum(cast(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_c
        FROM dppq.lineitem_p l
        JOIN (SELECT r_regionkey + 1995 AS yr FROM region WHERE r_name = 'ASIA') y
          ON l.ship_year = y.yr
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
        """
    )


@register(
    "source_text_roundtrip",
    oracle="""
    SELECT doc_id, text
    FROM documents WHERE doc_id < 200
    ORDER BY doc_id
    """,
    tags=("sources", "text"),
    doc="Line-oriented text sink+source (presto-hive TEXTFILE serde "
    "parity): docs serialized as '<id>\\t<text>' lines through Spark's "
    "text format and parsed back; values must survive the round trip.",
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark `text` datasource round trip.

    The corpus is single-line ASCII (TESTDATA.md), so one doc = one line;
    the id is prefixed with a tab separator and split back on read with a
    2-limit so tabs inside text would still parse. Reference: TEXTFILE
    tables in presto-hive (HiveStorageFormat.TEXTFILE serde).
    """
    path = os.path.join(_DIR, "source_text_demo")
    docs = catalog.table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias("value")
    ).write.mode("overwrite").format("text").save(path)
    lines = spark.read.format("text").load(path)
    parsed = lines.select(
        F.split_part(F.col("value"), F.lit("\t"), F.lit(1)).cast("long").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    return parsed.orderBy("doc_id")


@register(
    "source_binaryfile_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(list_sum([ascii(c)::BIGINT FOR c IN string_split(text, '')]) % 999983
                AS BIGINT) AS content_checksum
    FROM documents WHERE doc_id < 50
    ORDER BY doc_id
    """,
    tags=("sources", "binary", "multimodal"),
    doc="binaryFile source: whole-file binary ingest (the image/audio "
    "corpus on-ramp). One opaque blob file per doc is laid down, read "
    "back via Spark's binaryFile format, and checksummed executor-side.",
)
def source_binaryfile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark `binaryFile` datasource: file-per-blob ingest.

    This is how a real multimodal corpus (jpg/wav shards) enters the
    engine: `spark.read.format("binaryFile")` yields (path, length,
    content) rows with bytes kept executor-side. The demo lays down one
    file per doc (driver-side write is the test fixture, not the
    operator), parses the doc id from the filename, and reduces content
    to an exact integer checksum the oracle recomputes from the text
    column. At 100 TB the same reader scales by directory sharding —
    files are split units, never concatenated driver-side.
    """
    import shutil

    path = os.path.abspath(os.path.join(_DIR, "source_binaryfile_demo"))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    def _write_blobs(rows):
        # executor-side: each task writes its own partition's files (to
        # shared storage at cluster scale); doc_id-named files can't
        # collide across tasks, and the driver never sees a payload
        for row in rows:
            with open(os.path.join(path, f"doc_{row.doc_id:06d}.bin"), "wb") as fh:
                fh.write(row.text.encode("utf-8"))

    (
        catalog.table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .foreachPartition(_write_blobs)
    )
    blobs = spark.read.format("binaryFile").load(path)
    return (
        blobs.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1).cast("long").alias("doc_id"),
            F.col("length").cast("long").alias("n_bytes"),
            F.expr(
                "aggregate(transform(split(cast(content AS string), ''),"
                " c -> ascii(c)), cast(0 AS bigint), (acc, x) -> acc + x) % 999983"
            ).alias("content_checksum"),
        )
        .orderBy("doc_id")
    )


# lineitem in 32 key-range shards, each row ranked in key order within its
# shard; ``{div}`` is the dialect's integer division
_SHARDED_SQL = """
    WITH mx AS (SELECT max(l_orderkey) + 1 AS m FROM lineitem),
    sharded AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(l.l_orderkey * 32 {div} mx.m AS BIGINT) AS shard
        FROM lineitem l CROSS JOIN mx
    ),
    ranked AS (
        SELECT shard, l_orderkey, l_linenumber,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY l_orderkey, l_linenumber) AS rn
        FROM sharded
    )
"""


@register(
    "scale_distributed_sort",
    oracle=_SHARDED_SQL.format(div="//")
    + """
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(l_orderkey) AS min_key,
           max(l_orderkey) AS max_key,
           CAST(sum(rn * (l_orderkey % 9973 + l_linenumber)) % 2147483647
                AS BIGINT) AS ordered_fingerprint
    FROM ranked
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("sources", "scale", "sort"),
    bench=True,
    doc="Distributed sort (reference benchto distributed_sort.yaml / "
    "sort_query_*.sql with distributed_sort=true): range-sharded global "
    "sort of lineitem — deterministic key-range shards sort in parallel "
    "with one exchange, the Presto distributed-sort topology (local sorted "
    "runs, ordered merge per range). The fingerprint pairs each row's rank "
    "with its key, so any mis-ordering inside any shard changes the value.",
)
def scale_distributed_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shards are key ranges (shard k holds keys in [k*m/32, (k+1)*m/32)),
    so shard order + within-shard order = total order — exactly what
    Presto's distributed_sort session flag buys: no single-node sort.
    Spark executes the PARTITION BY shard window as hash-exchange + 32
    parallel in-partition sorts; at 100 TB the same plan holds with more
    shards (and AQE splits skewed ones).
    """
    return catalog.sql(
        spark,
        sf_dir,
        _SHARDED_SQL.format(div="DIV")
        + """
        SELECT shard,
               count(1) AS n_rows,
               min(l_orderkey) AS min_key,
               max(l_orderkey) AS max_key,
               sum(rn * (l_orderkey % 9973 + l_linenumber)) % 2147483647
                   AS ordered_fingerprint
        FROM ranked
        GROUP BY shard
        ORDER BY shard
        """
    )


# --- training-shard export: the sink-side discipline a 100 TB corpus
#     export needs — partitionBy for partition pruning downstream,
#     sortWithinPartitions for locality, maxRecordsPerFile to bound shard
#     size (the knob that keeps downstream loaders' input splits uniform).
#     The read-back manifest aggregates the ACTUAL written files, and the
#     shard bound is verified from input_file_name(), so an oversized or
#     dropped shard breaks the oracle hash.


@register(
    "sink_partitioned_shards",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           TRUE AS shards_bounded
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("sources", "sink", "pipeline"),
    doc="Partitioned training-shard export: partitionBy(lang) + "
    "sortWithinPartitions + maxRecordsPerFile=200, manifest read back from "
    "the written files with a per-file size-bound check.",
)
def sink_partitioned_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = os.path.join(_DIR, "doc_shards")
    docs = catalog.table(spark, sf_dir, "documents")
    (
        docs.repartition("lang")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("lang")
        .option("maxRecordsPerFile", 200)
        .parquet(out)
    )
    back = spark.read.parquet(out)
    per_file = back.groupBy("lang", F.input_file_name().alias("f")).count()
    bound_ok = per_file.groupBy("lang").agg(
        (F.max("count") <= F.lit(200)).alias("shards_bounded")
    )
    manifest = back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return manifest.join(bound_ok, "lang").orderBy("lang")


# --- Z-order layout (multi-dimensional clustering for data skipping —
#     the Delta/Iceberg OPTIMIZE ZORDER role). Interleaving the bits of
#     two filter dimensions into one sort key makes every run of 4096
#     consecutive z-values a 64x64 tile of the (a, b) plane, so per-file
#     min/max stats prune BOTH dimensions: a predicate on either column
#     skips ~15/16 of the layout instead of scanning everything (a
#     single-column sort gives pruning on one dimension only — each of its
#     buckets spans the full 0..255 range of the other). The z-value is a
#     pure codegen'd bit-interleave (aggregate over sequence — no UDF);
#     bucket bounds are verified tile-exact: area(max-min box) <= 4096 in
#     every bucket.


@register(
    "scale_zorder_layout",
    oracle="""
    WITH z AS (
        SELECT o_orderkey % 256 AS a, o_custkey % 256 AS b,
               list_sum([((o_orderkey % 256) // CAST(pow(2, i) AS BIGINT) % 2)
                             * CAST(pow(2, 2 * i + 1) AS BIGINT)
                         + ((o_custkey % 256) // CAST(pow(2, i) AS BIGINT) % 2)
                             * CAST(pow(2, 2 * i) AS BIGINT)
                         FOR i IN generate_series(0, 7)]) AS zval
        FROM orders
    )
    SELECT CAST(zval // 4096 AS BIGINT) AS z_bucket,
           count(*) AS n_rows,
           CAST(min(a) AS BIGINT) AS min_a, CAST(max(a) AS BIGINT) AS max_a,
           CAST(min(b) AS BIGINT) AS min_b, CAST(max(b) AS BIGINT) AS max_b,
           (max(a) - min(a) + 1) * (max(b) - min(b) + 1) <= 4096 AS tile_bounded
    FROM z
    GROUP BY 1
    ORDER BY z_bucket
    """,
    tags=("scale", "layout", "zorder"),
    doc="Z-order layout: bit-interleaved (orderkey, custkey) sort key; "
    "4096-z-value buckets are 64x64 tiles, so min/max stats prune both "
    "dimensions — verified tile-exact per bucket.",
)
def scale_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.sql(
        spark,
        sf_dir,
        """
        WITH z AS (
            SELECT o_orderkey % 256 AS a, o_custkey % 256 AS b,
                   aggregate(sequence(0, 7), cast(0 AS BIGINT), (acc, i) ->
                       acc + ((o_orderkey % 256) DIV cast(pow(2, i) AS BIGINT) % 2)
                                 * cast(pow(2, 2 * i + 1) AS BIGINT)
                           + ((o_custkey % 256) DIV cast(pow(2, i) AS BIGINT) % 2)
                                 * cast(pow(2, 2 * i) AS BIGINT)) AS zval
            FROM orders
        )
        SELECT cast(zval DIV 4096 AS BIGINT) AS z_bucket,
               count(*) AS n_rows,
               cast(min(a) AS BIGINT) AS min_a, cast(max(a) AS BIGINT) AS max_a,
               cast(min(b) AS BIGINT) AS min_b, cast(max(b) AS BIGINT) AS max_b,
               (max(a) - min(a) + 1) * (max(b) - min(b) + 1) <= 4096 AS tile_bounded
        FROM z
        GROUP BY 1
        ORDER BY z_bucket
        """,
    )


# Small-file compaction planning — the lakehouse maintenance op (Iceberg
# rewrite_data_files / Delta OPTIMIZE's bin-packing step): group shard
# files into target-size compaction buckets with a running-total window.
# File inventory is synthesized as one "file" per (doc_id % 97) shard
# (size = its documents' total chars); the planner assigns each file the
# bucket floor(running_total_before / target) — the standard cumulative
# bin assignment, exact integer arithmetic. Scale shape: the window runs
# over the FILE INVENTORY (metadata, 97 rows here; millions at worst in
# production — never data rows), so the single-partition sort is
# metadata-bounded by design.
_FILE_COMPACTION_SQL = """
    WITH files AS (
        SELECT CAST(doc_id % 97 AS BIGINT) AS shard,
               CAST(sum(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY doc_id % 97
    ),
    planned AS (
        SELECT shard, bytes,
               CAST(coalesce(sum(bytes) OVER (ORDER BY shard
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   {div} 4096 AS BIGINT) AS bucket
        FROM files
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bytes_total,
           CAST(min(shard) AS BIGINT) AS first_shard
    FROM planned
    GROUP BY bucket
    ORDER BY bucket
    """

_sql_query(
    "scale_file_compaction",
    _FILE_COMPACTION_SQL.format(div="DIV"),
    oracle=_FILE_COMPACTION_SQL.format(div="//"),
    tags=("scale", "compaction", "maintenance"),
    doc="Small-file compaction planner (Iceberg rewrite_data_files / Delta "
    "OPTIMIZE bin-packing): running-total bucket assignment over the file "
    "inventory — the window rides metadata rows, never data.",
)


# --- AQE runtime skew-join handling: the modern alternative to manual
#     salting (scale_salted_join). The SAME skewed join (events.user_id %
#     100 hits 100 hot customer keys) runs with NO salt columns at all —
#     spark.sql.adaptive.skewJoin (on in session.py) detects oversized
#     shuffle partitions at runtime and splits them into parallel subtasks,
#     which is exactly what the manual salt emulates statically. The
#     builder pins the skew-split thresholds LOW so the runtime path
#     genuinely triggers at test scale (at 100 TB the defaults trigger on
#     their own); the result is defined by the plain join, so the oracle
#     is identical to scale_salted_join's. tests/test_plans.py asserts the
#     executed plan carries AQE's skew annotation.


@register(
    "scale_aqe_skew_join",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n,CAST(sum(cast(floor(e.value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_val_e4
    FROM events e JOIN customer c
      ON (CASE WHEN e.user_id % 2 = 0 THEN 0 ELSE e.user_id % 100 END) = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("sources", "scale", "skew", "aqe"),
    doc="Runtime skew-join: a genuinely hot key (half the fact rows) with "
    "zero manual salting — AQE splits the oversized shuffle partition at "
    "runtime (thresholds pinned low so the path triggers at test scale).",
)
def scale_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The skew thresholds are pinned low so the runtime path triggers at
    # test scale (defaults are 256MB-scale), and auto-broadcast is off so
    # the dim side comes through a shuffle (the skew reader only applies
    # to shuffle joins).  Both are set on a FORKED session (own SQLConf,
    # shared executors) so nothing leaks into the caller's session — the
    # returned DataFrame executes under the fork's conf.
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    # default minPartitionSize (1MB) silently clamps the split target and
    # undoes the skew split at test scale
    s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
    # without force, AQE vetoes the split because the downstream partial
    # aggregation's exchange counts as an extra shuffle; at 100 TB the
    # cost model passes on its own and force is unnecessary
    s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # HALF the fact rows land on key 0 (a genuinely hot key — user_id %
    # 100 alone is uniform and would never skew); the rest spread 1..99.
    # The repartition gives the join shuffle real mappers: the sf0.01
    # parquet is a single row group = one map task, and a skewed reduce
    # partition can only split at mapper-chunk granularity (at 100 TB
    # there are thousands of mappers and this repartition is not needed).
    e = catalog.table(s2, sf_dir, "events").repartition(8).withColumn(
        "join_key",
        F.when(F.col("user_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id") % 100),
    )
    c = catalog.table(s2, sf_dir, "customer")
    joined = e.join(c, e.join_key == c.c_custkey)
    return _segment_totals(joined)


@register(
    "source_parquet_schema_evolution",
    oracle="""
    SELECT c_custkey, c_name, NULL::DOUBLE AS c_acctbal
    FROM customer WHERE c_custkey < 100
    UNION ALL BY NAME
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey >= 100 AND c_custkey < 200
    ORDER BY c_custkey
    """,
    tags=("sources", "parquet", "schema-evolution"),
    doc="Parquet schema evolution (the presto-hive evolved-table read "
    "path): snapshot v1 written without c_acctbal, snapshot v2 written "
    "with it, read back as ONE table via mergeSchema=true — Spark "
    "reconciles the footers at planning time and fills the missing "
    "column with NULLs file-locally (no rewrite of the old snapshot, "
    "the property that makes additive evolution free at 100 TB); "
    "column pruning and pushdown still apply per file.",
)
def source_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = SCHEMA_EVO_PATH
    base = catalog.table(spark, sf_dir, "customer")
    v1 = base.select("c_custkey", "c_name").filter(F.col("c_custkey") < 100)
    v2 = base.select("c_custkey", "c_name", "c_acctbal").filter(
        (F.col("c_custkey") >= 100) & (F.col("c_custkey") < 200)
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "v=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "v=2"))
    out = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "v=1"), os.path.join(path, "v=2")
    )
    return out.select(
        F.col("c_custkey").cast("long"),
        F.col("c_name").cast("string"),
        F.col("c_acctbal").cast("double"),
    ).orderBy("c_custkey")


# --- corrupt-record-tolerant JSON ingestion audit ---------------------------
#
# Real feeds are dirty; Spark's JSON source defaults to PERMISSIVE mode
# (bad records land in _corrupt_record instead of failing the job), and
# every ingestion pipeline fronts that with an audit: how many records
# parsed, how many are corrupt, what did we recover.  This op models
# that contract at the SQL layer so the audit itself is oracle-checkable
# (a malformed FILE read cannot be replayed identically in DuckDB): a
# deterministic JSON feed derived from customer, every 7th record
# truncated mid-string, parsed with NULL-on-malformed semantics —
# get_json_object in Spark, json_valid-guarded json_extract_string in
# DuckDB (DuckDB's bare json_extract RAISES on malformed input; the
# guard is the PERMISSIVE stand-in).  One scan, one map-side-combined
# groupBy on the recovered segment with corrupt records bucketed under
# a sentinel.
_JSON_AUDIT_SQL = """
    WITH raw AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN substring(j, 1, length(j) - 3)
                    ELSE j END AS line
        FROM (SELECT c_custkey,
                     {j} AS j
              FROM customer)
    ),
    parsed AS (
        SELECT c_custkey,
               {seg} AS seg,
               {k} AS k
        FROM raw
    )
    SELECT coalesce(seg, '__CORRUPT__') AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(k) AS BIGINT) AS k_recovered,
           CAST(min(c_custkey) AS BIGINT) AS min_key,
           CAST(max(c_custkey) AS BIGINT) AS max_key
    FROM parsed GROUP BY 1 ORDER BY segment
    """

_sql_query(
    "source_json_corrupt_audit",
    _JSON_AUDIT_SQL.format(
        j="""concat('{"k":', CAST(c_custkey AS STRING), ',"seg":"', c_mktsegment, '"}')""",
        seg="get_json_object(line, '$.seg')",
        k="get_json_object(line, '$.k')",
    ),
    oracle=_JSON_AUDIT_SQL.format(
        j="""'{"k":' || CAST(c_custkey AS VARCHAR) || ',"seg":"' || c_mktsegment || '"}'""",
        seg="CASE WHEN json_valid(line) THEN json_extract_string(line, '$.seg') END",
        k="CASE WHEN json_valid(line) THEN json_extract_string(line, '$.k') END",
    ),
    tags=("sources", "json", "quality"),
    doc="PERMISSIVE-ingestion audit: deterministic JSON feed with every "
    "7th record truncated mid-string, parsed with NULL-on-malformed "
    "semantics and rolled up per recovered segment with a __CORRUPT__ "
    "sentinel bucket — one scan, one map-side-combined groupBy.",
)


# --- Kafka topic decode (presto-kafka + presto-record-decoder parity) ------
#
# The reference exposes a Kafka topic as a table: per-partition splits
# (KafkaSplitManager.java) whose message values decode into typed columns
# through csv/json/raw row decoders (presto-record-decoder).  Live brokers
# are untestable here, so — the r7 Avro OCF playbook — the topic is an
# offline directory of per-partition log-segment files with Kafka's
# length-prefixed record framing (sensql_presto_spark/kafka_decoder.py),
# and THE SAME decode pipeline would run unchanged over Spark's live
# kafka source because every decoder consumes the connector's canonical
# (key binary, value binary, topic, partition, offset) shape.
#
# The fixture round-trips events (event_id < 200) through ALL THREE
# decoders: JSON messages with a nested mapping path and every 13th
# message truncated (JsonRowDecoder drops undecodable messages —
# Optional.empty); CSV messages with a quoted field and every 11th
# message truncated to two tokens (CsvColumnDecoder null-fills short
# rows, the message itself survives); raw messages packing big-endian
# LONG/SHORT/INT fields plus an open-ended VARCHAR tail, including a
# SIGNED short (user_id - 50 goes negative) to pin two's-complement
# sign extension.  Partition = event_id % 4, offset = position within
# the segment — both re-derivable in pure SQL, so the oracle recomputes
# the whole decoded union from the events table directly and the value
# hash covers framing, partitioning, offsets, drops, null-fills, and
# sign extension at once.  Scale shape: segments decode per-file inside
# one Arrow mapInPandas pass (payloads never on the driver); every
# per-message decode expression is JVM-native (from_csv /
# get_json_object / substring+conv) — no Python in the hot path.
import tempfile as _tempfile2

KAFKA_TOPIC_PATH = f"{_tempfile2.gettempdir()}/spark_graft_kafka_{os.getpid()}"
_atexit.register(_shutil.rmtree, KAFKA_TOPIC_PATH, ignore_errors=True)


def _topic_events(spark: SparkSession, sf_dir: str, *cols) -> DataFrame:
    """The Kafka fixtures' events (event_id < 200) as ``cols`` plus their
    topic partition ``part``."""
    return (
        catalog.table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select(*cols, (F.col("event_id") % 4).cast("int").alias("part"))
    )


def _topic_base_sql(cols: str) -> str:
    """``WITH base``: the Kafka fixtures' events as ``cols`` with each
    message's topic partition and offset — the oracles' replay of the
    topic writers."""
    return f"""
WITH base AS (
    SELECT {cols},
           CAST(event_id % 4 AS BIGINT) AS part,
           CAST(row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1
                AS BIGINT) AS off
    FROM events WHERE event_id < 200
)"""


_KAFKA_ORACLE = _topic_base_sql(
    "event_id, user_id, event_type, CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4"
) + """
SELECT fmt, event_id, user_id, event_type, value_e4, delta, part, off FROM (
    SELECT 'json' AS fmt, event_id, user_id, event_type, v_e4 AS value_e4,
           CAST(NULL AS BIGINT) AS delta, part, off
    FROM base WHERE event_id % 13 <> 0
    UNION ALL
    SELECT 'csv', event_id, user_id,
           CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END,
           CASE WHEN event_id % 11 = 0 THEN NULL ELSE v_e4 END,
           CAST(NULL AS BIGINT), part, off
    FROM base
    UNION ALL
    SELECT 'raw', event_id, user_id, event_type, v_e4,
           CAST(user_id - 50 AS BIGINT), part, off
    FROM base
) z ORDER BY fmt, event_id
"""

# big-endian two's-complement byte slice of a BIGINT expression: the low
# `nbytes` bytes of the 64-bit hex form (hex() trims leading zeros on
# positives and emits all 16 nibbles on negatives; right-padding
# normalizes both)
def _be_bytes(expr: str, nbytes: int) -> str:
    return f"unhex(right(concat(repeat('0', 16), hex({expr})), {2 * nbytes}))"


@register(
    "source_kafka_decoder",
    oracle=_KAFKA_ORACLE,
    tags=("sources", "kafka", "decoder"),
    doc="Kafka topic-as-table decode parity (presto-kafka splits + "
    "presto-record-decoder csv/json/raw): events serialized into "
    "per-partition length-prefixed log segments, read back via ONE "
    "binaryFile + mapInPandas pass into the canonical (key, value, "
    "topic, partition, offset) shape, and decoded three ways with "
    "JVM-native expressions — JSON nested '/'-path mapping with "
    "undecodable messages dropped, CSV token-index mapping with "
    "short rows null-filled, raw big-endian fixed-offset fields with "
    "signed sign-extension and an open-ended varchar tail.",
)
def source_kafka_decoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark import kafka_decoder as kd

    base = _topic_events(
        spark,
        sf_dir,
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v_e4"),
    )

    cfull = F.concat(
        F.col("event_id").cast("string"), F.lit(","),
        F.col("user_id").cast("string"), F.lit(',"'),
        F.col("event_type"), F.lit('",'),
        F.col("v_e4").cast("string"),
    )
    ctrunc = F.concat(
        F.col("event_id").cast("string"), F.lit(","), F.col("user_id").cast("string")
    )

    rval = F.expr(
        "concat("
        + _be_bytes("event_id", 8) + ", "
        + _be_bytes("user_id - 50", 2) + ", "
        + _be_bytes("user_id", 4) + ", "
        + _be_bytes("v_e4", 8) + ", "
        + "cast(event_type AS BINARY))"
    )

    key = F.expr(_be_bytes("event_id", 8))

    # the three (part, event_id, key, value) message frames
    json_msgs = (
        base.withColumn("jv", F.concat(
            F.lit('{"meta":{"id":'), F.col("event_id").cast("string"),
            F.lit(',"user":'), F.col("user_id").cast("string"),
            F.lit('},"etype":"'), F.col("event_type"),
            F.lit('","v":'), F.col("v_e4").cast("string"), F.lit("}"),
        ))
        .withColumn(
            "value",
            F.when(
                F.col("event_id") % 13 == 0,
                F.expr("substring(jv, 1, length(jv) - 4)"),
            )
            .otherwise(F.col("jv"))
            .cast("binary"),
        )
        .select("part", "event_id", key.alias("key"), "value")
    )
    csv_msgs = (
        base.withColumn(
            "value",
            F.when(F.col("event_id") % 11 == 0, ctrunc).otherwise(cfull).cast("binary"),
        )
        .select("part", "event_id", key.alias("key"), "value")
    )
    raw_msgs = base.withColumn("value", rval).select(
        "part", "event_id", key.alias("key"), "value"
    )

    def framed(pdf):
        return [(bytes(k), bytes(v)) for k, v in zip(pdf["key"], pdf["value"])]

    root = KAFKA_TOPIC_PATH
    for fmt, msgs in (("json", json_msgs), ("csv", csv_msgs), ("raw", raw_msgs)):
        kd.write_topic_dir(msgs, os.path.join(root, fmt), framed)

    jcols = [
        kd.KafkaColumn("event_id", "BIGINT", "meta/id"),
        kd.KafkaColumn("user_id", "BIGINT", "meta/user"),
        kd.KafkaColumn("event_type", "STRING", "etype"),
        kd.KafkaColumn("value_e4", "BIGINT", "v"),
    ]
    ccols = [
        kd.KafkaColumn("event_id", "BIGINT", "0"),
        kd.KafkaColumn("user_id", "BIGINT", "1"),
        kd.KafkaColumn("event_type", "STRING", "2"),
        kd.KafkaColumn("value_e4", "BIGINT", "3"),
    ]
    rcols = [
        kd.KafkaColumn("event_id", "BIGINT", "0", "LONG"),
        kd.KafkaColumn("delta", "BIGINT", "8:10", "SHORT"),
        kd.KafkaColumn("user_id", "BIGINT", "10", "INT"),
        kd.KafkaColumn("value_e4", "BIGINT", "14", "LONG"),
        kd.KafkaColumn("event_type", "STRING", "22"),
    ]

    def norm(df: DataFrame, fmt: str, with_delta: bool) -> DataFrame:
        return df.select(
            F.lit(fmt).alias("fmt"),
            F.col("event_id").cast("long"),
            F.col("user_id").cast("long"),
            F.col("event_type").cast("string"),
            F.col("value_e4").cast("long"),
            (F.col("delta").cast("long") if with_delta else F.lit(None).cast("long")).alias("delta"),
            F.col("partition").cast("long").alias("part"),
            F.col("offset").cast("long").alias("off"),
        )

    jd = norm(kd.decode_json(kd.read_topic_dir(spark, os.path.join(root, "json")), jcols), "json", False)
    cd = norm(kd.decode_csv(kd.read_topic_dir(spark, os.path.join(root, "csv")), ccols), "csv", False)
    rd = norm(kd.decode_raw(kd.read_topic_dir(spark, os.path.join(root, "raw")), rcols), "raw", True)
    return jd.unionAll(cd).unionAll(rd).orderBy("fmt", "event_id")


# --- Kafka avro-value decode (r9 VERDICT What's-missing #1) ----------------
#
# Completes the reference's record-decoder family: csv/json/raw (above)
# + avro (presto-record-decoder/.../avro/AvroRowDecoderFactory.java).
# Each message VALUE is a complete Avro object-container stream carrying
# exactly one record (AvroRowDecoder.java:56-70 — the reference's
# "assumes producer uses DataFileWriter" contract), built per-row by the
# spec-derived avro_ocf codec inside the partition writer.  The decode
# exercises long/int/string/double/boolean fields, a mapped-but-absent
# field decoding NULL (AvroColumnDecoder locateNode), NULL message keys
# in the segment framing, and a bit-exact double passthrough (parquet ->
# python float -> avro little-endian IEEE -> arrow -> double: every hop
# preserves the 64 bits, so the value hash may include the raw double —
# both engines read the identical parquet bits).  Scale shape: the
# writer is one applyInPandas over partition groups; the reader is the
# same binaryFile + Arrow mapInPandas pass as the other decoders.
_KAFKA_AVRO_ORACLE = _topic_base_sql("event_id, user_id, event_type, value") + """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       event_type,
       value AS score,
       event_type = 'click' AS is_click,
       CAST(NULL AS VARCHAR) AS missing_tag,
       part, off
FROM base ORDER BY event_id
"""


@register(
    "source_kafka_avro",
    oracle=_KAFKA_AVRO_ORACLE,
    tags=("sources", "kafka", "decoder", "avro"),
    doc="Kafka avro message-value decode (AvroRowDecoder parity): each "
    "value is a one-record Avro OCF stream (writer-schema-in-message, "
    "the reference's DataFileWriter contract) decoded through the "
    "spec-derived avro_ocf codec in ONE Arrow mapInPandas pass; "
    "long/int/string/double/boolean fields, locateNode NULL for a "
    "mapped-but-absent field, null message keys, bit-exact double "
    "passthrough.",
)
def source_kafka_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark import avro_ocf
    from sensql_presto_spark import kafka_decoder as kd

    base = _topic_events(
        spark,
        sf_dir,
        "event_id",
        "user_id",
        "event_type",
        F.col("value").alias("score"),
        (F.col("event_type") == "click").alias("is_click"),
    )

    fields = [
        ("event_id", "long"),
        ("user_id", "int"),
        ("event_type", "string"),
        ("score", "double"),
        ("is_click", "boolean"),
    ]

    def messages(pdf):
        msgs = []
        for row in pdf.itertuples():
            blob = avro_ocf.write_container(
                fields,
                [
                    (
                        int(row.event_id),
                        int(row.user_id),
                        str(row.event_type),
                        float(row.score),
                        bool(row.is_click),
                    )
                ],
                name="event",
            )
            msgs.append((None, blob))  # null keys: the framing's -1 path
        return msgs

    tdir = os.path.join(KAFKA_TOPIC_PATH, "avro")
    kd.write_topic_dir(base, tdir, messages)

    cols = [
        kd.KafkaColumn("event_id", "BIGINT", "event_id"),
        kd.KafkaColumn("user_id", "INT", "user_id"),
        kd.KafkaColumn("event_type", "STRING", "event_type"),
        kd.KafkaColumn("score", "DOUBLE", "score"),
        kd.KafkaColumn("is_click", "BOOLEAN", "is_click"),
        kd.KafkaColumn("missing_tag", "STRING", "tag"),
    ]
    decoded = kd.decode_avro(kd.read_topic_dir(spark, tdir), cols)
    return decoded.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        "event_type",
        "score",
        "is_click",
        "missing_tag",
        F.col("partition").cast("long").alias("part"),
        F.col("offset").cast("long").alias("off"),
    ).orderBy("event_id")


# --- Kafka avro NESTED decode (r10 VERDICT next-round #3) -------------------
#
# Closes the last record-decoder delta: '/'-separated field paths over
# NESTED avro records (AvroColumnDecoder.java:126-140 locateNode — one
# and two levels deep, plus null propagation for a missing leaf inside
# an existing record and for a missing intermediate record) and
# ARRAY/MAP-typed avro columns decoded into Spark ArrayType/MapType
# (AvroColumnDecoder.java:105-110, :224-226 serializeList/serializeMap).
# Message values are one-record OCF streams whose writer schema nests
# record{record{...}}, array<string> and map<string,long> fields, built
# per-row by the spec-derived avro_ocf codec.  The decoded ARRAY/MAP
# columns are then reduced with JVM-native collection expressions
# (array_join / size / element_at / map_keys) to scalar outputs the
# driver's canonicalizer can hash; the element-level fidelity of the
# collections themselves is pinned by tests/test_kafka_decoder.py::
# test_avro_nested_paths_and_array_map_columns.  Scale shape: identical
# to source_kafka_avro — applyInPandas partition writer, binaryFile +
# ONE Arrow mapInPandas decode pass, payloads never on the driver.
_KAFKA_AVRO_NESTED_ORACLE = _topic_base_sql("event_id, user_id, event_type, value") + """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       substring(event_type, 1, 2) AS cc,
       event_type || '|x' || CAST(event_id % 3 AS VARCHAR) AS tags_joined,
       CAST(2 AS BIGINT) AS n_tags,
       CAST(user_id AS BIGINT) AS prop_a,
       CAST(event_id % 7 AS BIGINT) AS prop_b,
       'a|b' AS prop_keys,
       value AS score,
       CAST(NULL AS VARCHAR) AS gone_leaf,
       CAST(NULL AS BIGINT) AS gone_mid,
       part, off
FROM base ORDER BY event_id
"""


@register(
    "source_kafka_avro_nested",
    oracle=_KAFKA_AVRO_NESTED_ORACLE,
    tags=("sources", "kafka", "decoder", "avro"),
    doc="Kafka avro NESTED-record decode (AvroColumnDecoder locateNode "
    "parity): writer schema nests record{record{...}} two deep plus "
    "array<string> and map<string,long> fields; '/'-paths resolve one "
    "and two levels down, a missing leaf inside an existing record and "
    "a missing intermediate record both decode NULL, ARRAY/MAP columns "
    "decode into Spark ArrayType/MapType and are reduced to scalars "
    "with codegen collection expressions (array_join/size/element_at/"
    "map_keys); bit-exact double passthrough.",
)
def source_kafka_avro_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark import avro_ocf
    from sensql_presto_spark import kafka_decoder as kd

    base = _topic_events(spark, sf_dir, "event_id", "user_id", "event_type", F.col("value").alias("score"))

    fields = [
        (
            "meta",
            {
                "type": "record",
                "name": "meta",
                "fields": [
                    {"name": "id", "type": "long"},
                    {"name": "user", "type": "int"},
                    {
                        "name": "geo",
                        "type": {
                            "type": "record",
                            "name": "geo",
                            "fields": [{"name": "cc", "type": "string"}],
                        },
                    },
                ],
            },
        ),
        ("tags", {"type": "array", "items": "string"}),
        ("props", {"type": "map", "values": "long"}),
        ("score", "double"),
    ]

    def messages(pdf):
        msgs = []
        for row in pdf.itertuples():
            eid = int(row.event_id)
            rec = (
                {
                    "id": eid,
                    "user": int(row.user_id),
                    "geo": {"cc": str(row.event_type)[:2]},
                },
                [str(row.event_type), f"x{eid % 3}"],
                {"a": int(row.user_id), "b": eid % 7},
                float(row.score),
            )
            msgs.append((None, avro_ocf.write_container(fields, [rec], name="event")))
        return msgs

    tdir = os.path.join(KAFKA_TOPIC_PATH, "avro_nested")
    kd.write_topic_dir(base, tdir, messages)

    cols = [
        kd.KafkaColumn("event_id", "BIGINT", "meta/id"),
        kd.KafkaColumn("user_id", "INT", "meta/user"),
        kd.KafkaColumn("cc", "STRING", "meta/geo/cc"),
        kd.KafkaColumn("tags", "ARRAY<STRING>", "tags"),
        kd.KafkaColumn("props", "MAP<STRING,BIGINT>", "props"),
        kd.KafkaColumn("score", "DOUBLE", "score"),
        kd.KafkaColumn("gone_leaf", "STRING", "meta/geo/region"),
        kd.KafkaColumn("gone_mid", "BIGINT", "nope/x"),
    ]
    decoded = kd.decode_avro(kd.read_topic_dir(spark, tdir), cols)
    return decoded.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        "cc",
        F.array_join("tags", "|").alias("tags_joined"),
        F.size("tags").cast("long").alias("n_tags"),
        F.element_at("props", F.lit("a")).cast("long").alias("prop_a"),
        F.element_at("props", F.lit("b")).cast("long").alias("prop_b"),
        F.array_join(F.array_sort(F.map_keys("props")), "|").alias("prop_keys"),
        "score",
        "gone_leaf",
        "gone_mid",
        F.col("partition").cast("long").alias("part"),
        F.col("offset").cast("long").alias("off"),
    ).orderBy("event_id")


# --- Kafka avro ENUM / FIXED / nullable-UNION decode ------------------------
#
# Completes the avro type surface to full AvroColumnDecoder parity:
# enum symbols decode as VARCHAR (GenericEnumSymbol at
# AvroColumnDecoder.java:206), fixed decodes as VARBINARY
# (GenericFixed, :213), and ["null", X] union fields — the ubiquitous
# nullable-field pattern, which the reference's avro reader resolves
# before the decoder's isNull check — surface as SQL NULL.  Writer
# schema per message: an enum over the five event types, an 8-byte
# fixed carrying the big-endian event_id, a nullable double and a
# nullable string (null on deterministic residues).  The decoded fixed
# column is converted back to its integer with codegen expressions
# (conv(hex(fp),16,10)) so the value hash pins every byte without
# cross-dialect hex-string formatting; the enum round-trips the exact
# symbol; the union columns' null pattern is recomputed by the oracle.
# Scale shape: identical to the other avro entries — applyInPandas
# partition writer, binaryFile + one Arrow mapInPandas decode pass.
_KAFKA_AVRO_UNION_ORACLE = _topic_base_sql("event_id, event_type, value") + """
SELECT CAST(event_id AS BIGINT) AS event_id,
       event_type AS ev,
       CAST(event_id AS BIGINT) AS fp_id,
       CAST(8 AS BIGINT) AS fp_len,
       CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS maybe_score,
       CASE WHEN event_id % 3 = 0 THEN NULL
            ELSE 'tag' || CAST(event_id % 3 AS VARCHAR) END AS maybe_tag,
       part, off
FROM base ORDER BY event_id
"""


@register(
    "source_kafka_avro_union",
    oracle=_KAFKA_AVRO_UNION_ORACLE,
    tags=("sources", "kafka", "decoder", "avro"),
    doc="Kafka avro enum/fixed/nullable-union decode (AvroColumnDecoder "
    "parity: GenericEnumSymbol as VARCHAR, GenericFixed as VARBINARY, "
    "null-union values as SQL NULL): enum symbols round-trip exactly, "
    "an 8-byte fixed is pinned byte-for-byte via conv(hex(fp),16,10) "
    "back to its integer, and two ['null',X] union fields decode NULL "
    "on deterministic residues; one Arrow mapInPandas decode pass.",
)
def source_kafka_avro_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct as _struct

    from sensql_presto_spark import avro_ocf
    from sensql_presto_spark import kafka_decoder as kd

    base = _topic_events(spark, sf_dir, "event_id", "event_type", F.col("value").alias("score"))

    fields = [
        (
            "ev",
            {
                "type": "enum",
                "name": "event_kind",
                "symbols": ["click", "error", "purchase", "signup", "view"],
            },
        ),
        ("fp", {"type": "fixed", "name": "fp8", "size": 8}),
        ("maybe_score", ["null", "double"]),
        ("maybe_tag", ["null", "string"]),
    ]

    def messages(pdf):
        msgs = []
        for row in pdf.itertuples():
            eid = int(row.event_id)
            rec = (
                str(row.event_type),
                _struct.pack(">q", eid),
                None if eid % 5 == 0 else float(row.score),
                None if eid % 3 == 0 else f"tag{eid % 3}",
            )
            msgs.append((None, avro_ocf.write_container(fields, [rec], name="event")))
        return msgs

    tdir = os.path.join(KAFKA_TOPIC_PATH, "avro_union")
    kd.write_topic_dir(base, tdir, messages)

    cols = [
        kd.KafkaColumn("ev", "STRING", "ev"),
        kd.KafkaColumn("fp", "BINARY", "fp"),
        kd.KafkaColumn("maybe_score", "DOUBLE", "maybe_score"),
        kd.KafkaColumn("maybe_tag", "STRING", "maybe_tag"),
    ]
    decoded = kd.decode_avro(kd.read_topic_dir(spark, tdir), cols)
    return decoded.select(
        F.conv(F.hex("fp"), 16, 10).cast("long").alias("event_id"),
        "ev",
        F.conv(F.hex("fp"), 16, 10).cast("long").alias("fp_id"),
        F.octet_length("fp").cast("long").alias("fp_len"),
        "maybe_score",
        "maybe_tag",
        F.col("partition").cast("long").alias("part"),
        F.col("offset").cast("long").alias("off"),
    ).orderBy("event_id")


# --- Kafka avro MULTI-BRANCH union decode (r11 VERDICT next-round #3) -------
#
# Closes the last record-decoder residue: general [A, B, ...] unions.
# The reference's decode is value-driven — the avro reader resolves the
# written branch index before AvroColumnDecoder.serializeValue sees the
# value (AvroColumnDecoder.java:160-216) — so a union column surfaces
# whenever the branch value matches the declared SQL type, a null
# branch is SQL NULL, and a mismatched branch fails the read loudly
# (the mismatch contract is pytest-pinned in test_kafka_decoder.py).
# Writer schema per message: a ["int","long"] numeric-widening union
# read as ONE BIGINT column (both arms exercised via explicit Branch
# tags — first-match-by-type cannot reach the long arm), a three-branch
# ["null","string",enum] union read as VARCHAR (all three arms
# exercised), and a three-branch ["null","bytes",fixed] union read as
# VARBINARY, pinned byte-for-byte via conv(hex(payload),16,10) +
# octet_length so the value hash distinguishes the 4-byte fixed arm
# from the 8-byte bytes arm.  Scale shape: identical to the other avro
# entries — applyInPandas partition writer (payloads executor-side),
# binaryFile scan + ONE Arrow mapInPandas decode pass.
_KAFKA_AVRO_MULTIBRANCH_ORACLE = _topic_base_sql("event_id, event_type") + """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(CASE WHEN event_id % 2 = 0 THEN event_id
                 ELSE event_id * 8589934592 + 7 END AS BIGINT) AS n,
       CASE WHEN event_id % 7 = 0 THEN NULL
            WHEN event_id % 2 = 0 THEN event_type
            ELSE 's' || CAST(event_id % 5 AS VARCHAR) END AS label,
       CAST(CASE WHEN event_id % 11 = 0 THEN NULL
                 WHEN event_id % 2 = 1 THEN event_id
                 ELSE event_id * 3 END AS BIGINT) AS pid,
       CAST(CASE WHEN event_id % 11 = 0 THEN NULL
                 WHEN event_id % 2 = 1 THEN 4 ELSE 8 END AS BIGINT) AS plen,
       part, off
FROM base ORDER BY event_id
"""


@register(
    "source_kafka_avro_multibranch",
    oracle=_KAFKA_AVRO_MULTIBRANCH_ORACLE,
    tags=("sources", "kafka", "decoder", "avro"),
    doc="Kafka avro general multi-branch union decode (AvroColumnDecoder "
    "value-driven serializeValue parity, AvroColumnDecoder.java:160-216): "
    "['int','long'] widening surfaces as ONE BIGINT column (both arms), "
    "['null','string',enum] as VARCHAR (all three arms), "
    "['null','bytes',fixed] as VARBINARY with the 4-byte fixed arm and "
    "8-byte bytes arm pinned via conv(hex(..),16,10)+octet_length; "
    "null branches decode SQL NULL; mismatched branches fail loudly "
    "(pytest-pinned); one Arrow mapInPandas decode pass.",
)
def source_kafka_avro_multibranch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sensql_presto_spark import avro_ocf
    from sensql_presto_spark import kafka_decoder as kd

    base = _topic_events(spark, sf_dir, "event_id", "event_type")

    fields = [
        ("id", "long"),
        ("n", ["int", "long"]),
        (
            "label",
            [
                "null",
                "string",
                {
                    "type": "enum",
                    "name": "event_kind",
                    "symbols": ["click", "error", "purchase", "signup", "view"],
                },
            ],
        ),
        (
            "payload",
            ["null", "bytes", {"type": "fixed", "name": "h4", "size": 4}],
        ),
    ]

    def messages(pdf):
        import struct as _struct

        B = avro_ocf.Branch
        msgs = []
        for row in pdf.itertuples():
            eid = int(row.event_id)
            # int arm on even ids, long arm (explicit Branch — the
            # Python value type cannot select it) on odd ids
            n = B(0, eid) if eid % 2 == 0 else B(1, eid * 8589934592 + 7)
            if eid % 7 == 0:
                label = None  # null arm (auto)
            elif eid % 2 == 0:
                label = B(2, str(row.event_type))  # enum arm (explicit)
            else:
                label = f"s{eid % 5}"  # string arm (auto first-match)
            if eid % 11 == 0:
                payload = None
            elif eid % 2 == 1:
                payload = B(2, _struct.pack(">i", eid))  # 4-byte fixed arm
            else:
                payload = _struct.pack(">q", eid * 3)  # 8-byte bytes arm
            rec = (eid, n, label, payload)
            msgs.append(
                (None, avro_ocf.write_container(fields, [rec], name="event"))
            )
        return msgs

    tdir = os.path.join(KAFKA_TOPIC_PATH, "avro_multibranch")
    kd.write_topic_dir(base, tdir, messages)

    cols = [
        kd.KafkaColumn("id", "BIGINT", "id"),
        kd.KafkaColumn("n", "BIGINT", "n"),
        kd.KafkaColumn("label", "STRING", "label"),
        kd.KafkaColumn("payload", "BINARY", "payload"),
    ]
    decoded = kd.decode_avro(kd.read_topic_dir(spark, tdir), cols)
    return decoded.select(
        F.col("id").alias("event_id"),
        "n",
        "label",
        F.conv(F.hex("payload"), 16, 10).cast("long").alias("pid"),
        F.octet_length("payload").cast("long").alias("plen"),
        F.col("partition").cast("long").alias("part"),
        F.col("offset").cast("long").alias("off"),
    ).orderBy("event_id")
