"""WritableTable copy-on-write mutation semantics (DeleteOperator parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from sensql_presto_spark.mutation import WritableTable

PATH = "spark-warehouse/mutation_unit_test"
SF = "/root/testdata/sf0.001"



def _fresh(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        ["k", "s", "v"],
    )
    return WritableTable.create(spark, PATH, df)


def test_delete_null_predicate_rows_survive(spark):
    t = _fresh(spark)
    t.delete(F.col("v") < 20)  # NULL v -> predicate NULL -> NOT deleted
    assert sorted(r.k for r in t.read().collect()) == [2, 3, 4]
    assert t.version == 1


def test_update_only_matching_rows(spark):
    t = _fresh(spark)
    t.update({"s": F.lit("X")}, F.col("k") % 2 == 1)
    got = {r.k: r.s for r in t.read().collect()}
    assert got == {1: "X", 2: "b", 3: "X", 4: None}


def test_merge_update_and_insert(spark):
    t = _fresh(spark)
    src = t.spark.createDataFrame([(3, 300.0), (9, 900.0)], ["k", "v"])
    t.merge(
        src,
        on=["k"],
        when_matched_update={"v": F.col("s_v")},
        when_not_matched_insert={
            "k": F.col("k"), "s": F.lit("new"), "v": F.col("s_v"),
        },
    )
    got = {r.k: (r.s, r.v) for r in t.read().collect()}
    assert got[3] == ("c", 300.0)
    assert got[9] == ("new", 900.0)
    assert got[1] == ("a", 10.0) and len(got) == 5


def test_merge_without_insert_keeps_target_keys(spark):
    t = _fresh(spark)
    src = t.spark.createDataFrame([(1, 111.0), (8, 888.0)], ["k", "v"])
    t.merge(src, on=["k"], when_matched_update={"v": F.col("s_v")})
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1] == 111.0 and 8 not in got and len(got) == 4


def test_versions_accumulate_and_latest_wins(spark):
    t = _fresh(spark)
    t.delete(F.col("k") == 1)
    t.delete(F.col("k") == 2)
    assert t.version == 2
    assert sorted(r.k for r in t.read().collect()) == [3, 4]


def test_failed_mutation_leaves_the_table_writable(spark, tmp_path):
    """A mutation whose write fails at runtime leaves an uncommitted
    snapshot directory; the next commit must number past it."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"])
    t = WritableTable.create(spark, str(tmp_path / "failed_t"), df)
    with pytest.raises(Exception, match="boom"):
        t.update({"s": F.raise_error(F.lit("boom"))}, F.col("k") == 1)
    assert t.version == 0
    t.insert_into(spark.createDataFrame([(3, "c")], ["k", "s"]))
    assert sorted((r.k, r.s) for r in t.read().collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_alter_table_schema_evolution_and_time_travel(spark, tmp_path):
    """ADD/RENAME/DROP COLUMN each commit a snapshot; earlier versions
    keep their pre-evolution schema; error contracts on bad columns."""
    import pyspark.sql.functions as F

    from sensql_presto_spark import catalog
    from sensql_presto_spark.mutation import WritableTable

    base = catalog.table(spark, SF, "region").select("r_regionkey", "r_name")
    t = WritableTable.create(spark, str(tmp_path / "alter_t"), base)
    t.add_column("code", (F.col("r_regionkey") + 100).cast("long"))
    assert t.read().filter("code = 100").count() == 1
    t.rename_column("code", "region_code")
    t.drop_column("r_name")
    assert t.read().columns == ["r_regionkey", "region_code"]
    assert t.read_version(0).columns == ["r_regionkey", "r_name"]
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("region_code", F.lit(None).cast("long"))
    with pytest.raises(ValueError, match="not found"):
        t.drop_column("nope")
    with pytest.raises(ValueError, match="only column"):
        t.drop_column("r_regionkey")
        t.drop_column("region_code")


def test_alter_table_statement_contract(spark):
    """Statement layer: ALTER TABLE on an immutable catalog table raises
    the loud contract; managed tables pass through to Spark DDL."""
    from sensql_presto_spark.statements import StatementSession

    sess = StatementSession(spark, SF)
    with pytest.raises(ValueError, match="immutable parquet catalog"):
        sess.execute("ALTER TABLE nation ADD COLUMN x BIGINT")
    spark.sql("DROP TABLE IF EXISTS alter_stmt_demo")
    sess.execute("CREATE TABLE alter_stmt_demo AS SELECT 1 AS a")
    sess.execute("ALTER TABLE alter_stmt_demo ADD COLUMNS (b BIGINT)")
    assert spark.table("alter_stmt_demo").columns == ["a", "b"]
    spark.sql("DROP TABLE alter_stmt_demo")
