"""Catalog schema resolution: one inference job per table file version.

Job counts come from a Spark job group read back through the status
tracker after the listener bus has drained (the status store is fed
asynchronously, so an undrained read would undercount).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType

from sensql_presto_spark import catalog


def _jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"test_catalog_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog job count")
    try:
        fn()
    finally:
        sc.setJobGroup("test_catalog_idle", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(path: str, n: int, comment: bool = False, row_group_size: int = None) -> None:
    cols = {"r_regionkey": list(range(n)), "r_name": [f"R{i}" for i in range(n)]}
    if comment:
        cols["r_comment"] = [f"c{i}" for i in range(n)]
    pq.write_table(pa.table(cols), path, row_group_size=row_group_size)


def test_second_table_call_starts_no_job(spark, tmp_path):
    _write_region(str(tmp_path / "region.parquet"), 3)
    # the first read of a new file infers its schema: the counter sees it
    assert _jobs(spark, lambda: catalog.table(spark, str(tmp_path), "region")) >= 1
    assert _jobs(spark, lambda: catalog.table(spark, str(tmp_path), "region")) == 0


def test_events_table_reuses_cached_schema(spark, oracle_dir):
    events = catalog.table(spark, oracle_dir, "events")
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    assert _jobs(spark, lambda: catalog.table(spark, oracle_dir, "events")) == 0


def test_register_views_on_forked_session_starts_no_job(spark, oracle_dir):
    root, fork = spark.newSession(), spark.newSession()
    catalog.register_views(root, oracle_dir)
    assert _jobs(spark, lambda: catalog.register_views(fork, oracle_dir)) == 0
    assert fork.catalog.tableExists("events")
    assert fork.catalog.tableExists("information_schema_columns")


def test_rewritten_file_is_reinferred(spark, tmp_path):
    # fault injection: the file under a cached schema changes between reads
    path = str(tmp_path / "region.parquet")
    _write_region(path, 2)
    first = catalog.table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey", "r_name"]
    assert sorted(map(tuple, first.collect())) == [(0, "R0"), (1, "R1")]

    _write_region(path, 3, comment=True)
    again = catalog.table(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(map(tuple, again.collect())) == [(0, "R0", "c0"), (1, "R1", "c1"), (2, "R2", "c2")]


def test_missing_table_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        catalog.table(spark, str(tmp_path), "nation")


# --- Kept relations: one resolution per file version, fresh ids per call. --


def _relation(df):
    return df._jdf.queryExecution().analyzed()


def _expr_ids(df) -> set[int]:
    output = _relation(df).output()
    return {output.apply(i).exprId().id() for i in range(output.size())}


def test_repeat_table_call_reuses_the_relation_with_fresh_ids(spark, tmp_path):
    _write_region(str(tmp_path / "region.parquet"), 3)
    a = catalog.table(spark, str(tmp_path), "region")
    b = catalog.table(spark, str(tmp_path), "region")
    same = spark._jvm.java.lang.System.identityHashCode
    # one file listing serves both calls
    assert same(_relation(a).relation().location()) == same(_relation(b).relation().location())
    assert not _expr_ids(a) & _expr_ids(b)
    assert sorted(map(tuple, b.collect())) == [(0, "R0"), (1, "R1"), (2, "R2")]


def test_dataframe_self_join_of_two_table_calls(spark, oracle_dir):
    """Both sides reuse one kept relation; their own expression ids keep the
    join condition from comparing a column with itself."""
    from sensql_presto_spark.testing import duckdb_connection

    a = catalog.table(spark, oracle_dir, "region")
    b = catalog.table(spark, oracle_dir, "region")
    got = a.join(b, a.r_regionkey == b.r_regionkey + 1).select(a.r_name, b.r_name.alias("prev"))
    con = duckdb_connection(oracle_dir)
    try:
        want = con.sql(
            "SELECT a.r_name, b.r_name FROM region a JOIN region b "
            "ON a.r_regionkey = b.r_regionkey + 1"
        ).fetchall()
    finally:
        con.close()
    assert len(want) == 4
    assert sorted(map(tuple, got.collect())) == sorted(want)


def test_rewritten_file_under_a_kept_relation_returns_the_new_rows(spark, tmp_path):
    """Fault injection with the schema unchanged. The new file is longer and
    has many row groups: a relation still holding the old file listing
    splits it at the old length and misses rows."""
    path = str(tmp_path / "region.parquet")
    _write_region(path, 2)
    assert catalog.table(spark, str(tmp_path), "region").count() == 2
    assert catalog.table(spark, str(tmp_path), "region").count() == 2
    _write_region(path, 3000, row_group_size=100)
    again = catalog.table(spark, str(tmp_path), "region")
    assert sorted(r.r_regionkey for r in again.collect()) == list(range(3000))


def test_part_file_added_to_a_table_directory_is_seen(spark, tmp_path):
    # fault injection: the kept relation's file listing misses the new part
    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    _write_region(str(table_dir / "part-0.parquet"), 2)
    assert catalog.table(spark, str(tmp_path), "region").count() == 2
    assert catalog.table(spark, str(tmp_path), "region").count() == 2
    pq.write_table(pa.table({"r_regionkey": [7], "r_name": ["R7"]}), str(table_dir / "part-1.parquet"))
    again = catalog.table(spark, str(tmp_path), "region")
    assert sorted(r.r_regionkey for r in again.collect()) == [0, 1, 7]


def test_kept_relation_is_never_handed_to_another_session(spark, tmp_path):
    _write_region(str(tmp_path / "region.parquet"), 3)
    one, two = spark.newSession(), spark.newSession()
    a = catalog.table(one, str(tmp_path), "region")
    catalog.table(one, str(tmp_path), "region")
    b = catalog.table(two, str(tmp_path), "region")
    same = spark._jvm.java.lang.System.identityHashCode
    assert same(_relation(a).relation().location()) != same(_relation(b).relation().location())
    assert _relation(b).relation().sparkSession().equals(two._jsparkSession)
    assert b.sparkSession is two
    assert b.count() == 3


# --- Registered views follow the same version rule. ------------------------


def _scale_dir(tmp_path, smoke_dir) -> str:
    """A scale dir whose tables link to ``smoke_dir``'s, except region,
    which the test writes."""
    for name in catalog.TABLES:
        if name != "region":
            os.symlink(os.path.join(smoke_dir, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_views_see_a_part_file_added_to_a_table_directory(spark, tmp_path, smoke_dir):
    """Fault injection: a part file lands in a directory-backed table after
    its view was registered. A ``table`` call in between re-reads the kept
    relation, so the views must keep their own versions."""
    sf_dir = _scale_dir(tmp_path, smoke_dir)
    table_dir = tmp_path / "region.parquet"
    table_dir.mkdir()
    _write_region(str(table_dir / "part-0.parquet"), 2)
    session = spark.newSession()

    def count() -> int:
        return catalog.sql(session, sf_dir, "SELECT count(*) FROM region").first()[0]

    assert count() == 2
    assert count() == 2
    pq.write_table(pa.table({"r_regionkey": [7], "r_name": ["R7"]}), str(table_dir / "part-1.parquet"))
    assert catalog.table(session, sf_dir, "region").count() == 3
    assert count() == 3


def test_views_see_a_rewritten_table_file(spark, tmp_path, smoke_dir):
    """Fault injection with the schema unchanged: the new file is longer and
    has many row groups, so a view still holding the old file listing
    splits it at the old length and misses rows."""
    sf_dir = _scale_dir(tmp_path, smoke_dir)
    path = str(tmp_path / "region.parquet")
    _write_region(path, 2)
    session = spark.newSession()

    def keys() -> list[int]:
        rows = catalog.sql(session, sf_dir, "SELECT r_regionkey FROM region").collect()
        return sorted(r[0] for r in rows)

    assert keys() == [0, 1]
    assert keys() == [0, 1]
    _write_region(path, 3000, row_group_size=100)
    assert keys() == list(range(3000))
