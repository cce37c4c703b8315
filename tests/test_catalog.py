"""Catalog schema resolution: one inference job per table file version.

Job counts come from a Spark job group read back through the status
tracker after the listener bus has drained (the status store is fed
asynchronously, so an undrained read would undercount).
"""

from __future__ import annotations

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


def _write_region(path: str, n: int, comment: bool = False) -> None:
    cols = {"r_regionkey": list(range(n)), "r_name": [f"R{i}" for i in range(n)]}
    if comment:
        cols["r_comment"] = [f"c{i}" for i in range(n)]
    pq.write_table(pa.table(cols), path)


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
