"""SenSQL federation rewrite tests — FIXTURES.md §4 correctness cases.

The end-to-end federated results are value-checked against DuckDB by the
oracle harness (sensql_federated_* entries); these tests pin the rewrite
mechanics the reference implements in SenSQLModule.java.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time
from collections import Counter
from functools import reduce

import pytest
from pyspark.sql import DataFrame

from sensql_presto_spark.queries.sensql_suite import FEATURES, NODES, SHAPES, build_engine
from sensql_presto_spark.sensql import FederatedEngine, MetadataDB, geometry, rewrite
from sensql_presto_spark.testing import duckdb_connection

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))  # bench.py

WHERE = (
    "st_intersects(shape.geometries, nodes.service_region) "
    "AND feature.name = 'downtown' AND shape.id = feature.shape "
    "AND measurements.value > 10"
)


def test_residual_where_keeps_measurement_predicates():
    # checkCond:280 — feature/shape/node-mentioning conjuncts consumed
    assert rewrite.build_residual_where(WHERE) == "measurements.value > 10"


def test_residual_where_collapses_to_true():
    meta_only = "feature.name = 'downtown' AND shape.id = feature.shape"
    assert rewrite.build_residual_where(meta_only) is None


def test_forward_query_drops_measurement_predicates():
    fwd = rewrite.build_forward_query(WHERE)
    assert "measurements.value" not in fwd
    assert "feature.name = 'downtown'" in fwd
    assert fwd.startswith(rewrite.FORWARD_PREFIX)
    assert fwd.endswith("group by nodes.id")


def test_process_from_strips_metadata_tables():
    # processFrom:185 — joined feature/shape stripped, measurement table kept
    assert rewrite.process_from("measurements, feature, shape") == "measurements"
    assert rewrite.process_from("measurements, feature") == "measurements"
    with pytest.raises(ValueError):
        rewrite.process_from("feature, shape")


def test_or_tree_collapse_semantics():
    # processWhere:210 — children are recursed before the operator check, so
    # removed leaves become literals and the both-literal branch returns TRUE
    # for AND *and* OR (the operator-sensitive branch at :244-251 is
    # unreachable in practice); a half-consumed OR keeps the other side.
    tree = rewrite.parse_where("feature.name = 'a' OR shape.id = 1")
    assert rewrite.render(rewrite.process_where(tree, rewrite.check_cond)) == "TRUE"
    tree2 = rewrite.parse_where("value > 1 OR feature.name = 'a'")
    assert rewrite.render(rewrite.process_where(tree2, rewrite.check_cond)) == "value > 1"


def test_between_stays_one_leaf():
    node = rewrite.parse_where("value BETWEEN 1 AND 5 AND feature.name = 'x'")
    assert rewrite.build_residual_where("value BETWEEN 1 AND 5 AND feature.name = 'x'") == (
        "value BETWEEN 1 AND 5"
    )
    assert isinstance(node, rewrite.BoolOp)


def test_geometry_intersects():
    square = "POLYGON ((0 0, 10 0, 10 10, 0 10))"
    assert geometry.st_intersects("POINT (5 5)", square)
    assert not geometry.st_intersects("POINT (15 5)", square)
    assert geometry.st_intersects(square, "POLYGON ((5 5, 15 5, 15 8, 5 8))")
    assert not geometry.st_intersects(square, "POLYGON ((11 11, 12 11, 12 12, 11 12))")
    assert geometry.st_contains(square, "POLYGON ((1 1, 2 1, 2 2, 1 2))")
    assert geometry.st_distance("POINT (0 0)", "POINT (3 4)") == 5.0


def test_union_all_preserves_multiplicity(spark, smoke_dir):
    # Union(…, Optional.of(false)) = UNION ALL (SenSQLModule.java:170)
    engine = build_engine(spark, smoke_dir)
    df = engine.sql(
        """
        SELECT count(*) AS n FROM measurements, feature, shape
        WHERE st_intersects(shape.geometries, nodes.service_region)
          AND shape.id = feature.shape AND feature.name = 'downtown'
        """
    )
    total = df.collect()[0].n
    a = engine.node_catalogs["node_a"]().count()
    b = engine.node_catalogs["node_b"]().count()
    assert total == a + b


def test_unresolvable_metadata_raises(spark, smoke_dir):
    engine = build_engine(spark, smoke_dir)
    with pytest.raises(ValueError, match="no nodes match"):
        engine.sql(
            """
            SELECT count(*) AS n FROM measurements, feature, shape
            WHERE st_intersects(shape.geometries, nodes.service_region)
              AND shape.id = feature.shape AND feature.name = 'nowhere'
            """
        )


def test_brace_literals_survive_the_statement_scoped_fanout(spark, smoke_dir):
    """The residual query names the fan-out through a {name} slot; brace
    literals in the user's head, residual WHERE and tail stay literals,
    '{fanout}' included."""
    engine = build_engine(spark, smoke_dir)
    rows = engine.sql(
        """
        SELECT '{tag}' AS tag, count(*) AS n FROM measurements, feature, shape
        WHERE st_intersects(shape.geometries, nodes.service_region)
          AND shape.id = feature.shape AND feature.name = 'downtown'
          AND concat('{', measurements.sensor, '}') <> '{fanout}'
        GROUP BY 1 HAVING min('{}') = '{}'
        """
    ).collect()
    expected = engine.fanout(["node_a", "node_b"]).where("sensor IS NOT NULL").count()
    assert [(r.tag, r.n) for r in rows] == [("{tag}", expected)]


# --- Resolved node relations: a builder is called again only when it is
#     replaced or the files its relation reads change. ---------------------

DOWNTOWN = (
    "SELECT count(*) AS n, round(sum(value), 4) AS s FROM measurements, feature, shape "
    "WHERE st_intersects(shape.geometries, nodes.service_region) "
    "AND shape.id = feature.shape AND feature.name = 'downtown'"
)


def _count_calls(engine: FederatedEngine) -> Counter:
    """Wrap every node builder of ``engine`` to count its calls."""
    calls = Counter()
    lock = threading.Lock()

    def counted(name, build):
        def counting():
            with lock:
                calls[name] += 1
            return build()

        return counting

    engine.node_catalogs = {n: counted(n, b) for n, b in engine.node_catalogs.items()}
    return calls


def _write(path, values: list[float]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"sensor": ["s"] * len(values), "value": values}), path)


def _file_engine(spark, paths: dict[str, str]) -> FederatedEngine:
    """An engine over the fixture metadata whose node ``n`` reads ``paths[n]``
    (a parquet file or a directory of them)."""
    from pyspark.sql import functions as F

    def node(name: str):
        return lambda: spark.read.parquet(paths[name]).select(
            F.lit(name).alias("node_id"), "sensor", "value"
        )

    return FederatedEngine(
        spark, MetadataDB(NODES, SHAPES, FEATURES), {name: node(name) for name, _ in NODES}
    )


def _downtown(engine: FederatedEngine) -> tuple:
    return tuple(engine.sql(DOWNTOWN).collect()[0])


def test_repeated_queries_build_each_node_once(spark, smoke_dir):
    engine = build_engine(spark, smoke_dir)
    calls = _count_calls(engine)
    con = duckdb_connection(smoke_dir)
    try:
        for thr in (0, 20, 40, 60, 80):
            got = engine.sql(f"{DOWNTOWN} AND measurements.value > {thr}").collect()[0]
            want = con.sql(
                "SELECT count(*), round(sum(value), 4) FROM events "
                f"WHERE user_id % 4 IN (0, 1) AND value > {thr}"
            ).fetchone()
            assert (got.n, got.s) == pytest.approx(want)
    finally:
        con.close()
    assert calls == {"node_a": 1, "node_b": 1}


def test_rewritten_node_file_returns_the_new_rows(spark, tmp_path):
    paths = {name: str(tmp_path / f"{name}.parquet") for name, _ in NODES}
    for path in paths.values():
        _write(path, [1.0, 2.0])
    engine = _file_engine(spark, paths)
    calls = _count_calls(engine)
    assert _downtown(engine) == (4, 6.0)
    assert _downtown(engine) == (4, 6.0)
    _write(paths["node_b"], [10.0, 20.0, 30.0])
    assert _downtown(engine) == (5, 63.0)
    assert calls == {"node_a": 1, "node_b": 2}


def test_part_file_added_to_a_node_directory_is_seen(spark, tmp_path):
    paths = {}
    for name, _ in NODES:
        os.mkdir(tmp_path / name)
        _write(tmp_path / name / "part-0.parquet", [1.0])
        paths[name] = str(tmp_path / name)
    engine = _file_engine(spark, paths)
    calls = _count_calls(engine)
    assert _downtown(engine) == (2, 2.0)
    _write(tmp_path / "node_a" / "part-1.parquet", [5.0, 7.0])
    assert _downtown(engine) == (4, 14.0)
    assert _downtown(engine) == (4, 14.0)
    assert calls == {"node_a": 2, "node_b": 1}


def test_nodes_without_input_versions_are_built_on_every_fanout(spark, tmp_path):
    """A nondeterministic node and one over a non-file leaf (``range``) have
    no input versions, so nothing is kept for them."""
    path = str(tmp_path / "n.parquet")
    _write(path, [1.0, 2.0, 3.0])
    engine = FederatedEngine(
        spark,
        MetadataDB(NODES, SHAPES, FEATURES),
        {
            "node_a": lambda: spark.read.parquet(path).selectExpr(
                "'node_a' AS node_id", "sensor", "value + rand() AS value"
            ),
            "node_b": lambda: spark.range(4).selectExpr(
                "'node_b' AS node_id", "'s' AS sensor", "CAST(id AS DOUBLE) AS value"
            ),
        },
    )
    calls = _count_calls(engine)
    for _ in range(3):
        assert _downtown(engine)[0] == 7
    assert calls == {"node_a": 3, "node_b": 3}


def test_replaced_node_builder_takes_effect_on_the_next_query(spark, tmp_path):
    paths = {name: str(tmp_path / f"{name}.parquet") for name, _ in NODES}
    for path in paths.values():
        _write(path, [1.0, 2.0])
    engine = _file_engine(spark, paths)
    assert _downtown(engine) == (4, 6.0)
    other = str(tmp_path / "other.parquet")
    _write(other, [100.0])
    engine.node_catalogs["node_a"] = lambda: spark.read.parquet(other).selectExpr(
        "'node_a' AS node_id", "sensor", "value"
    )
    assert _downtown(engine) == (3, 103.0)


def test_self_join_of_two_fanouts_over_reused_nodes(spark, smoke_dir):
    """Both sides carry the same resolved plans, expression ids included;
    the analyzer tells them apart as it does for any SQL self-join."""
    engine = build_engine(spark, smoke_dir)
    ids = ["node_a", "node_b"]
    engine.fanout(ids)
    n = engine.spark.sql(
        "SELECT count(*) AS n FROM {a} x JOIN {b} y "
        "ON x.node_id = y.node_id AND x.sensor = y.sensor AND x.value = y.value",
        a=engine.fanout(ids),
        b=engine.fanout(ids),
    ).collect()[0].n
    con = duckdb_connection(smoke_dir)
    try:
        want = con.sql(
            "WITH m AS (SELECT user_id % 4 AS node, event_type, value FROM events "
            "WHERE user_id % 4 IN (0, 1)) "
            "SELECT count(*) FROM m x JOIN m y "
            "ON x.node = y.node AND x.event_type = y.event_type AND x.value = y.value"
        ).fetchone()[0]
    finally:
        con.close()
    assert n == want


def test_concurrent_queries_share_one_engine(spark, smoke_dir):
    """The node table has no lock: racing misses build twice, and every
    query still reads the right rows from whichever build it got. The
    metadata lookups run side by side too (one shared DuckDB connection
    hung here)."""
    engine = build_engine(spark, smoke_dir)
    calls = _count_calls(engine)
    con = duckdb_connection(smoke_dir)
    try:
        want = con.sql("SELECT count(*) FROM events WHERE user_id % 4 IN (0, 1)").fetchone()[0]
    finally:
        con.close()
    counts, errors = [], []

    def work():
        try:
            for _ in range(3):
                counts.append(engine.sql(DOWNTOWN).collect()[0].n)
        except Exception as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=work, daemon=True) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        deadline = time.monotonic() + 300
        for t in threads:
            t.join(timeout=max(0.0, deadline - time.monotonic()))
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    if errors:
        raise errors[0]
    assert counts == [want] * 24
    assert set(calls) == {"node_a", "node_b"} and all(1 <= c <= 8 for c in calls.values())
    before = dict(calls)
    assert engine.sql(DOWNTOWN).collect()[0].n == want
    assert calls == before


def test_resolved_node_without_a_catalog_is_named_before_any_build(spark, smoke_dir):
    engine = build_engine(spark, smoke_dir)
    del engine.node_catalogs["node_b"]
    calls = _count_calls(engine)
    with pytest.raises(ValueError, match=r"no node catalog for resolved node ids \['node_b'\]"):
        engine.sql(DOWNTOWN)
    assert not calls


# --- The registry entries' kept engine. ------------------------------------


def _write_events(path, user_ids: list[int], values: list[float], row_group_size: int = None) -> None:
    """An ``events`` file with the columns the SenSQL nodes read."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2024, 1, 1)
    pq.write_table(
        pa.table({
            "user_id": pa.array(user_ids, pa.int64()),
            "ts": pa.array([ts] * len(user_ids), pa.timestamp("us")),
            "event_type": ["e"] * len(user_ids),
            "value": values,
        }),
        path,
        row_group_size=row_group_size,
    )


def test_registry_builds_share_one_kept_engine(spark, smoke_dir):
    import pandas as pd

    from sensql_presto_spark.queries import get
    from sensql_presto_spark.queries.sensql_suite import kept_engine
    from sensql_presto_spark.testing import assert_frames_match

    session = spark.newSession()
    engine = kept_engine(session, smoke_dir)
    assert kept_engine(session, smoke_dir) is engine
    assert build_engine(session, smoke_dir) is not engine
    assert kept_engine(spark, smoke_dir) is not engine
    engine = kept_engine(session, smoke_dir)
    calls = _count_calls(engine)
    spec = get("sensql_federated_agg")
    con = duckdb_connection(smoke_dir)
    try:
        want = con.sql(spec.oracle).df()
    finally:
        con.close()
    for _ in range(2):
        df = spec.build(session, smoke_dir)
        assert_frames_match(pd.DataFrame([tuple(r) for r in df.collect()], columns=df.columns), want)
    assert calls == {"node_a": 1, "node_b": 1}


def test_events_rewritten_between_registry_builds_returns_the_new_rows(spark, tmp_path):
    """Fault injection: the kept engine's node relations and the catalog's
    kept ``events`` relation hold the old file listing, which splits the
    longer new file at the old length and misses rows."""
    from sensql_presto_spark.queries import get

    path = str(tmp_path / "events.parquet")
    spec = get("sensql_federated_single_node")
    _write_events(path, [2, 3, 6], [1.0, 5.0, 3.0])
    assert tuple(spec.build(spark, str(tmp_path)).collect()[0]) == (2, 2.0)
    assert tuple(spec.build(spark, str(tmp_path)).collect()[0]) == (2, 2.0)
    ids = list(range(3000))
    _write_events(path, ids, [float(i) for i in ids], row_group_size=100)
    node_c = [i for i in ids if i % 4 == 2]
    want = (len(node_c), round(sum(node_c) / len(node_c), 4))
    assert tuple(spec.build(spark, str(tmp_path)).collect()[0]) == want


# --- Slices of one source: one shared scan, the union's rows. --------------


def _events_engine(spark, sf_dir: str, n: int) -> FederatedEngine:
    """Nodes ``s00``..: node ``i`` is ``events`` with ``user_id % 32 = i``."""
    from pyspark.sql import functions as F

    from sensql_presto_spark import catalog

    def node(i: int):
        return lambda: catalog.table(spark, sf_dir, "events").where(
            F.col("user_id") % 32 == i
        ).select(F.lit(f"s{i:02d}").alias("node_id"), "ts", F.col("event_type").alias("sensor"), "value")

    return FederatedEngine(
        spark, MetadataDB(NODES, SHAPES, FEATURES), {f"s{i:02d}": node(i) for i in range(n)}
    )


def _where_engine(spark, path: str, nodes: dict) -> FederatedEngine:
    """Node ``n`` reads the parquet file at ``path`` filtered by
    ``nodes[n][0]``, a Column or SQL text, as ``node_id, id, value`` (or
    the columns in ``nodes[n][1]``)."""

    def node(name, where, columns=("id", "value")):
        return lambda: spark.read.parquet(path).where(where).selectExpr(
            f"'{name}' AS node_id", *columns
        )

    return FederatedEngine(
        spark,
        MetadataDB(NODES, SHAPES, FEATURES),
        {name: node(name, *spec) for name, spec in nodes.items()},
    )


def _write_rows(path, ids: list[int], row_group_size: int = None) -> None:
    """Rows ``id, value = id * 1.5, v, s``: ``v`` and ``s`` cycle through
    0.0/"a", -0.0/"A" and 1.0/"b" with ``id``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = [(0.0, "a"), (-0.0, "A"), (1.0, "b")]
    table = pa.table({
        "id": ids,
        "value": [i * 1.5 for i in ids],
        "v": [keys[i % 3][0] for i in ids],
        "s": [keys[i % 3][1] for i in ids],
    })
    pq.write_table(table, path, row_group_size=row_group_size)


def _scans(engine: FederatedEngine, ids) -> int:
    from bench import canonical_plan

    return len(re.findall(r"FileScan parquet ", canonical_plan(engine.spark, engine.fanout(ids))))


def _union_rows(engine: FederatedEngine, ids) -> list:
    """The explicit UNION ALL of fresh builds of the nodes ``ids``."""
    return sorted(reduce(DataFrame.unionAll, [engine.node_catalogs[n]() for n in ids]).collect())


@pytest.mark.parametrize("n", [2, 4, 32])
def test_slices_of_one_file_share_one_scan_with_pushdown(spark, smoke_dir, n):
    """``n`` slices of ``events`` are one scan carrying the residual and the
    key IN/INSET, with the union's schema and rows; the second statement
    reads the kept fan-out."""
    from bench import canonical_plan

    engine = _events_engine(spark, smoke_dir, n)
    ids = sorted(engine.node_catalogs)
    query = "SELECT * FROM {m} WHERE value > {thr}"
    engine.spark.sql(query, m=engine.fanout(ids), thr=10).collect()
    df = engine.spark.sql(query, m=engine.fanout(ids), thr=30)
    scans = re.findall(r"FileScan parquet .*", canonical_plan(engine.spark, df))
    assert len(scans) == 1
    filters = re.search(r"DataFilters: \[([^\]]*)\]", scans[0]).group(1)
    assert "(value# > 30.0)" in filters, scans[0]
    assert re.search(r"\(user_id# % 32\) (IN \(|INSET )", filters), scans[0]
    union = reduce(DataFrame.unionAll, [engine.node_catalogs[i]() for i in ids])
    assert engine.fanout(ids).schema == union.schema
    assert sorted(df.collect()) == sorted(union.where("value > 30").collect())


def test_slices_keep_the_union_rows_against_duckdb(spark, smoke_dir):
    engine = _events_engine(spark, smoke_dir, 32)
    ids = ["s03", "s07", "s08", "s21"]
    got = engine.spark.sql(
        "SELECT node_id, count(*) AS n, round(sum(value), 4) AS s FROM {m} GROUP BY node_id",
        m=engine.fanout(ids),
    ).collect()
    con = duckdb_connection(smoke_dir)
    try:
        want = con.sql(
            "SELECT 's' || lpad(CAST(user_id % 32 AS VARCHAR), 2, '0'), count(*), "
            "round(sum(value), 4) FROM events WHERE user_id % 32 IN (3, 7, 8, 21) GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    assert sorted((r.node_id, r.n, r.s) for r in got) == pytest.approx(sorted(want))
    assert _scans(engine, ids) == 1


def test_new_bigint_key_set_compiles_no_code(spark, smoke_dir):
    """The group's key test holds its value set by reference, so a statement
    over another 2-node set reuses the first statement's compiled code."""
    engine = _events_engine(spark, smoke_dir, 32)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    query = "SELECT sensor, count(*) AS n, round(sum(value), 4) AS s FROM {m} GROUP BY sensor"
    con = duckdb_connection(smoke_dir)
    try:
        for keys, compiles in (((3, 7), None), ((12, 25), 0)):
            before = compiled.getCount()
            got = engine.spark.sql(query, m=engine.fanout([f"s{i:02d}" for i in keys])).collect()
            if compiles is not None:
                assert compiled.getCount() - before == compiles
            want = con.sql(
                "SELECT event_type, count(*), round(sum(value), 4) FROM events "
                f"WHERE user_id % 32 IN {keys} GROUP BY 1"
            ).fetchall()
            assert sorted(map(tuple, got)) == pytest.approx(sorted(want))
            assert _scans(engine, [f"s{i:02d}" for i in keys]) == 1
    finally:
        con.close()


def test_nodes_with_one_key_value_return_each_row_once_per_node(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write_rows(path, list(range(12)))
    engine = _where_engine(
        spark,
        path,
        {"n0": ("id % 3 = 0",), "n1": ("id % 3 = 1",), "n2": ("id % 3 = 1",)},
    )
    for ids in (["n0", "n1", "n2"], ["n1", "n2"]):
        got = sorted(engine.fanout(ids).collect())
        assert got == _union_rows(engine, ids)
        assert _scans(engine, ids) == 2
    assert len(got) == 8


def test_nodes_with_different_key_expressions_stay_separate(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write_rows(path, list(range(12)))
    engine = _where_engine(spark, path, {"n0": ("id % 4 = 1",), "n1": ("id % 2 = 0",)})
    ids = ["n0", "n1"]
    assert sorted(engine.fanout(ids).collect()) == _union_rows(engine, ids)
    assert _scans(engine, ids) == 2


def test_keys_whose_distinct_literals_match_the_same_rows_stay_separate(spark, tmp_path):
    """Double ``0.0`` and ``-0.0``, and UTF8_LCASE ``'a'`` and ``'A'``: each
    node matches the other's rows too, so the union holds them twice."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    _write_rows(path, list(range(9)))
    lcase = F.collate(F.col("s"), "UTF8_LCASE")
    for nodes in (
        {"n0": (F.col("v") == 0.0,), "n1": (F.col("v") == -0.0,)},
        {"n0": (lcase == "a",), "n1": (lcase == "A",)},
    ):
        engine = _where_engine(spark, path, nodes)
        got = sorted(engine.fanout(["n0", "n1"]).collect())
        assert got == _union_rows(engine, ["n0", "n1"])
        assert len(got) == 12
        assert _scans(engine, ["n0", "n1"]) == 2


def test_node_with_another_column_expression_stays_outside_the_group(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write_rows(path, list(range(12)))
    engine = _where_engine(
        spark,
        path,
        {
            "n0": ("id % 3 = 0",),
            "n1": ("id % 3 = 1", ("id", "value * 2 AS value")),
            "n2": ("id % 3 = 2",),
        },
    )
    ids = ["n0", "n1", "n2"]
    got = sorted(engine.fanout(ids).collect())
    assert got == _union_rows(engine, ids)
    assert sum(r.value for r in got) == pytest.approx(1.5 * (sum(range(12)) + sum(range(1, 12, 3))))
    assert _scans(engine, ids) == 2


def test_rewritten_shared_file_returns_the_new_rows(spark, tmp_path):
    """The new file is longer and has many row groups: a plan still holding
    the old file listing splits it at the old length and misses rows."""
    path = str(tmp_path / "t.parquet")
    _write_rows(path, list(range(12)))
    engine = _where_engine(spark, path, {f"n{i}": (f"id % 3 = {i}",) for i in range(3)})
    ids = ["n0", "n1", "n2"]
    assert len(engine.fanout(ids).collect()) == 12
    _write_rows(path, list(range(100, 3100)), row_group_size=100)
    got = sorted(engine.fanout(ids).collect())
    assert got == _union_rows(engine, ids)
    assert sorted(r.id for r in got) == list(range(100, 3100))
    assert _scans(engine, ids) == 1


def test_node_pointed_at_another_file_leaves_the_group(spark, tmp_path):
    path, other = str(tmp_path / "t.parquet"), str(tmp_path / "o.parquet")
    _write_rows(path, list(range(12)))
    _write_rows(other, list(range(50, 62)))
    engine = _where_engine(spark, path, {f"n{i}": (f"id % 3 = {i}",) for i in range(3)})
    ids = ["n0", "n1", "n2"]
    assert _scans(engine, ids) == 1
    engine.node_catalogs["n1"] = lambda: spark.read.parquet(other).where("id % 3 = 1").selectExpr(
        "'n1' AS node_id", "id", "value"
    )
    got = sorted(engine.fanout(ids).collect())
    assert got == _union_rows(engine, ids)
    assert sorted(r.id for r in got) == [i for i in range(12) if i % 3 != 1] + [
        i for i in range(50, 62) if i % 3 == 1
    ]
    assert _scans(engine, ids) == 2


def test_node_whose_constant_fails_raises_when_the_statement_runs(spark, tmp_path):
    """Reading the slice folds constants; a node's ``1 / 0`` fails there,
    and that node is left ungrouped so the error comes from the statement,
    as it does for a union. Building the fan-out logs no ERROR: PySpark
    logs each JVM error it converts with its query context, and this one
    is expected and handled."""
    import logging

    from pyspark.errors import ArithmeticException
    from pyspark.logger import PySparkLogger
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    _write_rows(path, list(range(6)))
    engine = _where_engine(spark, path, {"n0": ("id % 3 = 0",), "n1": (F.col("id") == F.lit(1) / 0,)})
    errors = []
    handler = logging.Handler(logging.ERROR)
    handler.emit = errors.append
    loggers = [logging.getLogger()] + [
        PySparkLogger.getLogger(name) for name in ("DataFrameQueryContextLogger", "SQLQueryContextLogger")
    ]
    for logger in loggers:
        logger.addHandler(handler)
    try:
        df = engine.fanout(["n0", "n1"])
    finally:
        for logger in loggers:
            logger.removeHandler(handler)
    assert [r.getMessage() for r in errors] == []
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        df.collect()
