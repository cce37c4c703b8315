"""SenSQL federation rewrite tests — FIXTURES.md §4 correctness cases.

The end-to-end federated results are value-checked against DuckDB by the
oracle harness (sensql_federated_* entries); these tests pin the rewrite
mechanics the reference implements in SenSQLModule.java.
"""

from __future__ import annotations

import pytest

from sensql_presto_spark.queries.sensql_suite import build_engine
from sensql_presto_spark.sensql import geometry, rewrite

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


def test_union_all_preserves_multiplicity(spark):
    # Union(…, Optional.of(false)) = UNION ALL (SenSQLModule.java:170)
    engine = build_engine(spark, "/root/testdata/sf0.001")
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


def test_unresolvable_metadata_raises(spark):
    engine = build_engine(spark, "/root/testdata/sf0.001")
    with pytest.raises(ValueError, match="no nodes match"):
        engine.sql(
            """
            SELECT count(*) AS n FROM measurements, feature, shape
            WHERE st_intersects(shape.geometries, nodes.service_region)
              AND shape.id = feature.shape AND feature.name = 'nowhere'
            """
        )


def test_brace_literals_survive_the_statement_scoped_fanout(spark):
    """The residual query names the fan-out through a {name} slot; brace
    literals in the user's head, residual WHERE and tail stay literals,
    '{fanout}' included."""
    engine = build_engine(spark, "/root/testdata/sf0.001")
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
