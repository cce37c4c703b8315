"""bench.py's plan fingerprint depends on the plan, not on session history."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _push_expr_ids_past_digit_boundary(spark) -> None:
    """Allocate expression ids until the next id has one digit more, as a
    session that ran much other work first would have."""
    jvm = spark._jvm
    new_id = jvm.org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId
    # each toAttributes call allocates one fresh id per field, in the JVM
    wide = jvm.org.apache.spark.sql.types.StructType.fromDDL(
        ", ".join(f"c{i} INT" for i in range(10_000))
    )
    to_attributes = jvm.org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
    boundary = 10 ** len(str(new_id().id()))
    while new_id().id() < boundary:
        to_attributes(wide)


def test_fingerprint_ignores_expression_id_digit_counts(spark, oracle_dir):
    from sensql_presto_spark.queries import all_specs

    specs = all_specs()
    names = ("tpch_q15", "tpch_q07")

    def fingerprints() -> dict[str, str]:
        for name in names:
            bench._capture_fingerprint(spark, name, specs[name].build(spark, oracle_dir))
        return {name: bench._PLAN_FPS.pop(name)["fp"] for name in names}

    limit = spark.conf.get("spark.sql.maxMetadataStringLength")
    # start on a digit boundary so the first plans' ids share one digit count
    _push_expr_ids_past_digit_boundary(spark)
    before = fingerprints()
    _push_expr_ids_past_digit_boundary(spark)
    after = fingerprints()

    assert "error" not in before.values()
    assert after == before
    assert spark.conf.get("spark.sql.maxMetadataStringLength") == limit
