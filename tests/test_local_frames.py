"""Rows the engine makes itself (statement acks, SHOW/DESCRIBE/EXPLAIN
output and information_schema) come from ``catalog.local_frame``: the same
schema and rows as ``spark.createDataFrame(rows, ddl)``, but as an Arrow
``LocalRelation``, so collecting them starts no Spark job and no Python
worker."""

from __future__ import annotations

import ast
import uuid
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "sensql_presto_spark"
SF = "/root/testdata/sf0.001"


def _create_dataframe_calls() -> list[tuple[str, str | None]]:
    """(file, enclosing function) of every ``createDataFrame(...)`` call."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        stack: list[str] = []

        def visit(node: ast.AST) -> None:
            named = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            if named:
                stack.append(node.name)
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "createDataFrame":
                    found.append((str(path.relative_to(PKG)), ".".join(stack) or None))
            for child in ast.iter_child_nodes(node):
                visit(child)
            if named:
                stack.pop()

        visit(tree)
    return found


def test_only_local_frame_calls_create_dataframe():
    """A list passed to ``createDataFrame`` becomes a Python RDD whose
    collect starts a Python worker; engine-made rows go through the helper."""
    assert _create_dataframe_calls() == [("catalog.py", "local_frame")]


def _leaves(df) -> set[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}


def _collect_counting_jobs(df):
    """``df.collect()`` and the number of Spark jobs it started."""
    sc = df.sparkSession.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local_frame test")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def made_rows(monkeypatch):
    """Every (rows, ddl) that ``catalog.local_frame`` is called with."""
    from sensql_presto_spark import catalog

    calls: list[tuple[list, str]] = []
    real = catalog.local_frame

    def spy(spark, rows, ddl):
        calls.append((list(rows), ddl))
        return real(spark, rows, ddl)

    monkeypatch.setattr(catalog, "local_frame", spy)
    return calls


def _assert_like_create_dataframe(spark, df, rows, ddl, expected=None):
    """Schema and rows as ``createDataFrame(rows, ddl)`` gives them, one
    ``LocalRelation`` leaf, and a collect that runs no Spark job."""
    reference = spark.createDataFrame(rows, ddl)
    assert df.schema == reference.schema
    assert _leaves(df) == {"LocalRelation"}
    collected, jobs = _collect_counting_jobs(df)
    assert collected == reference.collect()
    assert jobs == 0
    if expected is not None:
        assert [tuple(r) for r in collected] == expected


@pytest.fixture(scope="module")
def sess(spark):
    from sensql_presto_spark.statements import StatementSession

    session = StatementSession(spark.newSession(), SF)
    session.execute("PREPARE lf_p FROM SELECT n_name FROM nation WHERE n_nationkey = ?")
    session.execute("PREPARE lf_none FROM SELECT 1 AS one")
    session.execute("CREATE VIEW lf_v AS SELECT n_name FROM nation")
    session.execute("CREATE ROLE lf_role")
    yield session
    for text in ("DROP VIEW IF EXISTS lf_v", "DROP ROLE lf_role"):
        session.execute(text)


_Q = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"

# (statement, the rows it must return, or None where they depend on the plan
# or on other sessions). Executed in this order on one session.
_STATEMENTS = [
    ("PREPARE lf_q FROM SELECT 1 AS x", [("PREPARE",)]),
    ("DEALLOCATE PREPARE lf_q", [("DEALLOCATE",)]),
    ("DESCRIBE INPUT lf_p", [(0, "unknown")]),
    ("DESCRIBE INPUT lf_none", []),
    ("DESCRIBE OUTPUT lf_p", None),
    ("SHOW CATALOGS", [("spark",)]),
    ("SHOW SCHEMAS", None),
    ("SHOW TABLES LIKE 'n%'", [("nation",)]),
    ("SHOW COLUMNS FROM region", None),
    ("SHOW CREATE TABLE region", None),
    ("SHOW CREATE VIEW lf_v", [("CREATE VIEW lf_v AS\nSELECT n_name FROM nation",)]),
    ("SHOW STATS FOR region", None),
    (f"EXPLAIN (TYPE LOGICAL) {_Q}", None),
    (f"EXPLAIN (TYPE IO) {_Q}", None),
    (f"EXPLAIN (TYPE DISTRIBUTED) {_Q}", None),
    (f"EXPLAIN ANALYZE {_Q}", None),
    (f"EXPLAIN (TYPE VALIDATE) {_Q}", [(True,)]),
    ("SET SESSION join_distribution_type = 'BROADCAST'", [("SET SESSION",)]),
    ("SHOW SESSION", None),
    ("RESET SESSION join_distribution_type", [("RESET SESSION",)]),
    ("GRANT lf_role TO USER admin", [("GRANT ROLE",)]),
    ("SHOW ROLE GRANTS", [("lf_role",)]),
    ("SHOW ROLES", None),
    ("SET ROLE lf_role", [("SET ROLE",)]),
    ("SET ROLE ALL", [("SET ROLE",)]),
    ("GRANT SELECT ON nation TO ROLE lf_role", [("GRANT",)]),
    ("SHOW GRANTS ON nation", None),
    ("REVOKE SELECT ON nation FROM ROLE lf_role", [("REVOKE",)]),
    ("SHOW GRANTS ON TABLE nation", []),
    ("REVOKE lf_role FROM USER admin", [("REVOKE ROLE",)]),
    ("USE spark.default", [("USE",)]),
]


@pytest.mark.parametrize("text, expected", _STATEMENTS, ids=[t for t, _ in _STATEMENTS])
def test_statement_rows_are_local_relations(spark, sess, made_rows, text, expected):
    df = sess.execute(text)
    assert made_rows, f"{text!r} made no rows of its own"
    rows, ddl = made_rows[-1]
    _assert_like_create_dataframe(spark, df, rows, ddl, expected)


def test_information_schema_relations_are_local_relations(spark, made_rows):
    from sensql_presto_spark import catalog

    session = spark.newSession()
    catalog.register_views(session, SF)
    assert len(made_rows) == 2
    for view, (rows, ddl) in zip(
        ("information_schema_tables", "information_schema_columns"), made_rows
    ):
        _assert_like_create_dataframe(spark, session.table(view), rows, ddl)
    tables = [r.table_name for r in session.table("information_schema_tables").collect()]
    assert tables == sorted(catalog.TABLES)
