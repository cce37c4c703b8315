"""Statement-scoped relations: the engine names a DataFrame inside SQL only
through ``spark.sql(text, **dataframes)`` ``{name}`` slots, which PySpark
registers for the one statement and drops after it. The only session temp
views left are ones a user can name: catalog tables and
information_schema, materialized views, CREATE VIEW and the transaction
shadow of a staged table."""

from __future__ import annotations

import ast
import re
import shutil
from collections import Counter
from pathlib import Path
from urllib.parse import urlparse

PKG = Path(__file__).resolve().parents[1] / "sensql_presto_spark"
SF = "/root/testdata/sf0.001"

_REGISTRATION = re.compile(
    r"\.create(?:OrReplace)?(?:Global)?TempView\("
    r"|\bCREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+)?TEMP(?:ORARY)?\s+VIEW\b",
    re.IGNORECASE,
)

# (file, enclosing function) -> number of temp-view registrations in it
_ALLOWED = Counter(
    {
        ("catalog.py", "register_views"): 1,
        ("catalog.py", "_register_information_schema"): 2,
        ("matview.py", "MaterializedViewStore._register"): 1,
        ("statements.py", "StatementSession.execute"): 1,  # CREATE VIEW
        ("statements.py", "StatementSession._txn_stage"): 1,  # txn shadow
    }
)


def _enclosing_function(tree: ast.Module, lineno: int) -> str | None:
    """The module-level function or ``Class.method`` holding ``lineno``."""
    for node in tree.body:
        prefix, defs = "", [node]
        if isinstance(node, ast.ClassDef):
            prefix, defs = f"{node.name}.", node.body
        for d in defs:
            if isinstance(d, ast.FunctionDef) and d.lineno <= lineno <= d.end_lineno:
                return prefix + d.name
    return None


def test_only_user_nameable_temp_views_are_registered():
    found: Counter = Counter()
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        for m in _REGISTRATION.finditer(src):
            lineno = src.count("\n", 0, m.start()) + 1
            fn = _enclosing_function(tree, lineno)
            found[(str(path.relative_to(PKG)), fn)] += 1
    assert found == _ALLOWED


def _temp_views(spark) -> list[str]:
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


_BUILDERS = (
    "dedup_semantic",
    "dedup_bloom_prefilter",
    "text_phrase_search",
    "sim_knn_join",
    "sim_nn_descent_round",
    "cluster_snn_knn",
    "text_dsir_weights",
    "sim_two_stage_prefix_rerank",
    "text_winnowing_dedup",
    "text_heavy_hitters",
    "text_bpe_train_rounds",
    "text_bpe_encode",
    "text_ngram_novelty",
    "text_lang_confusion",
    "sensql_federated_agg",
    "sensql_knn_federated",
)


def test_builders_merge_and_refresh_leave_the_temp_view_list_unchanged(spark):
    """A fresh session's temp views after set-up (catalog tables, one
    matview, one managed table) are the same after building the entries
    that stage relations for SQL, one MERGE and one REFRESH ... WHERE."""
    from sensql_presto_spark import catalog
    from sensql_presto_spark.queries import all_specs
    from sensql_presto_spark.statements import StatementSession

    session = spark.newSession()
    sess = StatementSession(session, SF)
    wh = urlparse(session.conf.get("spark.sql.warehouse.dir")).path
    table = "t_scope_merge"
    session.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    catalog.register_views(session, SF)
    sess.execute(f"CREATE TABLE {table} AS SELECT n_nationkey, n_name FROM nation")
    sess.execute(
        "CREATE OR REPLACE MATERIALIZED VIEW mv_scope AS "
        "SELECT n_regionkey AS r, count(*) AS n FROM nation GROUP BY n_regionkey"
    )
    try:
        before = _temp_views(session)
        specs = all_specs()
        for name in _BUILDERS:
            specs[name].build(session, SF)
        merged = sess.execute(
            f"MERGE INTO {table} t USING (SELECT n_nationkey, upper(n_name) AS nm "
            "FROM nation WHERE n_nationkey < 3) s ON t.n_nationkey = s.n_nationkey "
            "WHEN MATCHED THEN UPDATE SET n_name = s.nm"
        ).collect()
        assert merged[0].rows == 3
        sess.execute("REFRESH MATERIALIZED VIEW mv_scope WHERE r = 1")
        assert _temp_views(session) == before
    finally:
        sess.execute("DROP MATERIALIZED VIEW mv_scope")
        session.sql(f"DROP TABLE IF EXISTS {table}")


_STREAMING = (
    "events_streaming_tumbling",
    "events_streaming_sessions",
    "events_streaming_stateful",
    "events_streaming_dedup",
    "events_streaming_interval_join",
)


def test_streaming_memory_sinks_leave_the_temp_view_list_unchanged(spark):
    """A memory sink registers its rows as a temp view under the query's
    name; the builders read it and drop the view, and what they return
    still reads the rows."""
    from sensql_presto_spark import catalog
    from sensql_presto_spark.queries import all_specs

    session = spark.newSession()
    catalog.register_views(session, SF)
    before = _temp_views(session)
    specs = all_specs()
    built = [specs[name].build(session, SF) for name in _STREAMING]
    assert _temp_views(session) == before
    assert all(df.count() > 0 for df in built)
